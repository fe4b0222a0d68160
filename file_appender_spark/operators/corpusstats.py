"""Materialized corpus token statistics — the shared
tokenize → explode → groupBy(token) prefix that ~40 of the text
queries each rebuild from scratch (r6 verdict task 5).

At 100 TB the corpus scan dominates every token-marginal query; a
production pipeline materializes the (source, token) term-frequency /
document-frequency table ONCE and maintains it incrementally as new
documents arrive, then answers df/tf/marginal questions from the
(Zipf-small) stats table instead of re-exploding the corpus. This
module is that table:

- `corpus_token_stats` / `corpus_source_stats` — the batch
  definitions (one corpus scan, two map-side-combined aggregations);
- `build_corpus_stats` — materialize both under a store directory,
  tokenizer stamped into a params sidecar (stats built under a
  different tokenizer are incomparable — same guard as the
  signature stores);
- `corpusstats_ingest_batch` — incremental maintenance: per-batch
  partial counts land in a `batch=<id>` partition written with
  overwrite, so a foreachBatch RETRY of the same epoch rewrites the
  same partition instead of double-counting (the standard idempotent
  foreachBatch sink pattern). tf and df are additive across batches
  because each document arrives in exactly one epoch;
- `read_token_stats` / `read_source_stats` — the merged view (one
  groupBy-sum over base + increments);
- `compact_corpus_stats` — fold accumulated increments back into a
  single base partition (crash-safe swap, the neardup_ingest store
  discipline; r11: manifest-layout tables flip with one atomic
  publish instead of the two-rename swap, so the store runs on
  object stores — auto-created there, opt-in via
  `create_manifest_corpusstats` / `migrate_corpusstats_to_manifest`
  elsewhere).

Consumers opt in via their `stats_dir` parameter (q58 TF-IDF, q59
bigram frequencies, q191 bigram-LM model counts, q197 JSD drift,
q212 Dunning G², q231 stopword discovery) — output equivalence with
the scan-everything spelling is pinned in tests/test_corpusstats.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_appender_spark.obs import stage
from file_appender_spark.storefs import (
    TableStore,
    compact_tables,
    create_manifest_tables,
    migrate_tables_to_manifest,
    open_table_store,
    rebuild_table_store,
    store_fs_for,
    table_dir,
    write_table_epoch,
)

# the one tokenizer every text query shares (queries/llm.py's _WS);
# version 2 added the bigram table (a v1 store lacks it, so the
# params guard forces a rebuild rather than failing mid-read)
_TOKENIZER = {"tokenizer": "split_ws", "version": 2, "tables": "token+bigram"}


def _tokens(docs: DataFrame) -> DataFrame:
    from file_appender_spark.queries.llm import _WS

    return docs.select(
        "doc_id", "source", F.explode(F.split("text", _WS)).alias("token")
    )


def corpus_token_stats(docs: DataFrame) -> DataFrame:
    """(source, token, tf, df): total occurrences and distinct-doc
    counts per source — the exact token stream of the q58/q212/q231
    family (split on _WS, empties included). Two aggregations, both
    map-side combined; the (doc_id, token) grain is the only real
    shuffle and it is the same one every consumer pays today."""
    per_doc = (
        _tokens(docs)
        .groupBy("source", "doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf_doc"))
    )
    return per_doc.groupBy("source", "token").agg(
        F.sum("tf_doc").cast("long").alias("tf"),
        F.count("*").cast("long").alias("df"),
    )


def corpus_source_stats(docs: DataFrame) -> DataFrame:
    """(source, n_docs, total_tokens): the per-source marginals the
    consumers' 1-row broadcasts derive from. n_docs counts every row
    (the q58/q231 oracles count(*) over documents, nulls included);
    total_tokens counts what the token table actually holds — a NULL
    text contributes zero tokens, not size(NULL) = -1."""
    from file_appender_spark.queries.llm import _WS

    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.coalesce(F.size(F.split("text", _WS)), F.lit(0)))
        .cast("long")
        .alias("total_tokens"),
    )


def corpus_bigram_stats(docs: DataFrame) -> DataFrame:
    """(source, bigram, tf): adjacent-token pair counts per source —
    the exact bigram stream of the q59/q191 family (space-joined
    adjacent tokens over docs with >= 2 tokens). tf only: no consumer
    needs a bigram document frequency, and the per-doc grain that df
    requires would double the build's shuffle for an unused column."""
    from file_appender_spark.queries.llm import _WS

    w = F.split("text", _WS)
    bg = (
        docs.select("source", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
                )
            ).alias("bigram"),
        )
    )
    return bg.groupBy("source", "bigram").agg(
        F.count("*").cast("long").alias("tf")
    )


class CorpusStatsAdvice:
    """The crossover decision plus the numbers it came from (so bench
    notes and run records can cite evidence, not a bare bool)."""

    __slots__ = ("worthwhile", "stream_tokens", "stats_rows", "compression", "reason")

    def __init__(self, worthwhile, stream_tokens, stats_rows, compression, reason):
        self.worthwhile = worthwhile
        self.stream_tokens = stream_tokens
        self.stats_rows = stats_rows
        self.compression = compression
        self.reason = reason


# Measured anchors (SCALE100_PROBE_r7, warm-vs-warm): the smallest
# corpus where the store measured a real win was the 50M-token Heaps
# corpus (token consumers 1.59x at compression 1.54M/50M = 0.031);
# the linear-vocab generator at the same scale (compression 0.043)
# landed at break-even 0.98x, and the 0.5M-token corpora were
# overhead-dominated either way. The thresholds sit between the
# measured win and break-even points — conservative: a "not
# worthwhile" call costs at most the small measured wins (<=1.15x),
# never the 1.59x one.
_MIN_STREAM_TOKENS = 500_000
_MAX_COMPRESSION = 0.035


def corpusstats_worthwhile(
    stream_tokens: int, stats_rows: int | None = None
) -> CorpusStatsAdvice:
    """Should a pipeline materialize the corpus-stats store, or keep
    the scan-everything spellings? The r7 probe's measured crossover
    as a sized policy (r7 verdict task 7), so callers don't have to
    know the probe: worthwhile iff the token stream is big enough
    that scan cost dominates fixed overhead (>= 500k tokens) AND the
    stats table compresses the stream (rows/tokens <= 0.035 — the
    Heaps regime; a linearly-growing vocabulary measured break-even
    because the stats table stops being smaller than the stream in
    any way that matters).

    ``stats_rows`` is the (source, token) row count — pass the real
    store's count when one exists; when None it is estimated by the
    probe corpus's own Heaps law (V = 30 * tokens^0.6), which callers
    with non-English / code-heavy corpora should override. Note the
    two defaults interact: under the Heaps ESTIMATE, compression
    falls below 0.035 only around ~21.5M tokens, so on the
    estimate-only path the compression test is the binding
    constraint and the 500k floor never is — callers between 500k
    and ~20M tokens get 'not worthwhile' unless they pass a real
    (smaller) ``stats_rows``. That is the conservative direction on
    purpose: the measured 1.59x win (SCALE100_PROBE_r7) was at 50M
    tokens, and misjudging 'worthwhile' costs a wasted store build
    while misjudging 'not' costs at most the small (<=1.15x) wins."""
    if stream_tokens < 0:
        raise ValueError(f"stream_tokens must be >= 0, got {stream_tokens}")
    if stats_rows is None:
        stats_rows = int(30 * stream_tokens**0.6) if stream_tokens else 0
    compression = (stats_rows / stream_tokens) if stream_tokens else 1.0
    if stream_tokens < _MIN_STREAM_TOKENS:
        return CorpusStatsAdvice(
            False,
            stream_tokens,
            stats_rows,
            round(compression, 6),
            f"stream {stream_tokens} tokens < {_MIN_STREAM_TOKENS}: fixed "
            "overhead dominates (the bench-sf regime)",
        )
    if compression > _MAX_COMPRESSION:
        return CorpusStatsAdvice(
            False,
            stream_tokens,
            stats_rows,
            round(compression, 6),
            f"stats table {stats_rows} rows / {stream_tokens} tokens = "
            f"{compression:.3f} > {_MAX_COMPRESSION}: linear-vocab regime, "
            "measured break-even (SCALE100_PROBE_r7)",
        )
    return CorpusStatsAdvice(
        True,
        stream_tokens,
        stats_rows,
        round(compression, 6),
        f"{stream_tokens} tokens compress {compression:.3f} into the stats "
        "table: the measured-win (Heaps) regime",
    )


_STORE = TableStore(
    kind="corpus-stats",
    # the three stats tables; in the MANIFEST layout (r11, lifting the
    # r10 deferral) each carries its own _CURRENT manifest and compaction
    # flips it atomically instead of the two-rename swap — which is what
    # lets the store live on object stores (pairstore.py's discipline)
    tables=("token_stats", "source_stats", "bigram_stats"),
    params_file="_corpusstats_params.json",
    params=lambda stamp: _TOKENIZER,
    mismatch="counts are incomparable; rebuild the store (build_corpus_stats "
    "re-stamps and replaces all tables)",
    rebuild_marker="_corpusstats_rebuilding",
    rebuild_hint="build_corpus_stats",
    migrate_hint="migrate_corpusstats_to_manifest",
    # the ingest path legitimately starts stores
    first_ingest_stamps=True,
)
# each table's batch definition, in _STORE.tables order
_STATS = (corpus_token_stats, corpus_source_stats, corpus_bigram_stats)


def create_manifest_corpusstats(store_dir: str) -> str:
    """Initialize an EMPTY manifest-layout corpus-stats store (layout
    is a creation-time choice): each table gets v1 + a ``_CURRENT``
    manifest. Idempotent and crash-resumable; refuses classic data or
    classic ``.old`` debris (storefs.create_manifest_tables). The
    build/ingest entry points call this automatically when the target
    filesystem lacks atomic directory rename."""
    return create_manifest_tables(_STORE, store_dir)


def migrate_corpusstats_to_manifest(store_dir: str) -> str:
    """Convert a CLASSIC store in place (single-writer window,
    POSIX/HDFS only — where classic stores can exist). RESUMABLE via
    the store-level marker; also sweeps classic debris siblings
    (storefs.migrate_tables_to_manifest has the full contract)."""
    return migrate_tables_to_manifest(_STORE, store_dir)


def build_corpus_stats(
    spark: SparkSession, docs: DataFrame, store_dir: str
) -> None:
    """Materialize the full corpus's stats as the store's `base`
    partition (one corpus scan). Later increments append next to it.

    A (re)build is a FULL baseline: any epoch partitions from a
    previous ingest run are wiped first — `docs` is the whole corpus,
    so leaving old increments behind would double-count every doc
    they cover on the next merged read.

    Cost: three corpus scans (token, source, bigram writes are three
    Spark jobs) — deliberate. Sharing one scan would require caching
    the tokenized corpus (same order of bytes as the corpus itself,
    infeasible at 100 TB) or a position-keyed token table self-join
    for bigrams (a full-stream shuffle that costs more than the
    rescan). Production amortizes the build through the incremental
    path anyway, where each batch is scanned once per table at
    micro-batch size."""

    def write() -> None:
        for name, stats in zip(_STORE.tables, _STATS):
            with stage(spark, "corpusstats.build", name, store=store_dir):
                write_table_epoch(stats(docs), store_dir, name, "base")

    # the shared rebuild protocol (storefs.rebuild_table_store): a
    # rebuild replaces all data, so it RE-STAMPS rather than checks
    # (upgrading a store across tokenizer versions goes through here)
    # — but only AFTER the new tables exist (review finding r8)
    rebuild_table_store(_STORE, store_dir, _TOKENIZER, write)


def corpusstats_ingest_batch(
    spark: SparkSession, batch: DataFrame, store_dir: str, batch_id: int | str
) -> None:
    """Incremental maintenance for one micro-batch of NEW documents
    (each doc in exactly one epoch — the append-only corpus
    contract). Partial (source, token, tf, df) counts are additive
    under that contract, so the merged view needs only a sum. Use as
    `writeStream.foreachBatch(lambda b, i:
    corpusstats_ingest_batch(spark, b, store, i))` — epoch-id
    partition overwrite makes retries idempotent."""
    if str(batch_id) == "base":
        raise ValueError(
            "batch_id 'base' is reserved for build_corpus_stats — an "
            "ingest epoch writing there would clobber the corpus baseline"
        )
    open_table_store(_STORE, store_dir, ingest=True)
    for name, stats in zip(_STORE.tables, _STATS):
        known = {"store": store_dir, "epoch": str(batch_id)}
        with stage(spark, "corpusstats.ingest", name, **known):
            write_table_epoch(stats(batch), store_dir, name, batch_id)


# ---------------------------------------------------------------------------
# Merged-view memoization (r12 verdict item 5, the load_table pattern).
#
# Every consumer of a stats table re-planned the parquet read AND
# re-ran the merge groupBy-sum per action: the bench's 6-consumer
# fan-out paid ~0.4-0.5s of store-read per consumer on a Zipf-SMALL
# table (CSBREAK_r13: read_*_stats noop 0.38-0.47s each; the six
# consumers touch the tables ~10 times). The merged view is a pure
# function of the table's FILES, so it is memoized per (Spark app,
# table dir, file fingerprint) as a lazily-localCheckpoint'ed frame:
# the first consumer's action materializes the (tiny) merged table
# once, every later consumer scans the checkpointed partitions — the
# r12 "sides" single-evaluation pattern applied across consumer
# calls. The fingerprint is the recursive FILE listing: parquet part
# names are write-unique (task UUIDs), so any append (new epoch dir),
# overwrite (new part names), compaction swap or migration changes it
# and the stale entry is dropped. Nothing persists across processes —
# a fresh session always recomputes from the parquet inputs.
# ---------------------------------------------------------------------------

_VIEW_CACHE: dict[tuple, DataFrame] = {}
_VIEW_CACHE_MAX = 24  # tables x stores a session plausibly touches


def _table_fingerprint(store_dir: str, tdir: str) -> tuple:
    fs = store_fs_for(store_dir)
    out: list[str] = []

    def walk(p: str, rel: str) -> None:
        for name in sorted(fs.listdir(p)):
            sub = os.path.join(p, name)
            r = rel + "/" + name
            if fs.isdir(sub):
                walk(sub, r)
            else:
                out.append(r)

    if fs.isdir(tdir):
        walk(tdir, "")
    return tuple(out)


def reset_stats_view_cache() -> None:
    """Drop every memoized merged view. The cached frames are LOCAL
    checkpoints (blocks on executors, no lineage): after an executor
    loss in a long-lived cluster session their actions fail instead
    of recomputing — call this to fall back to fresh reads. Nothing
    in the library calls it: it is the caller's recovery hook."""
    _VIEW_CACHE.clear()


def _merged_view(
    spark: SparkSession, store_dir: str, name: str, keys: tuple, sums: tuple
) -> DataFrame:
    """Table ``name``'s merged view: one groupBy(``keys``)-sum of
    ``sums`` over base + increments, opened through the store's one
    open path (crash recovery, mid-rebuild and params refusal) and
    memoized per file fingerprint (see the block comment above)."""
    with stage(spark, "corpusstats.read", name, store=store_dir):
        open_table_store(_STORE, store_dir)
        d = table_dir(store_dir, name)
        key = (spark.sparkContext.applicationId, d, _table_fingerprint(store_dir, d))
        df = _VIEW_CACHE.get(key)
        if df is None:
            # drop stale fingerprints of the same table before inserting
            for k in [k for k in _VIEW_CACHE if k[:2] == key[:2]]:
                del _VIEW_CACHE[k]
            while len(_VIEW_CACHE) >= _VIEW_CACHE_MAX:
                del _VIEW_CACHE[next(iter(_VIEW_CACHE))]
            df = (
                spark.read.parquet(d)
                .groupBy(*keys)
                .agg(*[F.sum(c).cast("long").alias(c) for c in sums])
                .localCheckpoint(eager=False)
            )
            _VIEW_CACHE[key] = df
    return df


def read_token_stats(spark: SparkSession, store_dir: str) -> DataFrame:
    """(source, token, tf, df): the merged view over base +
    increments — one map-side-combined groupBy-sum of the stats
    table, never of the corpus; memoized per file fingerprint (see
    the block comment above) so repeated consumers share ONE
    materialization. Runs crash recovery first: a read-only consumer
    may be the first process to touch the store after a compaction
    crash, and must not fail on a directory that is one rename from
    healthy."""
    return _merged_view(
        spark, store_dir, "token_stats", ("source", "token"), ("tf", "df")
    )


def read_source_stats(spark: SparkSession, store_dir: str) -> DataFrame:
    return _merged_view(
        spark, store_dir, "source_stats", ("source",), ("n_docs", "total_tokens")
    )


def read_bigram_stats(spark: SparkSession, store_dir: str) -> DataFrame:
    """(source, bigram, tf): merged bigram view — one groupBy-sum of
    the bigram table, memoized like read_token_stats. Same recovery
    discipline.

    Note bigram counts are additive across epochs EXCEPT pairs that
    would span two epochs of one document — impossible under the
    whole-documents-per-epoch contract the ingest declares."""
    return _merged_view(
        spark, store_dir, "bigram_stats", ("source", "bigram"), ("tf",)
    )


def compact_corpus_stats(spark: SparkSession, store_dir: str) -> None:
    """Fold all accumulated epoch partitions into a fresh `base`:
    long-running maintenance otherwise pays ever-growing file listing
    on every read. Writer must be paused (the sequential foreachBatch
    loop is the only writer by design); the per-table swap (two
    renames for classic tables, one atomic manifest publish for
    manifest tables) plus crash recovery makes a crash at any point
    non-destructive. Output files are sized from the store's measured
    bytes (storefs.compact_tables)."""
    # single-writer window invariant: refuse to fold epochs while an
    # ingest epoch write is in flight
    open_table_store(_STORE, store_dir, quiesce=_STORE.tables)
    with stage(spark, "corpusstats.compact", "compact", store=store_dir) as rec:
        rec["files"], rec["manifest_version"] = compact_tables(
            spark,
            store_dir,
            {
                "token_stats": lambda d: read_token_stats(spark, store_dir),
                "source_stats": lambda d: read_source_stats(spark, store_dir),
                "bigram_stats": lambda d: read_bigram_stats(spark, store_dir),
            },
        )
