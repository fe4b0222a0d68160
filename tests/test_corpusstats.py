"""Materialized corpus token stats (operators/corpusstats.py) — the
shared tokenize->explode->groupBy prefix as a maintained table.

Pins: (1) output equivalence of the three rewired consumers (q58
TF-IDF, q212 Dunning G², q231 stopwords) between the scan-everything
spelling and the stats-store path; (2) incremental maintenance ==
batch build, with idempotent epoch retries; (3) compaction preserves
the merged view; (4) the tokenizer params guard."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from file_appender_spark.operators.corpusstats import (
    build_corpus_stats,
    compact_corpus_stats,
    corpus_token_stats,
    corpusstats_ingest_batch,
    read_bigram_stats,
    read_source_stats,
    read_token_stats,
)
from file_appender_spark.sources.catalog import load_table
from file_appender_spark.storefs import table_dir


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def stats_store(spark, sf_dir, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("corpusstats") / "store")
    docs = load_table(spark, sf_dir, "documents")
    build_corpus_stats(spark, docs, store)
    return store


def test_q58_tfidf_stats_path_equivalent(spark, sf_dir, stats_store):
    from file_appender_spark.queries.llm import q58_tfidf

    base = _rows(q58_tfidf(spark, sf_dir))
    via = _rows(q58_tfidf(spark, sf_dir, stats_dir=stats_store))
    assert via == base and len(base) > 0


def test_q212_dunning_stats_path_equivalent(spark, sf_dir, stats_store):
    from file_appender_spark.queries.tranche8 import q212_dunning_keywords

    base = _rows(q212_dunning_keywords(spark, sf_dir))
    via = _rows(q212_dunning_keywords(spark, sf_dir, stats_dir=stats_store))
    assert via == base and len(base) > 0


def test_q231_stopwords_stats_path_equivalent(spark, sf_dir, stats_store):
    from file_appender_spark.queries.tranche11 import q231_stopword_discovery

    base = _rows(q231_stopword_discovery(spark, sf_dir))
    via = _rows(q231_stopword_discovery(spark, sf_dir, stats_dir=stats_store))
    assert via == base and len(base) > 0


def test_incremental_ingest_matches_batch_build(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "inc_store")
    # three disjoint epochs — the append-only corpus contract
    for i in range(3):
        corpusstats_ingest_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), store, batch_id=i
        )
    merged = _rows(read_token_stats(spark, store))
    want = _rows(corpus_token_stats(docs))
    assert merged == want
    # epoch RETRY (foreachBatch redelivery) rewrites its partition —
    # counts must not double
    corpusstats_ingest_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 1), store, batch_id=1
    )
    assert _rows(read_token_stats(spark, store)) == want
    n_docs = read_source_stats(spark, store).agg(F.sum("n_docs")).collect()[0][0]
    assert n_docs == docs.count()


def test_compaction_preserves_view_and_folds_partitions(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "cmp_store")
    for i in range(4):
        corpusstats_ingest_batch(
            spark, docs.filter(F.col("doc_id") % 4 == i), store, batch_id=i
        )
    before_tok = _rows(read_token_stats(spark, store))
    before_src = _rows(read_source_stats(spark, store))
    compact_corpus_stats(spark, store)
    token_dir = os.path.join(store, "token_stats")
    parts = [d for d in os.listdir(token_dir) if d.startswith("batch=")]
    assert parts == ["batch=base"]
    assert _rows(read_token_stats(spark, store)) == before_tok
    assert _rows(read_source_stats(spark, store)) == before_src


def test_tokenizer_params_guard(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    store = str(tmp_path / "guard_store")
    build_corpus_stats(spark, docs, store)
    with open(os.path.join(store, "_corpusstats_params.json"), "w") as f:
        json.dump({"tokenizer": "other", "version": 99}, f)
    with pytest.raises(ValueError, match="incomparable"):
        corpusstats_ingest_batch(spark, docs, store, batch_id=7)
    # reads and compaction open through the same guard: they refuse a
    # foreign stamp too, and write nothing
    before = _listing(store)
    for read in (read_token_stats, read_source_stats, read_bigram_stats):
        with pytest.raises(ValueError, match="incomparable"):
            read(spark, store)
    with pytest.raises(ValueError, match="incomparable"):
        compact_corpus_stats(spark, store)
    assert _listing(store) == before
    # a store holding data but NO stamp (lost, or written before the
    # stamp existed) has unknown params: ingest refuses to stamp its
    # own over the old counts, the signature stores' first-stamp rule
    os.remove(os.path.join(store, "_corpusstats_params.json"))
    before = _listing(store)
    with pytest.raises(ValueError, match="no _corpusstats_params.json"):
        corpusstats_ingest_batch(spark, docs, store, batch_id=8)
    assert _listing(store) == before


def _listing(store):
    return sorted(
        os.path.relpath(os.path.join(d, f), store)
        for d, _, files in os.walk(store)
        for f in files
    )


def test_compaction_refuses_inflight_write(spark, tmp_path):
    """A Spark ``_temporary`` dir under a stats table means a live (or
    crashed) ingest writer: compaction refuses the maintenance window
    instead of racing the swap, like the pair and signature stores."""
    docs = spark.createDataFrame(
        [(1, "alpha beta", "s1")], "doc_id long, text string, source string"
    )
    store = str(tmp_path / "busy_stats")
    build_corpus_stats(spark, docs, store)
    os.makedirs(
        os.path.join(table_dir(store, "token_stats"), "batch=base", "_temporary")
    )
    before = _listing(store)
    with pytest.raises(RuntimeError, match="in-flight"):
        compact_corpus_stats(spark, store)
    assert _listing(store) == before


def test_corpusstats_survive_empty_corpus(spark, tmp_path):
    docs = spark.createDataFrame(
        [], "doc_id long, text string, source string"
    )
    store = str(tmp_path / "empty_store")
    build_corpus_stats(spark, docs, store)
    assert read_token_stats(spark, store).count() == 0
    assert read_source_stats(spark, store).count() == 0
    # an increment onto the empty base works too
    corpusstats_ingest_batch(
        spark,
        spark.createDataFrame(
            [(1, "hello world hello", "srcA")],
            "doc_id long, text string, source string",
        ),
        store,
        batch_id=0,
    )
    got = {
        (r["source"], r["token"]): (r["tf"], r["df"])
        for r in read_token_stats(spark, store).collect()
    }
    assert got == {("srcA", "hello"): (2, 1), ("srcA", "world"): (1, 1)}


def test_corpusstats_via_streaming_foreachbatch(spark, tmp_path):
    """End-to-end streaming wiring: a parquet file stream drives
    corpusstats_ingest_batch through foreachBatch with the REAL epoch
    ids; the merged view equals the one-shot batch build over the
    union — the maintenance mode a 100 TB ingest actually runs."""
    import glob
    import shutil

    rows1 = [(1, "alpha beta alpha", "s1"), (2, "beta gamma", "s2")]
    rows2 = [(3, "alpha delta", "s1"), (4, "gamma gamma gamma", "s2")]
    schema = "doc_id long, text string, source string"

    src = tmp_path / "cs_incoming"
    src.mkdir()

    def add_file(rows, name):
        tmp = str(tmp_path / f"_csstage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], str(src / name))

    add_file(rows1, "b1.parquet")
    add_file(rows2, "b2.parquet")

    store = str(tmp_path / "cs_stream_store")

    q = (
        spark.readStream.format("parquet")
        .schema(spark.createDataFrame([], schema).schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
        .writeStream.foreachBatch(
            lambda b, i: corpusstats_ingest_batch(spark, b, store, batch_id=i)
        )
        .option("checkpointLocation", str(tmp_path / "cs_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = _rows(
        corpus_token_stats(spark.createDataFrame(rows1 + rows2, schema))
    )
    assert _rows(read_token_stats(spark, store)) == want
    n = read_source_stats(spark, store).agg(F.sum("n_docs")).collect()[0][0]
    assert n == 4


def test_rebuild_wipes_stale_increments(spark, tmp_path):
    """A (re)build is a FULL baseline: epoch partitions from a prior
    ingest run must be wiped, or the next merged read double-counts
    every doc they cover (code-review finding)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta", "s1"), (2, "alpha", "s2")],
        "doc_id long, text string, source string",
    )
    store = str(tmp_path / "rebuild_store")
    corpusstats_ingest_batch(spark, docs, store, batch_id=0)
    build_corpus_stats(spark, docs, store)  # re-baseline over the SAME docs
    got = {
        (r["source"], r["token"]): (r["tf"], r["df"])
        for r in read_token_stats(spark, store).collect()
    }
    assert got == {
        ("s1", "alpha"): (1, 1),
        ("s1", "beta"): (1, 1),
        ("s2", "alpha"): (1, 1),
    }
    n = read_source_stats(spark, store).agg(F.sum("n_docs")).collect()[0][0]
    assert n == 2


def test_reserved_base_batch_id_rejected(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "x", "s1")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError, match="reserved"):
        corpusstats_ingest_batch(spark, docs, str(tmp_path / "s"), batch_id="base")


def test_read_side_crash_recovery(spark, tmp_path):
    """A read-only consumer may be the first to touch the store after
    a compaction crash between the two renames — reads must restore
    the .old backup instead of failing on the missing directory."""
    docs = spark.createDataFrame(
        [(1, "alpha beta", "s1")], "doc_id long, text string, source string"
    )
    store = str(tmp_path / "crash_store")
    build_corpus_stats(spark, docs, store)
    tok = os.path.join(store, "token_stats")
    os.rename(tok, tok + ".old")  # simulate the crash window
    assert read_token_stats(spark, store).count() == 2
    assert os.path.exists(tok) and not os.path.exists(tok + ".old")


def test_null_text_counts_zero_tokens(spark, tmp_path):
    """NULL text contributes zero tokens to total_tokens (size(split
    (NULL)) is -1 — the raw sum would under-count), while n_docs
    counts every row like the oracles' count(*)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta", "s1"), (2, None, "s1")],
        "doc_id long, text string, source string",
    )
    store = str(tmp_path / "null_store")
    build_corpus_stats(spark, docs, store)
    row = read_source_stats(spark, store).collect()[0]
    assert row["n_docs"] == 2 and row["total_tokens"] == 2


def test_compaction_sizes_output_files(spark, sf_dir, tmp_path):
    """Compaction must FOLD files, not re-emit one tiny file per
    shuffle partition — the output file count follows the measured
    store bytes (tiny store -> 1 file per stats dir)."""
    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "size_store")
    for i in range(3):
        corpusstats_ingest_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), store, batch_id=i
        )
    compact_corpus_stats(spark, store)
    base = os.path.join(store, "token_stats", "batch=base")
    files = [f for f in os.listdir(base) if f.endswith(".parquet")]
    assert len(files) == 1


def test_q197_jsd_stats_path_equivalent(spark, sf_dir, stats_store):
    from file_appender_spark.queries.tranche6 import q197_jsd_sources

    base = _rows(q197_jsd_sources(spark, sf_dir))
    via = _rows(q197_jsd_sources(spark, sf_dir, stats_dir=stats_store))
    assert via == base and len(base) > 0


def test_q59_bigrams_stats_path_equivalent(spark, sf_dir, stats_store):
    from file_appender_spark.queries.llm import q59_ngram_freq

    base = _rows(q59_ngram_freq(spark, sf_dir))
    via = _rows(q59_ngram_freq(spark, sf_dir, stats_dir=stats_store))
    assert via == base and len(base) > 0


def test_q191_bigram_lm_stats_path_equivalent(spark, sf_dir, stats_store):
    from file_appender_spark.queries.tranche6 import q191_bigram_lm_score

    base = _rows(q191_bigram_lm_score(spark, sf_dir))
    via = _rows(q191_bigram_lm_score(spark, sf_dir, stats_dir=stats_store))
    assert via == base and len(base) > 0


def test_bigram_incremental_matches_batch(spark, sf_dir, tmp_path):
    from file_appender_spark.operators.corpusstats import (
        corpus_bigram_stats,
        read_bigram_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "bg_store")
    for i in range(3):
        corpusstats_ingest_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), store, batch_id=i
        )
    assert _rows(read_bigram_stats(spark, store)) == _rows(
        corpus_bigram_stats(docs)
    )


def test_rebuild_restamps_stale_params(spark, sf_dir, tmp_path):
    """r7 advice: build_corpus_stats RE-STAMPS the tokenizer sidecar —
    a rebuild replaces every table dir, so its counts are comparable
    to the current tokenizer by construction, and upgrading a
    stale-version store works through the API instead of requiring
    manual deletion of the params file. Ingest/read stay strict
    (test_tokenizer_params_guard)."""
    docs = load_table(spark, sf_dir, "documents").limit(5)
    store = str(tmp_path / "upgrade_store")
    build_corpus_stats(spark, docs, store)
    with open(os.path.join(store, "_corpusstats_params.json"), "w") as f:
        json.dump({"tokenizer": "legacy", "version": 1}, f)
    build_corpus_stats(spark, docs, store)  # re-stamp, not refuse
    with open(os.path.join(store, "_corpusstats_params.json")) as f:
        assert json.load(f)["version"] >= 2
    # the re-stamped store accepts increments again
    corpusstats_ingest_batch(spark, docs.limit(1), store, batch_id=1)
    assert read_token_stats(spark, store).count() > 0


def test_corpusstats_worthwhile_policy():
    """r7 verdict task 7: the measured crossover (SCALE100_PROBE_r7)
    as a sized policy — the three probe points classify exactly as
    measured, and the decision is monotone in the right directions."""
    from file_appender_spark.operators.corpusstats import corpusstats_worthwhile

    # Heaps 500k-doc corpus: 50M tokens, 1.54M stats rows -> 1.59x win
    a = corpusstats_worthwhile(50_000_000, 1_540_000)
    assert a.worthwhile and abs(a.compression - 0.0308) < 1e-3
    # linear-vocab 500k docs: 50M tokens, 2.15M rows -> 0.98x break-even
    b = corpusstats_worthwhile(50_000_000, 2_145_653)
    assert not b.worthwhile and "break-even" in b.reason
    # bench-sf regime: tiny stream, overhead dominates
    c = corpusstats_worthwhile(240_000, 620)
    assert not c.worthwhile and "overhead" in c.reason

    # monotone: fixed vocab, growing corpus -> eventually worthwhile
    assert not corpusstats_worthwhile(400_000, 50_000).worthwhile
    assert corpusstats_worthwhile(10_000_000, 50_000).worthwhile
    # Heaps default estimate: sublinear, so big streams qualify
    assert corpusstats_worthwhile(100_000_000).worthwhile
    assert not corpusstats_worthwhile(0).worthwhile

    import pytest as _pytest

    with _pytest.raises(ValueError, match="stream_tokens"):
        corpusstats_worthwhile(-1)


def test_mid_rebuild_marker_refuses_ingest_and_reads(spark, sf_dir, tmp_path):
    """Review finding r8 (2nd pass): a crashed rebuild leaves tables
    part-wiped, and a missing stamp alone looks like a fresh store to
    the ingest path — the build's critical-section marker makes every
    ingest/read refuse until build_corpus_stats completes again."""
    docs = load_table(spark, sf_dir, "documents").limit(5)
    store = str(tmp_path / "marker_store")
    build_corpus_stats(spark, docs, store)
    # simulate the crash window: marker present, stamp gone
    open(os.path.join(store, "_corpusstats_rebuilding"), "w").write("x")
    os.remove(os.path.join(store, "_corpusstats_params.json"))
    with pytest.raises(ValueError, match="unfinished rebuild"):
        corpusstats_ingest_batch(spark, docs, store, batch_id=1)
    with pytest.raises(ValueError, match="unfinished rebuild"):
        read_token_stats(spark, store).collect()
    with pytest.raises(ValueError, match="unfinished rebuild"):
        read_source_stats(spark, store).collect()
    # a completed rebuild clears the marker and reopens the store
    build_corpus_stats(spark, docs, store)
    assert not os.path.exists(os.path.join(store, "_corpusstats_rebuilding"))
    assert read_token_stats(spark, store).count() > 0


def test_merged_view_memo_shares_and_invalidates(spark, tmp_path):
    """r13: the merged stats views are memoized per file fingerprint
    (one shared localCheckpoint materialization across consumers —
    r12 verdict item 5). Pins the two properties that make that safe:
    (a) an UNCHANGED table serves the same cached frame (identity),
    (b) ANY file change — a new epoch partition here — invalidates
    the entry and the re-read sees the new counts."""
    from file_appender_spark.operators.corpusstats import (
        build_corpus_stats,
        corpusstats_ingest_batch,
        read_token_stats,
    )

    docs1 = spark.createDataFrame(
        [(1, "a", "aa bb aa"), (2, "a", "bb cc")],
        "doc_id long, source string, text string",
    )
    store = str(tmp_path / "memostats")
    build_corpus_stats(spark, docs1, store)
    v1 = read_token_stats(spark, store)
    base = {(r["source"], r["token"]): (r["tf"], r["df"]) for r in v1.collect()}
    assert base[("a", "aa")] == (2, 1) and base[("a", "bb")] == (2, 2)
    # (a) unchanged table -> the SAME cached frame object
    assert read_token_stats(spark, store) is v1
    # (b) an appended epoch changes the fingerprint -> fresh view
    docs2 = spark.createDataFrame(
        [(3, "a", "aa")], "doc_id long, source string, text string"
    )
    corpusstats_ingest_batch(spark, docs2, store, 1)
    v2 = read_token_stats(spark, store)
    assert v2 is not v1
    merged = {(r["source"], r["token"]): (r["tf"], r["df"]) for r in v2.collect()}
    assert merged[("a", "aa")] == (3, 2)  # +1 tf, +1 df from epoch 1
