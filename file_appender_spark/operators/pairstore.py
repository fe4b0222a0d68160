"""Materialized near-dup pair graph + cluster assignment — the
corpusstats pattern applied to the q52 MinHash-LSH prefix (r7 verdict
task 1).

Ten query modules rebuild the shingle -> MinHash -> band -> verify
pipeline by importing ``_Q52_CTES`` (queries/llm.py:163 — consumers
q116/q122/q136/q164/q183/q213/q219/q226/q235/q236/q241/q245/q254). At
100 TB a production pipeline computes the verified pair set and its
connected-component collapse ONCE and maintains them incrementally as
documents arrive; every graph/economics consumer then reads the
(tiny, pair-count-sized) store instead of re-running LSH over the
corpus. This module is that store:

- ``pair_signatures`` — the per-doc row the store keeps: the q52
  MinHash slots and band signatures (imported definitions, zero
  drift) plus the doc's distinct 32-bit shingle-hash set (``sh32``),
  which is what makes EXACT Jaccard verification possible against
  history without re-reading historical text. Map-side projections
  only, no shuffle: the slots are the text ingest's slot builder
  (neardup_ingest._minhash_slot_sigs, 16 ``array_min`` over the
  in-row ``sh32``) instead of explode+groupBy.
- ``build_pair_graph`` — batch build: signatures, band-bucket
  candidate self-join, exact verify, cluster refresh. The pair
  definition is q52's with one stated difference: Jaccard is
  computed over the distinct 32-bit shingle HASHES rather than the
  raw shingle strings — identical unless two distinct shingles of a
  candidate pair collide in 32 bits (md5-derived, deterministic;
  equality with q52 on the test corpora is pinned in
  tests/test_pairstore.py). Hashes are what the store can afford to
  keep: ~4 bytes per distinct shingle vs the raw corpus, and the
  SAME verifier runs in batch and ingest so incremental == batch
  exactly, by construction.
- ``pairstore_ingest_batch`` — incremental maintenance: each epoch
  of NEW documents contributes (new x history) + (new x new)
  verified pairs. Epoch partitions are written with overwrite and
  history reads EXCLUDE the current epoch, so a retry recomputes the
  identical output (exactly-once effective semantics — stronger than
  the dedup ingests, because a graph store admits every doc and
  never has to make a suppress decision).
- ``refresh_clusters`` / ``read_cluster_assignment`` — the
  connected-component collapse (operators/components.py: on the
  driver below its edge bound, sized by a footer or ``observe`` edge
  count that costs no job; the Kiveris-et-al. map-reduce CC above
  it) materialized as (doc, cluster) with
  a coverage stamp: reading an assignment that does not cover every
  pair epoch raises rather than silently serving merged-away
  clusters (``allow_stale=True`` opts in). Refresh is INCREMENTAL by
  default when an assignment already exists: only the new epochs'
  edges are folded through the representative space
  (_fold_new_edges — work bounded by the new pairs, not the store),
  with the full recompute as fallback and equivalence oracle.
- ``compact_pairstore`` — fold epochs into ``batch=base`` (sized
  output files, crash-safe swap, the corpusstats/neardup_ingest
  discipline). Two swap protocols by layout (r11): CLASSIC tables
  use the two-rename directory swap (needs atomic rename —
  POSIX/HDFS); MANIFEST-layout tables (each of sigs/pairs/clusters
  carries its own ``_CURRENT``) write the next version completely
  and flip with ONE atomic publish — which is what lets the store
  live on object stores (auto-created there; opt-in via
  ``create_manifest_pairstore`` / ``migrate_pairstore_to_manifest``
  elsewhere).

Scale notes: the build is q52's own plan (band equi-join candidates,
never all-pairs) plus a CC over the PAIR table (one collect below the
driver edge bound, O(diameter) distributed rounds above it) — pairs,
not corpus, bound every post-build consumer. Per
ingest epoch, the history side is touched only through the band
equi-join on the signature columns (columnar scan of the sigs table;
the heavy ``sh32`` column is fetched through the candidate join) and
the hot-bucket guard (``ingest_band_bucket_cap_for``) bounds
template-family buckets. All store maintenance — compaction swaps,
epoch listing, sidecar stamps — goes through the StoreFS seam
(file_appender_spark/storefs.py), so the store can live on HDFS
(``hdfs://`` store_dir) as well as local disk, matching the append
sink's AppendFS discipline — and, in the MANIFEST layout, on object
stores (``s3://``/``gs://``), whose missing atomic rename the
per-table manifest flip does not need.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from file_appender_spark.obs import stage
from file_appender_spark.operators.lsh import (
    HASH_KEYS,
    band_pairs,
    fits_broadcast,
    history_candidates,
    hot_buckets,
    is_big_store,
    resolve_cap,
)
from file_appender_spark.operators.neardup_ingest import (
    _bands_hash_long,
    _minhash_slot_sigs,
    _shingled,
    _spread,
    _store_is_v2,
    _with_index_cols,
    ingest_band_bucket_cap_for,
)
from file_appender_spark.storefs import (
    TableStore,
    compact_tables,
    create_manifest_tables,
    migrate_tables_to_manifest,
    open_table_store,
    read_table,
    rebuild_table_store,
    store_fs_for,
    swap_table_dir,
    table_dir,
    write_table_epoch,
)

_CLUSTERS_STATE = "_CLUSTERS_STATE.json"
_CAPPED_MARKER = "_CAPPED_EPOCHS"

# the store's one band count, used at EVERY band stack / cap call
# site (r9 ADVICE: a hard-coded 4 drifting from _params would make the
# cap marker silently undercount buckets and break pairstore_is_exact)
_N_BANDS = 4
# columns whose hash defines full-signature identity for the v2
# derived columns (shared with neardup_ingest's minhash spec)
_FH_COLS = [f"b{i}" for i in range(_N_BANDS)]


def _with_sig_hashes(sigs: DataFrame) -> DataFrame:
    """Schema v2 for the sigs table: precomputed bh0..bh3 band-hash
    longs (+ fh) so every per-epoch history scan decodes longs instead
    of the ~40-char band strings (r9 verdict task 1 — the measured
    dominant term of the linear per-epoch cost). Derived data, same
    params; legacy v1 epochs are derived at read and upgraded by
    compact_pairstore."""
    return _with_index_cols(sigs, _N_BANDS, _FH_COLS)


def _auto_cap() -> int:
    # MinHash bands have an unbounded bucket space, so the sized cap
    # is the count-free candidate budget: no batch count, no footer walk
    return ingest_band_bucket_cap_for(2, n_bands=_N_BANDS)


def _params(threshold: float) -> dict:
    return {
        "modality": "minhash",
        "n_slots": 16,
        "n_bands": _N_BANDS,
        "verifier": "jaccard_sh32",
        "threshold": threshold,
        "version": 1,
    }


_STORE = TableStore(
    kind="pair",
    # the three tables a maintenance pass may swap; each carries its OWN
    # manifest (dir/table/_CURRENT -> vN) in the manifest layout, because
    # they flip at different cadences (clusters on every refresh, sigs/
    # pairs only at compaction) — per-table flips match the crash-safety
    # granularity the classic per-table two-rename swap already had
    tables=("sigs", "pairs", "clusters"),
    params_file="_PAIRSTORE_PARAMS.json",
    # with no threshold given, a store is checked against its own one
    params=lambda stamp: _params(stamp["threshold"]),
    mismatch="the stores are different graphs; rebuild or pass the "
    "original threshold",
    rebuild_marker="_PAIRSTORE_REBUILDING",
    rebuild_hint="build_pair_graph",
    migrate_hint="migrate_pairstore_to_manifest",
    classic_debris=(".old", ".compacting", ".refreshing"),
    # the coverage stamp describes the wiped clusters; a rebuild
    # restores exactness
    rebuild_wipes=(_CLUSTERS_STATE, _CAPPED_MARKER),
)


def _table_rows(store_dir: str, table: str, stop_at: int) -> int:
    """Total rows of one table across its epoch partitions, from
    parquet FOOTER metadata only (per-epoch-dir footer walks — the
    store's partition layout hides its files from the flat
    parquet_rows), stopping once the total reaches ``stop_at``. An
    upper bound on distinct rows (a replayed epoch counts twice);
    sizes the lean-vs-materialized epoch shape (sigs) and the driver
    vs distributed components dispatch (pairs)."""
    fs = store_fs_for(store_dir)
    d = table_dir(store_dir, table)
    if not fs.isdir(d):
        return 0
    total = 0
    for part in fs.listdir(d):
        if part.startswith("batch="):
            total += fs.parquet_rows(os.path.join(d, part), stop_at=stop_at)
            if total >= stop_at:
                break
    return total


def create_manifest_pairstore(store_dir: str) -> str:
    """Initialize an EMPTY manifest-layout pair store (the layout
    choice is creation-time, like the signature stores'): each table
    gets v1 + a ``_CURRENT`` manifest. Idempotent and crash-resumable;
    refuses classic data or classic ``.old`` crash debris (see
    storefs.create_manifest_tables). build_pair_graph calls this
    automatically when the target filesystem lacks atomic directory
    rename (an object store could otherwise only ever hold a classic
    store that its own maintenance would refuse)."""
    return create_manifest_tables(_STORE, store_dir)


def migrate_pairstore_to_manifest(store_dir: str) -> str:
    """Convert a CLASSIC pair store in place (single-writer
    maintenance window, POSIX/HDFS only — where classic stores can
    exist at all): move each table's epoch partitions into its ``v1``
    and publish the table manifests. RESUMABLE via the store-level
    marker; also sweeps classic debris siblings the manifest
    maintenance would never clean (storefs.migrate_tables_to_manifest
    has the full contract)."""
    return migrate_tables_to_manifest(_STORE, store_dir)


def pair_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh32, n_sh, mh, b0..b3): the store's per-document row.

    Definitions are IMPORTED from q52 (queries/llm.py — shingle_expr,
    _tok_hash32, _MH_PARAMS), so store signatures and the oracle
    query can never drift. sh32 is the sorted distinct 32-bit
    shingle-hash set; the slots and bands are the text ingest's slot
    builder (neardup_ingest._minhash_slot_sigs) over it — min over
    distinct == min over all, so the signature equals the ingest's.
    NO shuffle — the expensive part of the store build/ingest is
    embarrassingly parallel. Docs too short to shingle (< 3 words)
    produce no row: they cannot pair under q52's definition."""
    from file_appender_spark.queries.llm import _tok_hash32

    # shingle_expr already dedups; hash then re-dedup so a 32-bit
    # collision collapses identically here and in the verifier
    sh32 = F.array_sort(
        F.array_distinct(F.transform(F.col("shingles"), _tok_hash32))
    )
    base = _shingled(_spread(docs), id_col, text_col).select(
        id_col, sh32.alias("sh32")
    )
    return _minhash_slot_sigs(base, id_col, "sh32", keep=("sh32",)).select(
        id_col, "sh32", F.size("sh32").cast("long").alias("n_sh"), "mh", *_FH_COLS
    )


def _verified_pairs(
    cand: DataFrame,
    new_sh: DataFrame,
    old_sh: DataFrame,
    threshold: float,
    broadcast_cand: bool = False,
) -> DataFrame:
    """Exact Jaccard over the stored hash sets for (new_id, old_id)
    candidates -> canonical (d1 < d2, jaccard) rows. Two equi-joins
    on doc ids, HOF intersection — q52's verify stage over sh32.

    ``broadcast_cand`` is the ingest path's O(batch) discipline (the
    signature stores' payload fetch does the same): with a bucket cap
    the candidate set is micro-batch-bounded, so broadcasting the bare
    (new_id, old_id) pairs and joining the HISTORY side first turns
    the heavy sh32 fetch into a store scan — no shuffle of the
    store's shingle sets; the batch-side join then runs over two
    candidate-sized frames. Duplicate candidates (lsh.history_
    candidates does not dedup) and duplicate incumbent rows (none
    under the overwrite-epoch contract) collapse in the trailing
    distinct."""
    if broadcast_cand:
        j = F.broadcast(cand).join(old_sh, "old_id").join(new_sh, "new_id")
    else:
        j = cand.join(new_sh, "new_id").join(old_sh, "old_id")
    inter = F.size(F.array_intersect("sh_new", "sh_old"))
    jac = inter.cast("double") / (F.col("n_new") + F.col("n_old") - inter)
    return (
        j.filter(jac >= threshold)
        .select(
            F.least("new_id", "old_id").alias("d1"),
            F.greatest("new_id", "old_id").alias("d2"),
            F.round(jac, 6).alias("jaccard"),
        )
        .distinct()
    )


def _new_side(sigs: DataFrame, id_col: str) -> DataFrame:
    return sigs.select(
        F.col(id_col).alias("new_id"),
        F.col("sh32").alias("sh_new"),
        F.col("n_sh").alias("n_new"),
    )


def _old_side(sigs: DataFrame, id_col: str, dedup: bool = True) -> DataFrame:
    out = sigs.select(
        F.col(id_col).alias("old_id"),
        F.col("sh32").alias("sh_old"),
        F.col("n_sh").alias("n_old"),
    )
    # dedup=False for the HISTORY side of an ingest epoch: a
    # dropDuplicates over the store would shuffle every stored
    # shingle set per micro-batch (O(store)); epochs are written
    # with overwrite so the store holds no duplicate ids anyway,
    # and a hypothetical duplicate collapses in _verified_pairs'
    # trailing distinct
    return out.dropDuplicates(["old_id"]) if dedup else out


def build_pair_graph(
    spark: SparkSession,
    docs: DataFrame,
    store_dir: str,
    threshold: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bucket_cap: int | None | str = None,
) -> None:
    """Materialize the full corpus's verified pair set as the store's
    ``base`` epoch and refresh the cluster assignment. Any epoch
    partitions from a previous ingest run are wiped — ``docs`` is the
    whole corpus, so leaving them would duplicate every pair they
    cover on the next merged read.

    ``threshold`` defaults to q52's own verify threshold (llm's
    _Q52_THRESHOLD — the one constant the oracle SQL, the Spark plan
    and this store share). ``band_bucket_cap`` defaults to ``None``
    (EXACT — the batch build is the oracle-parity path; q52 equality
    is the point). Pass ``"auto"``/an int to bound template-family
    buckets at the stated recall cost when building over a crawl
    known to contain them."""
    from pyspark import StorageLevel

    if threshold is None:
        threshold = _q52_threshold()
    cap = resolve_cap(band_bucket_cap, _auto_cap)

    def write() -> None:
        sigs = _with_sig_hashes(pair_signatures(docs, id_col, text_col)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            bands = _bands_hash_long(sigs, _N_BANDS, id_col, _FH_COLS).select(
                id_col, *HASH_KEYS
            )
            # every unordered candidate pair exactly once — the full
            # self-join, over the precomputed long band hashes (same
            # buckets, cheaper equi-join)
            cand = band_pairs(bands, id_col, cap, HASH_KEYS).select(
                F.col("d2").alias("new_id"), F.col("d1").alias("old_id")
            )
            pairs = _verified_pairs(
                cand, _new_side(sigs, id_col), _old_side(sigs, id_col), threshold
            )
            with stage(spark, "pairstore.build", "signatures", store=store_dir):
                write_table_epoch(sigs, store_dir, "sigs", "base")
            with stage(spark, "pairstore.build", "pairs", store=store_dir):
                if cap is not None:
                    # a capped BUILD can drop candidates too — the shared
                    # binding test, history side empty (the build IS the
                    # corpus), marker before the pairs epoch like the ingest
                    _mark_if_cap_bound(store_dir, None, bands, cap)
                write_table_epoch(pairs, store_dir, "pairs", "base")
        finally:
            sigs.unpersist()

    # the shared rebuild protocol (storefs.rebuild_table_store): the
    # stamp lands only once the tables it describes exist, so a crash
    # mid-rebuild fails LOUDLY, never serving old-threshold pairs
    # under a new-threshold stamp (review finding r8)
    rebuild_table_store(_STORE, store_dir, _params(threshold), write)
    refresh_clusters(spark, store_dir)


def pairstore_ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    batch_id: int | str,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bucket_cap: int | None | str = "auto",
) -> None:
    """Incremental maintenance for one epoch of NEW documents (each
    doc in exactly one epoch — the append-only corpus contract the
    other stores share). The epoch's pairs are (new x history) +
    (new x new); both epoch partitions are written with overwrite and
    the history read EXCLUDES the current epoch, so a RETRY — after a
    failed or successful write — recomputes the identical output.
    That idempotence assumes the serialized foreachBatch contract: NO
    replay of epoch N once a LATER epoch has committed — a violation
    reads a history that already includes N+1, writing each (N, N+1)
    pair into both epochs' partitions (read_pairs dedups defensively,
    so consumers stay correct, but the duplicate rows persist until
    compaction). Clusters become stale (the coverage stamp records
    it); refresh_clusters folds the new edges in.

    ``band_bucket_cap`` defaults to the sized ``"auto"`` policy
    (a long-lived store accumulating a template family is exactly the
    degenerate case): over-cap history buckets drop out of candidate
    generation, which for a GRAPH store means missing edges — never
    wrong ones — and therefore possibly under-merged clusters."""
    if str(batch_id) == "base":
        raise ValueError(
            "batch_id 'base' is reserved for build_pair_graph — an ingest "
            "epoch writing there would clobber the corpus baseline"
        )
    cap = resolve_cap(band_bucket_cap, _auto_cap)
    threshold = float(open_table_store(_STORE, store_dir, ingest=True)["threshold"])
    op, known = "pairstore.ingest", {"store": store_dir, "epoch": str(batch_id)}
    with stage(spark, op, "signatures", **known):
        sigs = _with_sig_hashes(
            pair_signatures(batch, id_col, text_col)
        ).localCheckpoint(eager=True)
    batch_bands = _bands_hash_long(sigs, _N_BANDS, id_col, _FH_COLS)

    with stage(spark, op, "pairs", **known):
        hist = (
            read_table(spark, store_dir, "sigs")
            # cast: the partition column infers int when every epoch id
            # is numeric, string once 'base' is present — normalize
            .filter(F.col("batch").cast("string") != str(batch_id))
            .drop("batch")
        )
        # ONE narrow store scan per epoch (r9 verdict task 1): the hashed
        # band stack (long columns on a v2 sigs table, derived from the
        # strings on a legacy one) is semi-sliced by the batch's (band,
        # bh) set — checkpointed on a big store — and the over-cap
        # histogram, candidate join AND cap marker all read that frame
        big = is_big_store(lambda n: _table_rows(store_dir, "sigs", n))
        hist_slice, new_vs_hist = history_candidates(
            batch_bands,
            _bands_hash_long(hist, _N_BANDS, id_col, _FH_COLS),
            id_col,
            cap,
            materialize=big,
        )
        new_vs_new = band_pairs(
            batch_bands.select(id_col, *HASH_KEYS), id_col, cap, HASH_KEYS
        ).select(F.col("d2").alias("new_id"), F.col("d1").alias("old_id"))
        ns = _new_side(sigs, id_col)
        if cap is not None and big:
            # r9 ADVICE: gate the candidate broadcast on the EXACT row
            # count (checkpoint first), never force it — a large batch
            # under a big cap can legally exceed driver memory
            (new_vs_hist,), bounded = fits_broadcast([new_vs_hist])
        else:
            # small stores take the lean shape: candidates are bounded
            # by min(batch x bands x cap, store x bands), so the hint is
            # safe without checkpoint+count jobs; cap None stays unhinted
            bounded = cap is not None
        pairs = _verified_pairs(
            new_vs_hist,
            ns,
            _old_side(hist, id_col, dedup=False),
            threshold,
            broadcast_cand=bounded,
        ).unionByName(
            _verified_pairs(new_vs_new, ns, _old_side(sigs, id_col), threshold)
        ).distinct()
        # marker FIRST, epoch writes after: a crash in between leaves a
        # marked-but-incomplete epoch (conservative — the retry rewrites
        # it), never a missing-edges store that pairstore_is_exact calls
        # exact (2nd review pass, r9)
        if cap is not None:
            _mark_if_cap_bound(store_dir, hist_slice, batch_bands, cap)
        write_table_epoch(pairs, store_dir, "pairs", batch_id)
    if not _store_is_v2(hist):
        # epochs always match the store's existing sig schema so the
        # merged partitioned read is never mixed-version; compaction
        # upgrades the whole table atomically
        sigs = sigs.drop("fh", *[f"bh{bi}" for bi in range(_N_BANDS)])
    with stage(spark, op, "sigs_write", **known):
        write_table_epoch(sigs, store_dir, "sigs", batch_id)


def _mark_if_cap_bound(
    store_dir: str,
    hist_slice: DataFrame | None,
    batch_bands: DataFrame,
    cap: int,
) -> None:
    """Drop the inexactness marker iff the hot-bucket cap actually
    BINDS — some batch-touched history bucket (``hist_slice`` is the
    narrow slice from lsh.history_candidates; None on the build path,
    which has no history) or within-batch bucket exceeds it, so
    candidates (hence possibly edges) are dropped. A capped-but-never-
    binding store stays exact. Cost: ONE aggregate job over the slice
    (checkpointed on a big store) + the batch band stack — NO extra
    store decode (the r9 spelling re-stacked and re-sliced
    the store's band strings here, a second O(store) decode per
    epoch), only when a cap is enabled, skipped entirely once a
    marker exists. The marker makes exactness consumers (curate's
    funnel report, pairstore_is_exact) honest instead of hopeful; it
    is intentionally sticky — compaction folds the dropped-candidate
    history into ``base``, so the missing edges never come back
    without a full rebuild (which wipes it)."""
    fs = store_fs_for(store_dir)
    marker = os.path.join(store_dir, _CAPPED_MARKER)
    if fs.exists(marker):
        return
    sides = batch_bands.select("band", "bh", F.lit("batch").alias("_side"))
    if hist_slice is not None:
        sides = sides.unionByName(
            hist_slice.select("band", "bh", F.lit("hist").alias("_side"))
        )
    over = hot_buckets(sides, cap, ("_side", *HASH_KEYS)).limit(1).count()
    if over:
        fs.write_text(
            marker,
            "a band_bucket_cap bound during build/ingest: some buckets "
            "were dropped from candidate generation, so the pair set may "
            "be missing edges (under-merged clusters). Exact consumers "
            "must rebuild with build_pair_graph (cap None).",
        )


def pairstore_is_exact(store_dir: str) -> bool:
    """True iff no ingest epoch's hot-bucket cap ever bound on this
    store — its pair set is the full q52 verified set over every doc
    ingested. curate(graph_dir=...) reports the negative case in its
    funnel dict (``near_dedup_store_capped``)."""
    return not store_fs_for(store_dir).exists(
        os.path.join(store_dir, _CAPPED_MARKER)
    )


def _epoch_ids(table_dir: str) -> list[str]:
    fs = store_fs_for(table_dir)
    if not fs.isdir(table_dir):
        return []
    return sorted(
        p.split("=", 1)[1]
        for p in fs.listdir(table_dir)
        if p.startswith("batch=") and fs.isdir(os.path.join(table_dir, p))
    )


def read_pairs(
    spark: SparkSession,
    store_dir: str,
    *,
    expected_threshold: float | None = None,
) -> DataFrame:
    """(d1, d2, jaccard): the merged pair view — a union of epoch
    partitions, no recompute. Each unordered pair lives in exactly
    one epoch (the one its newer member arrived in) under the
    serialized-ingest contract; a replay that breaks that contract
    (re-running epoch N after epoch N+1 committed — see
    pairstore_ingest_batch) writes cross-epoch pairs into BOTH
    epochs' partitions, so with more than one epoch on disk the
    reader dedups defensively — one distinct over the pair-count-
    sized table, free after compaction folds everything into
    ``base``. Runs crash recovery first like every store reader.
    ``expected_threshold`` makes a caller's pair-definition
    assumption LOUD: a store built at a different threshold is a
    different graph, and oracle-parity consumers (q116/q183/q213
    pass q52's 0.2) must refuse it rather than silently serve it."""
    open_table_store(
        _STORE,
        store_dir,
        None if expected_threshold is None else _params(expected_threshold),
    )
    pairs = read_table(spark, store_dir, "pairs").select("d1", "d2", "jaccard")
    if len(_epoch_ids(table_dir(store_dir, "pairs"))) > 1:
        pairs = pairs.distinct()
    return pairs


def store_missing_ids(
    spark: SparkSession,
    store_dir: str,
    doc_ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """``doc_ids`` rows with NO signature row in the store — the
    coverage probe behind curate's graph_dir guard (r9 ADVICE): a pair
    store built from a different or partial corpus passes both the
    threshold guard and ``pairstore_is_exact``, and the downstream
    semi-joins then silently drop most near-dup edges. Callers pass
    the SHINGLE-ELIGIBLE ids only (>= 3 words — shorter docs never
    get a signature row by q52's definition, so their absence is not
    a coverage gap). One columnar id scan of the sigs table + an
    anti-join; no payload columns touched."""
    open_table_store(_STORE, store_dir)
    sigs_ids = read_table(spark, store_dir, "sigs").select(F.col(id_col))
    return doc_ids.select(id_col).join(sigs_ids, id_col, "left_anti")


def _q52_threshold() -> float:
    from file_appender_spark.queries.llm import _Q52_THRESHOLD

    return _Q52_THRESHOLD


def q52_edges(
    spark: SparkSession, sf_dir: str, graph_dir: str | None = None
) -> DataFrame:
    """(d1, d2, jaccard): q52's verified pair set — from the
    materialized store when ``graph_dir`` is given (threshold-guarded
    at q52's 0.2, so a foreign store refuses loudly), else the
    recompute spelling. The ONE dispatch every graph_dir consumer
    shares, so the store/recompute choice can never drift per-query."""
    if graph_dir is not None:
        return read_pairs(
            spark, graph_dir, expected_threshold=_q52_threshold()
        )
    from file_appender_spark.queries.llm import q52_minhash_lsh

    return q52_minhash_lsh(spark, sf_dir)


def q52_clusters(
    spark: SparkSession, sf_dir: str, graph_dir: str | None = None
) -> DataFrame:
    """(doc, cluster) for every document with at least one q52 pair
    (singletons absent — consumers coalesce, q116's contract): the
    materialized assignment when ``graph_dir`` is given, else
    LSH + connected components recomputed."""
    if graph_dir is not None:
        return read_cluster_assignment(
            spark, graph_dir, expected_threshold=_q52_threshold()
        ).select("doc", "cluster")
    from file_appender_spark.operators.components import dedup_clusters

    return dedup_clusters(
        q52_edges(spark, sf_dir).select("d1", "d2")
    ).select("doc", "cluster")


def _fold_new_edges(
    spark: SparkSession, store_dir: str, new_epochs: list[str]
) -> DataFrame:
    """Incremental cluster refresh: fold ONLY the new epochs' edges
    into the existing materialized assignment, instead of re-running
    CC over every pair epoch (r8 verdict task 4 — the full recompute
    grows with total pairs; at 100 TB with frequent epochs the
    standard upgrade is union-by-representative).

    Correctness argument (pinned incremental == full in
    tests/test_pairstore.py): cluster labels are component MIN ids.
    Map each new edge's endpoints to their current representative
    (the stored cluster for known docs, the doc itself for new ones);
    run CC over that representative-space edge list — a frame bounded
    by the NEW epochs' pairs, not the store. The resulting label of a
    merged representative group is min(reps) = min(old component
    mins, new doc ids) = the merged component's global min id,
    exactly what the full recompute assigns. Representatives
    untouched by new edges keep their labels; docs of untouched
    components are never read."""
    from file_appender_spark.operators.components import _clusters

    asg = read_table(spark, store_dir, "clusters").select("doc", "cluster")
    new_edges = None
    for e in new_epochs:
        part = read_table(spark, store_dir, "pairs", e).select("d1", "d2")
        new_edges = part if new_edges is None else new_edges.unionByName(part)
    # the edge count rides the checkpoint's own job; it bounds the
    # representative-space edges below, which sizes their components
    n_new = Observation()
    new_edges = (
        new_edges.distinct()
        .observe(n_new, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )

    # endpoint -> current representative (known docs: stored cluster;
    # new docs: themselves). Two left joins against the assignment.
    r1 = asg.select(F.col("doc").alias("d1"), F.col("cluster").alias("_c1"))
    r2 = asg.select(F.col("doc").alias("d2"), F.col("cluster").alias("_c2"))
    rep_edges = (
        new_edges.join(r1, "d1", "left")
        .join(r2, "d2", "left")
        .select(
            F.coalesce("_c1", F.col("d1")).alias("u"),
            F.coalesce("_c2", F.col("d2")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # CC over the representative space: (rep, merged-min) mapping.
    # the clusters only hold nodes WITH edges — reps untouched by
    # any rep-space edge (e.g. both endpoints already same cluster)
    # keep their label through the coalesce below.
    mapping = _clusters(rep_edges, "u", "v", n_new.get["n"]).select(
        F.col("doc").alias("_rep"), F.col("cluster").alias("_newc")
    )
    old_rows = (
        asg.join(mapping, asg.cluster == mapping._rep, "left")
        .select("doc", F.coalesce("_newc", F.col("cluster")).alias("cluster"))
    )
    # docs first seen in the new epochs: their rep is themselves
    new_docs = (
        new_edges.select(F.col("d1").alias("doc"))
        .unionByName(new_edges.select(F.col("d2").alias("doc")))
        .distinct()
        .join(asg.select("doc"), "doc", "left_anti")
    )
    new_rows = (
        new_docs.join(mapping, new_docs.doc == mapping._rep, "left")
        .select("doc", F.coalesce("_newc", F.col("doc")).alias("cluster"))
    )
    return old_rows.unionByName(new_rows)


def refresh_clusters(
    spark: SparkSession, store_dir: str, mode: str = "auto"
) -> str:
    """(Re)materialize the (doc, cluster) assignment and stamp the
    coverage; returns the strategy used (``"full"``,
    ``"incremental"`` or ``"fresh"`` for a no-op). CC always runs
    over PAIR-sized frames, never the corpus.

    ``mode="auto"`` folds only the new epochs' edges into the
    existing assignment when one covers a subset of the live epochs
    (_fold_new_edges — work bounded by the new pairs), and falls
    back to the full recompute otherwise (first build, missing
    assignment, or epochs REMOVED since the stamp, e.g. by an
    external cleanup — coverage could otherwise claim epochs that no
    longer exist). ``mode="full"`` forces the recompute — it is also
    the incremental path's equivalence oracle. Crash-safe swap +
    recovery, the shared store discipline."""
    from file_appender_spark.operators import components

    if mode not in ("auto", "full", "incremental"):
        raise ValueError(f"mode must be auto/full/incremental, got {mode!r}")
    # refuse to stamp coverage while an epoch write is in flight: the
    # stamp would claim (or miss) a half-written epoch
    open_table_store(_STORE, store_dir, quiesce=("pairs",))
    fs = store_fs_for(store_dir)
    pairs_dir = table_dir(store_dir, "pairs")
    live = set(_epoch_ids(pairs_dir))
    state = os.path.join(store_dir, _CLUSTERS_STATE)
    covers: set | None = None
    if fs.exists(state) and fs.exists(table_dir(store_dir, "clusters")):
        covers = set(json.loads(fs.read_text(state))["covers"])
    can_fold = covers is not None and covers and covers <= live
    if mode == "incremental" and not can_fold:
        raise ValueError(
            f"pair store {store_dir} has no foldable assignment (covered "
            f"epochs {sorted(covers) if covers else []} vs live "
            f"{sorted(live)}); run a full refresh"
        )
    use_incremental = can_fold if mode == "auto" else (mode == "incremental")
    if use_incremental and not live - covers:
        return "fresh"  # assignment already covers every epoch
    used = "incremental" if use_incremental else "full"
    op, known = "pairstore.refresh", {"store": store_dir, "mode": used}
    with stage(spark, op, "components", **known):
        if use_incremental:
            cl = _fold_new_edges(spark, store_dir, sorted(live - covers))
        else:
            pairs = read_pairs(spark, store_dir).select("d1", "d2")
            # the footer count bounds the pair rows without a job
            bound = components._DRIVER_EDGE_BOUND
            n_pairs = _table_rows(store_dir, "pairs", bound + 1)
            cl = components._clusters(pairs, "d1", "d2", n_pairs).select(
                "doc", "cluster"
            )
    with stage(spark, op, "clusters_write", **known) as rec:
        # the shared classic-two-rename vs manifest-publish swap; a
        # repartition(>=1) guarantees at least one footer-bearing file
        # so an empty graph still reads back with a schema
        rec["files"] = n = max(1, spark.sparkContext.defaultParallelism // 8)
        rec["manifest_version"] = swap_table_dir(
            os.path.join(store_dir, "clusters"),
            lambda tmp: cl.repartition(n).write.mode("overwrite").parquet(tmp),
            tmp_suffix=".refreshing",
        )
        fs.publish_text(
            state,
            json.dumps({"covers": _epoch_ids(pairs_dir)}, sort_keys=True),
        )
    return used


def read_cluster_assignment(
    spark: SparkSession,
    store_dir: str,
    *,
    allow_stale: bool = False,
    expected_threshold: float | None = None,
) -> DataFrame:
    """(doc, cluster) for every document that has at least one pair —
    singletons are absent (consumers coalesce doc_id, exactly like
    q116's left join). Refuses a STALE assignment — pair epochs the
    materialization has not folded in would mean silently serving
    merged-away clusters — unless ``allow_stale=True``; the fix is
    one refresh_clusters call. ``expected_threshold`` as in
    read_pairs (q116 passes q52's 0.2)."""
    open_table_store(
        _STORE,
        store_dir,
        None if expected_threshold is None else _params(expected_threshold),
    )
    fs = store_fs_for(store_dir)
    state = os.path.join(store_dir, _CLUSTERS_STATE)
    if not fs.exists(state):
        raise ValueError(
            f"pair store {store_dir} has no materialized clusters; run "
            "refresh_clusters (build_pair_graph does it automatically)"
        )
    covers = set(json.loads(fs.read_text(state))["covers"])
    live = set(_epoch_ids(table_dir(store_dir, "pairs")))
    if live - covers and not allow_stale:
        raise ValueError(
            f"cluster assignment in {store_dir} is STALE: pair epochs "
            f"{sorted(live - covers)} are not folded in — run "
            "refresh_clusters (or pass allow_stale=True to read anyway)"
        )
    return read_table(spark, store_dir, "clusters")


def compact_pairstore(spark: SparkSession, store_dir: str) -> None:
    """Fold accumulated epoch partitions of sigs and pairs into fresh
    ``base`` partitions with sized output files — long-running ingest
    otherwise pays ever-growing file listing on every history join.
    Writer paused by contract (one sequential writer by design);
    crash-safe swap per table (two renames for classic tables, one
    atomic manifest publish for manifest tables — which never leaves
    an absent-dir window). The cluster coverage stamp
    is rewritten to the folded epoch list ONLY when the assignment
    was fresh going in (content unchanged => still fresh); a stale
    assignment stays stale (empty coverage), because folding epochs
    into ``base`` must never launder away the staleness the read
    guard exists to catch (review finding r8)."""
    # single-writer window invariant (r9 verdict task 7): refuse to
    # fold epochs while an ingest epoch write is in flight
    open_table_store(_STORE, store_dir, quiesce=("sigs", "pairs"))
    fs = store_fs_for(store_dir)
    state = os.path.join(store_dir, _CLUSTERS_STATE)
    if fs.exists(state):
        covers = set(json.loads(fs.read_text(state))["covers"])
        clusters_were_fresh = not (
            set(_epoch_ids(table_dir(store_dir, "pairs"))) - covers
        )
        # write the POST-fold coverage BEFORE folding: a crash
        # mid-fold then reads as (at worst spuriously) STALE — never
        # as spuriously fresh, which a crash between the pairs swap
        # and a trailing state write would produce (review finding)
        fs.publish_text(
            state,
            json.dumps(
                {"covers": ["base"] if clusters_were_fresh else []},
                sort_keys=True,
            ),
        )

    def epochs(table: str) -> DataFrame:
        return read_table(spark, store_dir, table).drop("batch")

    def sigs(d: str) -> DataFrame:
        merged = epochs("sigs")
        # compaction is the v1 -> v2 migration point: fold in the
        # precomputed band-hash columns so later epochs scan longs
        return merged if _store_is_v2(merged) else _with_sig_hashes(merged)

    # cross-epoch duplicate pairs (an out-of-order replay's contract
    # violation — see pairstore_ingest_batch) are collapsed here for
    # good; read_pairs dedups them on the fly until compaction. Sigs
    # never duplicate: each doc's signature lives in exactly its own
    # overwritten epoch.
    with stage(spark, "pairstore.compact", "compact", store=store_dir) as rec:
        rec["files"], rec["manifest_version"] = compact_tables(
            spark,
            store_dir,
            {"sigs": sigs, "pairs": lambda d: epochs("pairs").distinct()},
        )
