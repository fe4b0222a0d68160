"""Round-11 tranche: the banded-index sidecar LIFECYCLE under the
oracle (r10 verdict task 5).

- q269: build the sidecar -> ingest a minute-level epoch through the
  PRUNED history path (asserted via neardup_ingest._LAST_HISTORY_PATH,
  the q257-asserts-'incremental' pattern) -> append a tail epoch that
  falls back to the fused wide scan -> compact again (index rebuilt,
  tail folded) -> serve. The admitted set across all three epochs is
  pinned against a DuckDB mirror of the exact protocol over q52's own
  CTE chain — until now the pruned read path was pytest-pinned
  (tests/test_store_v2.py) but no driver hash had ever exercised it.
- q270: q260's two-epoch protocol across a LAYOUT MIGRATION and a
  manifest-protocol compaction (classic -> migrate_store_to_manifest
  -> atomic-publish swap, versions asserted): neither the migration
  nor the manifest swap may change one admit decision — same oracle
  as q260/q264.

Reference parity: the reference engine (a CDAP batch sink,
/root/reference/src/main — no query surface) has no analog; this
certifies SURVEY.md §2's incremental-ingest store tier.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_appender_spark.queries.llm import _Q52_CTES
from file_appender_spark.queries.registry import register
from file_appender_spark.queries.tpch_extra import _t
from file_appender_spark.queries.tranche22 import _scratch

# The three-epoch protocol mirrored in SQL. Epochs: 0 = doc_id%4==0
# (the seed store, compacted+indexed before epoch 1), 1 = a
# minute-level micro-batch (doc_id%4==1 AND doc_id<40 — small enough
# that the byte gate provably takes the pruned index path at every
# test scale), 2 = everything else (large: the gate falls back to the
# fused wide scan). Suppression rules are textdup_ingest_batch's:
# within an epoch vs earlier ids regardless of the earlier row's own
# fate (single-pass); across epochs vs the ADMITTED history only, id
# order irrelevant; docs too short to shingle admitted always.
_Q269_ORACLE = f"""
    WITH {_Q52_CTES},
    est AS (
      SELECT c.d1 AS a, c.d2 AS b,
             sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 16.0 AS e
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.d1
      JOIN sigs sb ON sb.doc_id = c.d2 AND sb.j = sa.j
      GROUP BY c.d1, c.d2
    ),
    ep AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN 0
                  WHEN doc_id % 4 = 1 AND doc_id < 40 THEN 1
                  ELSE 2 END AS epoch
      FROM documents
    ),
    pe AS (
      SELECT e.a, e.b, ea.epoch AS ea, eb.epoch AS eb
      FROM est e
      JOIN ep ea ON ea.doc_id = e.a
      JOIN ep eb ON eb.doc_id = e.b
      WHERE e.e >= 0.5
    ),
    dup0 AS (SELECT DISTINCT b AS doc FROM pe WHERE ea = 0 AND eb = 0),
    adm0 AS (
      SELECT doc_id FROM ep
      WHERE epoch = 0 AND doc_id NOT IN (SELECT doc FROM dup0)
    ),
    dup1 AS (
      SELECT DISTINCT b AS doc FROM pe WHERE ea = 1 AND eb = 1
      UNION
      SELECT DISTINCT CASE WHEN ea = 1 THEN a ELSE b END AS doc FROM pe
      WHERE ea + eb = 1
        AND (CASE WHEN ea = 0 THEN a ELSE b END)
              IN (SELECT doc_id FROM adm0)
    ),
    adm1 AS (
      SELECT doc_id FROM ep
      WHERE epoch = 1 AND doc_id NOT IN (SELECT doc FROM dup1)
    ),
    dup2 AS (
      SELECT DISTINCT b AS doc FROM pe WHERE ea = 2 AND eb = 2
      UNION
      SELECT DISTINCT CASE WHEN ea = 2 THEN a ELSE b END AS doc FROM pe
      WHERE ((ea < 2 AND eb = 2) OR (ea = 2 AND eb < 2))
        AND (CASE WHEN ea < 2 THEN a ELSE b END) IN
            (SELECT doc_id FROM adm0 UNION SELECT doc_id FROM adm1)
    )
    SELECT p.doc_id, CAST(p.epoch AS INT) AS epoch
    FROM ep p
    WHERE NOT (p.epoch = 0 AND p.doc_id IN (SELECT doc FROM dup0))
      AND NOT (p.epoch = 1 AND p.doc_id IN (SELECT doc FROM dup1))
      AND NOT (p.epoch = 2 AND p.doc_id IN (SELECT doc FROM dup2))
"""


@register("q269_textdup_index_lifecycle", _Q269_ORACLE)
def q269_textdup_index_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The banded-index sidecar's full lifecycle under the oracle
    gate: seed epoch -> compact_store (v2 upgrade + id-only sidecar
    built) -> a minute-level epoch that the byte gate serves through
    the PRUNED index path (asserted — an epoch silently falling back
    to the wide scan would pass the value hash without certifying the
    index read) -> a large tail epoch that must fall back to the wide
    scan (asserted, and its appends become the sidecar's tail) ->
    compact again (index rebuilt over the folded files, no tail) ->
    the admitted (doc_id, epoch) set, hash-equal to the protocol
    mirror in DuckDB. Maintenance must never change admit decisions;
    the pruned/wide path split must never change them either."""
    from file_appender_spark.operators.neardup_ingest import (
        _FORCE_HISTORY_PATH,
        _LAST_HISTORY_PATH,
        _band_index_state,
        compact_store,
        textdup_ingest_batch,
    )

    store = _scratch("q269_textidx")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    e0 = docs.filter(F.col("doc_id") % 4 == 0)
    e1 = docs.filter((F.col("doc_id") % 4 == 1) & (F.col("doc_id") < 40))
    e2 = docs.filter(
        (F.col("doc_id") % 4 != 0)
        & ~((F.col("doc_id") % 4 == 1) & (F.col("doc_id") < 40))
    )
    out_path = os.path.join(os.path.dirname(store), "admitted.parquet")

    def emit(admitted: DataFrame, epoch: int, mode: str) -> None:
        # parquet-back each epoch's answer IMMEDIATELY (the tranche-22
        # discipline): the ingest returns localCheckpoint frames whose
        # blocks are evictable, and later maintenance rewrites the
        # store the lazy plan would re-read
        admitted.select(
            "doc_id", F.lit(epoch).cast("int").alias("epoch")
        ).write.mode(mode).parquet(out_path)

    emit(
        textdup_ingest_batch(
            spark, e0, store, threshold=0.5, band_bucket_cap=None
        ),
        0,
        "overwrite",
    )
    compact_store(spark, store, id_col="doc_id", index_buckets=4096)
    state = _band_index_state(store)
    # an EMPTY seed (empty-corpus sweep) gets no sidecar by contract
    # (a pruned read of a row-less sidecar cannot infer a schema) —
    # the lifecycle asserts only apply when there is a lifecycle
    seeded = state is not None
    if seeded and state.get("version", 1) < 2:
        raise AssertionError(f"expected an id-only sidecar, got {state!r}")
    # the minute-level epoch REQUESTS the pruned path explicitly
    # (r12): the recalibrated byte gate is a performance policy and
    # correctly refuses to prune oracle-fixture-sized stores (the
    # per-touched-bucket overhead exceeds the whole wide scan there
    # — MINIBATCH_INDEX_PROBE_r11/r12); what this lifecycle certifies
    # is that the pruned READ PATH computes the same admit decisions
    # under the driver hash, so the path is forced, then asserted.
    _FORCE_HISTORY_PATH[store] = "pruned"
    try:
        emit(
            textdup_ingest_batch(
                spark, e1, store, threshold=0.5, band_bucket_cap=None
            ),
            1,
            "append",
        )
    finally:
        _FORCE_HISTORY_PATH.pop(store, None)
    if seeded and _LAST_HISTORY_PATH.get(store) != "pruned":
        raise AssertionError(
            "the minute-level epoch must take the PRUNED index path, "
            f"got {_LAST_HISTORY_PATH.get(store)!r}"
        )
    emit(
        textdup_ingest_batch(
            spark, e2, store, threshold=0.5, band_bucket_cap=None
        ),
        2,
        "append",
    )
    if seeded:
        if _LAST_HISTORY_PATH.get(store) != "wide":
            raise AssertionError(
                "the large tail epoch must fall back to the wide scan, "
                f"got {_LAST_HISTORY_PATH.get(store)!r}"
            )
        state = _band_index_state(store)
        if state is None or not state["tail"]:
            raise AssertionError(
                f"epoch appends must become the sidecar's tail, got {state!r}"
            )
        compact_store(spark, store, id_col="doc_id", index_buckets=4096)
        state = _band_index_state(store)
        if state is None or state["tail"]:
            raise AssertionError(
                f"recompaction must rebuild the index tail-free, got {state!r}"
            )
    return spark.read.parquet(out_path)


from file_appender_spark.queries.registry import QUERIES  # noqa: E402

_Q260_ORACLE = QUERIES["q260_textdup_ingest_sim"].oracle


@register("q270_textdup_manifest_sim", _Q260_ORACLE)
def q270_textdup_manifest_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q260's two-epoch ingest protocol with the MANIFEST store layout
    exercised mid-lifecycle (r10 verdict task 4 under the driver
    hash): ingest the even doc_ids into a CLASSIC store, migrate it to
    the manifest layout in place (asserted v1), compact under the
    manifest protocol — the next version dir is written completely
    and ONE atomic manifest publish flips readers (asserted v2, old
    version gone) — then ingest the odd ids against the resolved
    store. Layout migration and the manifest swap must not change one
    admit decision: same oracle as q260/q264, hash-equal or the
    driver fails the row."""
    from file_appender_spark.operators.neardup_ingest import (
        compact_store,
        migrate_store_to_manifest,
        textdup_ingest_batch,
    )
    from file_appender_spark.storefs import manifest_version as _manifest_version

    store = _scratch("q270_manifest")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out_path = os.path.join(os.path.dirname(store), "admitted.parquet")
    a0 = textdup_ingest_batch(
        spark,
        docs.filter(F.col("doc_id") % 2 == 0),
        store,
        threshold=0.5,
        band_bucket_cap=None,
    )
    a0.select(
        "doc_id", (F.col("doc_id") % 2).cast("int").alias("epoch")
    ).write.mode("overwrite").parquet(out_path)
    migrate_store_to_manifest(store)
    if _manifest_version(store) != "v1":
        raise AssertionError(
            f"migration must publish v1, got {_manifest_version(store)!r}"
        )
    compact_store(spark, store, id_col="doc_id")
    if _manifest_version(store) != "v2":
        raise AssertionError(
            f"manifest compaction must flip to v2, got "
            f"{_manifest_version(store)!r}"
        )
    a1 = textdup_ingest_batch(
        spark,
        docs.filter(F.col("doc_id") % 2 == 1),
        store,
        threshold=0.5,
        band_bucket_cap=None,
    )
    a1.select(
        "doc_id", (F.col("doc_id") % 2).cast("int").alias("epoch")
    ).write.mode("append").parquet(out_path)
    return spark.read.parquet(out_path)


_Q116_ORACLE = QUERIES["q116_dedup_clusters"].oracle


@register("q271_pairstore_manifest_served", _Q116_ORACLE)
def q271_pairstore_manifest_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q263's pair-store lifecycle with the PER-TABLE manifest layout
    exercised mid-lifecycle (the r11 lift of the r10 deferral, under
    the driver hash): build a CLASSIC store over even doc_ids, ingest
    the odd ids as an epoch, migrate in place
    (migrate_pairstore_to_manifest — all three tables asserted v1),
    fold the clusters incrementally (the refresh swap is now ONE
    atomic manifest publish — clusters asserted v2), compact under
    the manifest protocol (sigs/pairs asserted v2, old versions
    gone), then serve q116's shape from the store. Neither the
    migration nor two manifest-protocol swaps may change one cluster:
    hash-equal to the full-corpus closure oracle or the driver fails
    the row."""
    from file_appender_spark.operators.pairstore import (
        build_pair_graph,
        compact_pairstore,
        migrate_pairstore_to_manifest,
        pairstore_ingest_batch,
        refresh_clusters,
    )
    from file_appender_spark.queries.llm import q116_dedup_clusters
    from file_appender_spark.storefs import manifest_version

    def _assert_version(table: str, want: str) -> None:
        got = manifest_version(os.path.join(store, table))
        if got != want:
            raise AssertionError(
                f"{table} manifest must be {want!r}, got {got!r}"
            )

    store = _scratch("q271_pairmani")
    docs = _t(spark, sf_dir, "documents")
    build_pair_graph(spark, docs.filter(F.col("doc_id") % 2 == 0), store)
    pairstore_ingest_batch(
        spark,
        docs.filter(F.col("doc_id") % 2 == 1),
        store,
        batch_id=1,
        band_bucket_cap=None,
    )
    migrate_pairstore_to_manifest(store)
    for table in ("sigs", "pairs", "clusters"):
        _assert_version(table, "v1")
    used = refresh_clusters(spark, store)
    if used != "incremental":
        raise AssertionError(
            f"expected the incremental fold, refresh chose {used!r}"
        )
    _assert_version("clusters", "v2")
    compact_pairstore(spark, store)
    _assert_version("sigs", "v2")
    _assert_version("pairs", "v2")
    return q116_dedup_clusters(spark, sf_dir, graph_dir=store)


# ---------------------------------------------------------------------------
# Round-12 mint: the dHash-mode image ingest store under the oracle.
# q261 certifies the image ingest protocol for aHash only; the dhash
# mode (the q184 gradient hash, selected by the store's pinned
# hash_mode param) was pytest-pinned but never driver-hashed. Same
# two-epoch protocol, q184's own band/wide CTE chain as the mirror.
# ---------------------------------------------------------------------------

from file_appender_spark.queries.tranche5 import _AHASH_CTES  # noqa: E402

_Q272_ORACLE = f"""
    WITH {_AHASH_CTES},
    ids AS (SELECT doc_id, max(n_bytes) AS n_bytes FROM cells GROUP BY doc_id),
    dense AS (
      SELECT ids.doc_id, ids.n_bytes, r.c,
             coalesce(cells.cell, 0) AS cell, coalesce(cells.k, 1) AS k
      FROM ids CROSS JOIN range(0, 64) r(c)
      LEFT JOIN cells ON cells.doc_id = ids.doc_id AND cells.c = r.c
    ),
    db AS (
      SELECT a.doc_id, a.n_bytes, a.c,
             CASE WHEN a.cell * b.k > b.cell * a.k THEN 1 ELSE 0 END AS bit
      FROM dense a JOIN dense b ON b.doc_id = a.doc_id AND b.c = a.c + 1
    ),
    dbands AS (
      SELECT doc_id,
             CAST(floor(c / 16.0) AS INTEGER) AS bi,
             CAST(sum(bit << (c % 16)) AS BIGINT) AS bv
      FROM db GROUP BY doc_id, CAST(floor(c / 16.0) AS INTEGER)
    ),
    dwide AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN bi = 0 THEN bv ELSE 0 END) AS BIGINT) AS b0,
             CAST(sum(CASE WHEN bi = 1 THEN bv ELSE 0 END) AS BIGINT) AS b1,
             CAST(sum(CASE WHEN bi = 2 THEN bv ELSE 0 END) AS BIGINT) AS b2,
             CAST(sum(CASE WHEN bi = 3 THEN bv ELSE 0 END) AS BIGINT) AS b3
      FROM dbands GROUP BY doc_id
    ),
    dcand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM dbands a JOIN dbands b
        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    dham AS (
      SELECT d1, d2,
             bit_count(xor(w1.b0, w2.b0)) + bit_count(xor(w1.b1, w2.b1))
           + bit_count(xor(w1.b2, w2.b2)) + bit_count(xor(w1.b3, w2.b3))
             AS hamming
      FROM dcand
      JOIN dwide w1 ON w1.doc_id = d1
      JOIN dwide w2 ON w2.doc_id = d2
    ),
    dup0 AS (
      SELECT DISTINCT d2 AS doc FROM dham
      WHERE d1 % 2 = 0 AND d2 % 2 = 0 AND hamming <= 8
    ),
    adm0 AS (
      SELECT doc_id FROM h
      WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc FROM dup0)
    ),
    dup1 AS (
      SELECT DISTINCT d2 AS doc FROM dham
      WHERE d1 % 2 = 1 AND d2 % 2 = 1 AND hamming <= 8
      UNION
      SELECT DISTINCT CASE WHEN d1 % 2 = 1 THEN d1 ELSE d2 END AS doc
      FROM dham
      WHERE (d1 % 2) <> (d2 % 2) AND hamming <= 8
        AND (CASE WHEN d1 % 2 = 0 THEN d1 ELSE d2 END)
              IN (SELECT doc_id FROM adm0)
    )
    SELECT doc_id, CAST(doc_id % 2 AS INT) AS epoch
    FROM h
    WHERE NOT (doc_id % 2 = 0 AND doc_id IN (SELECT doc FROM dup0))
      AND NOT (doc_id % 2 = 1 AND doc_id IN (SELECT doc FROM dup1))
    """


@register("q272_imagedup_dhash_ingest_sim", _Q272_ORACLE)
def q272_imagedup_dhash_ingest_sim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q261's incremental image-dedup protocol under the store's
    OTHER pinned hash mode: the q184 gradient dHash (bit c = stride
    c's mean exceeds stride c+1's; bit 63 always 0). The store's
    params sidecar pins hash_mode, so this also certifies that a
    dhash store's signatures, band joins, fh identical-hash matches
    and exact xor-popcount verify all run the q184 definitions — the
    mode was pytest-pinned (tests/test_store_v2.py drives both modes)
    but no driver hash covered it. Protocol, thresholds and the
    empty-payload exclusion are exactly q261's."""
    from file_appender_spark.operators.neardup_ingest import (
        imagedup_ingest_batch,
    )

    store = _scratch("q272_imagedup_dh")
    d = _t(spark, sf_dir, "documents")
    payload = d.filter(F.length(F.encode("text", "UTF-8")) >= 1).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    a0 = imagedup_ingest_batch(
        spark,
        payload.filter(F.col("doc_id") % 2 == 0),
        store,
        max_hamming=8,
        hash_mode="dhash",
        band_bucket_cap=None,
    )
    a1 = imagedup_ingest_batch(
        spark,
        payload.filter(F.col("doc_id") % 2 == 1),
        store,
        max_hamming=8,
        hash_mode="dhash",
        band_bucket_cap=None,
    )
    out_path = os.path.join(os.path.dirname(store), "admitted.parquet")
    a0.unionByName(a1).select(
        "doc_id", (F.col("doc_id") % 2).cast("int").alias("epoch")
    ).write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path)
