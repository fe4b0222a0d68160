"""Round-10 tranche: the three evidence gaps the r9 verdict named
(task 5) as oracle-checked queries.

- q266: the DEGREE-CAPPED triangle twin (operators/graph.py) with the
  cap BINDING — the one sized scale twin that was never driver-hashed.
  The capped subset choice is now an engine-portable mod-prime
  multiplicative hash (graph._capped), so the oracle reproduces the
  IDENTICAL truncated out-lists and the driver hash certifies the
  capped enumeration itself, not just the exact case.
- q267: an ICWS weighted-MinHash ERROR-CONTRACT row in q66's scheme —
  the estimator (fraction of agreeing consistent samples, Ioffe 2010)
  must sit within its declared sigma band of the EXACT weighted
  Jaccard on every checked pair; the oracle pins the exact values and
  asserts every contract flag is literally 1 (operators/wjaccard.py
  was pytest-only until now).
- q268: refresh_clusters mode='auto' FALLBACK — an epoch is REMOVED
  after the coverage stamp (external cleanup), so auto must take the
  full recompute (asserted), then the epoch's docs are re-ingested
  and auto folds incrementally again; the final served assignment is
  hash-equal to q116's full-corpus closure oracle (until now only the
  happy incremental path q257 was driver-checked).

Reference parity: the reference engine (a CDAP batch sink) has no
query surface; these certify SURVEY.md §2's graph/similarity/store
tiers' remaining pytest-only claims.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_appender_spark.operators.graph import _CAP_A, _CAP_B, _CAP_P
from file_appender_spark.queries.registry import QUERIES, register
from file_appender_spark.queries.tpch_extra import _t
from file_appender_spark.queries.tranche22 import _scratch

_TRI_CAP = 4  # must BIND at sf0.01 — n_capped_vertices certifies it

_Q116_ORACLE = QUERIES["q116_dedup_clusters"].oracle


@register(
    "q266_capped_triangles",
    f"""
    WITH e AS (
      -- co-purchase graph: parts sharing an order (dense by
      -- construction — per-order cliques — so the out-degree cap
      -- genuinely BINDS at every test scale, unlike the sparse q52
      -- pair graph whose max oriented out-degree is 2 at sf0.01)
      SELECT DISTINCT a.l_partkey AS d1, b.l_partkey AS d2
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
    ),
    deg AS (
      SELECT v, count(*) AS degree
      FROM (SELECT d1 AS v FROM e UNION ALL SELECT d2 AS v FROM e) u
      GROUP BY v
    ),
    o AS (
      -- Suri-Vassilvitskii orientation: low (degree, id) -> high
      SELECT CASE WHEN da.degree < db.degree
                    OR (da.degree = db.degree AND e.d1 < e.d2)
                  THEN e.d1 ELSE e.d2 END AS src,
             CASE WHEN da.degree < db.degree
                    OR (da.degree = db.degree AND e.d1 < e.d2)
                  THEN e.d2 ELSE e.d1 END AS dst
      FROM e JOIN deg da ON da.v = e.d1 JOIN deg db ON db.v = e.d2
    ),
    ranked AS (
      -- the engine-portable cap-subset hash (graph._capped): every
      -- operand reduced mod p = 2^31 - 1 first, so no product leaves
      -- int64 range on either engine
      SELECT src, dst, row_number() OVER (
        PARTITION BY src
        ORDER BY ((src % {_CAP_P}) * {_CAP_A}
                  + (dst % {_CAP_P}) * {_CAP_B}) % {_CAP_P}, dst
      ) AS r FROM o
    ),
    capped AS (SELECT src, dst FROM ranked WHERE r <= {_TRI_CAP}),
    w AS (
      SELECT u.src, u.dst AS wu, v.dst AS wv
      FROM capped u JOIN capped v ON v.src = u.src AND u.dst < v.dst
    ),
    tri AS (
      SELECT w.src, w.wu, w.wv
      FROM w JOIN e ON e.d1 = w.wu AND e.d2 = w.wv
    ),
    capv AS (SELECT src FROM o GROUP BY src HAVING count(*) > {_TRI_CAP})
    SELECT (SELECT count(*) FROM tri)                            AS n_triangles,
           (SELECT count(DISTINCT least(src, wu)) FROM tri)      AS n_apex_docs,
           (SELECT count(*) FROM capv)                           AS n_capped_vertices
    """,
)
def q266_capped_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degree-capped triangle twin (q183's production scale path,
    operators/graph.triangle_triples) under the driver hash WITH the
    cap BINDING: triangle count over the part co-purchase graph —
    per-order part cliques, dense enough that the out-degree cap
    truncates real out-lists at every test scale (the q52 pair graph
    it fronts for has max oriented out-degree 2 at sf0.01, where any
    useful cap is trivially exact) — through degree-ordered
    orientation + the deterministic max_degree-subset, plus the
    capped_vertices truncation report folded into the row: a nonzero
    n_capped_vertices is the certificate that the hash covers the
    TRUNCATED enumeration, not the exact case.

    Scale: wedges are bounded by m*(cap-1)/2 regardless of degree
    skew (the whole point of the twin); the oracle reproduces the
    identical kept subset because _capped ranks by a mod-prime
    multiplicative hash both engines evaluate exactly (no wrap-around
    anywhere: operands are reduced mod 2^31 - 1 before the multiply,
    DuckDB errors on int64 overflow where Spark wraps)."""
    from file_appender_spark.operators.graph import (
        capped_vertices,
        triangle_triples,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("d1"), F.col("b.l_partkey").alias("d2")
        )
        .distinct()
    )
    tri = triangle_triples(edges, max_degree=_TRI_CAP)
    counts = tri.agg(
        F.count("*").cast("long").alias("n_triangles"),
        F.count_distinct("a").cast("long").alias("n_apex_docs"),
    )
    report = capped_vertices(edges, _TRI_CAP).agg(
        F.count("*").cast("long").alias("n_capped_vertices")
    )
    # 1-row x 1-row scalar attach (the declared cross-join shape)
    return counts.crossJoin(report)


_ICWS_K = 128  # consistent samples per doc; sigma at J=0.5 is ~0.044


@register(
    "q267_icws_error_contract",
    r"""
    WITH pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 20 = 0
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ),
    toks AS (
      SELECT DISTINCT p.d1, p.d2, t.tok
      FROM pairs p JOIN tf t ON t.doc_id IN (p.d1, p.d2)
    ),
    j AS (
      SELECT tk.d1, tk.d2,
             sum(least(coalesce(ta.tf, 0), coalesce(tb.tf, 0)))    AS inter,
             sum(greatest(coalesce(ta.tf, 0), coalesce(tb.tf, 0))) AS uni
      FROM toks tk
      LEFT JOIN tf ta ON ta.doc_id = tk.d1 AND ta.tok = tk.tok
      LEFT JOIN tf tb ON tb.doc_id = tk.d2 AND tb.tok = tk.tok
      GROUP BY tk.d1, tk.d2
    )
    SELECT d1, d2,
           round(CAST(inter AS DOUBLE) / uni, 6) AS wjac,
           CAST(1 AS INT) AS icws_ok
    FROM j
    """,
)
def q267_icws_error_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICWS weighted-MinHash error contract in q66's scheme: for
    every (doc, doc+1) pair with doc_id % 20 = 0, the exact weighted
    Jaccard (fold of per-token min/max term frequencies) plus a flag
    that the ICWS estimator — the fraction of the 128 consistent
    samples whose 64-bit hashes agree, an unbiased Bernoulli(J_w)
    mean (Ioffe, ICDM 2010; operators/wjaccard.icws_sample_hashes) —
    lies within 5 sigma + 1/128 of it. Sketch values are engine- and
    seed-specific, so the oracle pins the exact values and asserts
    the flag is literally 1: an estimator that ever leaves its
    published band turns the row red.

    Scale: tf maps and samples are computed only for the checked
    docs; the estimator itself is the linear-in-corpus sketch path
    the banded ICWS join (q163) builds on."""
    from file_appender_spark.operators.wjaccard import (
        _exact_verify,
        _tf,
        icws_sample_hashes,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sel = docs.filter(F.col("doc_id") % 20 < 2)  # pair members only
    a = sel.select(F.col("doc_id").alias("d1"))
    b = sel.select(F.col("doc_id").alias("d2"))
    pairs = a.join(
        b, (F.col("d2") == F.col("d1") + 1) & (F.col("d1") % 20 == 0)
    )
    tf = _tf(sel, "doc_id", "text", r"\s+")
    exact = _exact_verify(pairs, tf, threshold=0.0)
    sh = icws_sample_hashes(sel, n_hashes=_ICWS_K, seed=17, tf=tf)
    s1 = sh.select(F.col("_id").alias("d1"), "k", F.col("sh").alias("sh1"))
    s2 = sh.select(F.col("_id").alias("d2"), "k", F.col("sh").alias("sh2"))
    est = (
        pairs.join(s1, "d1")
        .join(s2, ["d2", "k"])
        .groupBy("d1", "d2")
        .agg(F.avg((F.col("sh1") == F.col("sh2")).cast("int")).alias("_est"))
    )
    bound = 5.0 * F.sqrt(
        F.col("wjac") * (1.0 - F.col("wjac")) / F.lit(float(_ICWS_K))
    ) + 1.0 / _ICWS_K
    return (
        exact.join(est, ["d1", "d2"])
        .select(
            "d1",
            "d2",
            "wjac",
            (F.abs(F.col("_est") - F.col("wjac")) <= bound)
            .cast("int")
            .alias("icws_ok"),
        )
    )


@register("q268_refresh_auto_fallback", _Q116_ORACLE)
def q268_refresh_auto_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """refresh_clusters' UNHAPPY path under the oracle gate (q257
    covers only the happy incremental fold): build over the even
    doc_ids, ingest the odds as epoch 1, fold incrementally — then an
    'external cleanup' REMOVES epoch 1 after the coverage stamp, so
    the stamp claims an epoch that no longer exists. mode='auto' must
    detect covers ⊄ live and take the FULL recompute (asserted), never
    serve merged-away clusters from a stale stamp. The odds are then
    re-ingested as epoch 2 and auto folds incrementally again
    (asserted); the final served q116 shape is hash-equal to the
    full-corpus closure oracle, certifying the store healed to the
    exact graph after the fault."""
    from file_appender_spark.operators.pairstore import (
        build_pair_graph,
        pairstore_ingest_batch,
        refresh_clusters,
    )
    from file_appender_spark.queries.llm import q116_dedup_clusters
    from file_appender_spark.storefs import store_fs_for, table_dir

    store = _scratch("q268_fallback")
    docs = _t(spark, sf_dir, "documents")
    build_pair_graph(spark, docs.filter(F.col("doc_id") % 2 == 0), store)
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    pairstore_ingest_batch(
        spark, odds, store, batch_id=1, band_bucket_cap=None
    )
    used = refresh_clusters(spark, store)
    if used != "incremental":
        raise AssertionError(f"expected incremental fold, got {used!r}")
    # external cleanup removes epoch 1 AFTER the stamp covered it
    fs = store_fs_for(store)
    fs.rmtree(os.path.join(table_dir(store, "pairs"), "batch=1"))
    fs.rmtree(os.path.join(table_dir(store, "sigs"), "batch=1"))
    used = refresh_clusters(spark, store)
    if used != "full":
        raise AssertionError(
            f"expected the full-recompute fallback, got {used!r}"
        )
    pairstore_ingest_batch(
        spark, odds, store, batch_id=2, band_bucket_cap=None
    )
    used = refresh_clusters(spark, store)
    if used != "incremental":
        raise AssertionError(f"expected incremental re-fold, got {used!r}")
    return q116_dedup_clusters(spark, sf_dir, graph_dir=store)
