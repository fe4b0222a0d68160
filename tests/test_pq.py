"""Product quantization (operators/pq.py): encode determinism,
Lloyd training distortion, and ADC search recall."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from file_appender_spark.operators.pq import (
    adc_topk,
    pq_distortion,
    pq_encode,
    pq_train,
    seed_codebook,
)


def _clustered_vecs(n: int, dim: int, n_clusters: int, seed: int):
    """Vectors around n_clusters well-separated centers — the regime
    where PQ codes should preserve neighborhoods."""
    rng = random.Random(seed)
    centers = [
        [rng.uniform(-10, 10) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for i in range(n):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.gauss(0, 0.3) for x in c]))
    return rows


@pytest.fixture(scope="module")
def vecs(spark):
    rows = _clustered_vecs(400, 32, 8, seed=11)
    return spark.createDataFrame(
        rows, "vec_id long, e array<double>"
    ).cache()


def test_encode_deterministic_across_partitionings(spark, vecs):
    cb = seed_codebook(vecs, "e", m=4, k=16)
    a = pq_encode(vecs, "e", cb).orderBy("vec_id").collect()
    b = (
        pq_encode(vecs.repartition(13), "e", cb)
        .orderBy("vec_id")
        .collect()
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_encode_separates_clusters(spark, vecs):
    """Code tuples never straddle well-separated clusters (Lloyd may
    legitimately SPLIT a cluster across two codewords when k exceeds
    the true cluster count, so within-cluster purity is not asserted
    — cross-cluster separation is the property ADC relies on)."""
    cb = pq_train(vecs, "e", m=4, k=16, iters=3)
    enc = pq_encode(vecs, "e", cb).collect()
    tuple_clusters = {}
    for r in enc:
        t = tuple(r[f"code{s}"] for s in range(4))
        tuple_clusters.setdefault(t, set()).add(r["vec_id"] % 8)
    shared = {t: cls for t, cls in tuple_clusters.items() if len(cls) > 1}
    assert not shared, f"code tuples shared across clusters: {shared}"


def test_train_distortion_nonincreasing(spark, vecs):
    seed_cb = seed_codebook(vecs, "e", m=4, k=16)
    d0 = pq_distortion(vecs, "e", seed_cb)
    prev = d0
    for iters in (1, 3):
        cb = pq_train(vecs, "e", m=4, k=16, iters=iters)
        d = pq_distortion(vecs, "e", cb)
        assert d <= prev * (1 + 1e-9), (iters, d, prev)
        prev = d
    assert prev < d0 * 0.9, "training should improve distortion materially"


def test_adc_topk_recall_vs_exact(spark, vecs):
    cb = pq_train(vecs, "e", m=4, k=16, iters=3)
    enc = pq_encode(vecs, "e", cb)
    queries = [
        (int(r["vec_id"]), list(r["e"]))
        for r in vecs.filter(F.col("vec_id") < 5).collect()
    ]
    got = adc_topk(queries, enc, cb, k_results=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    # PQ collapses WITHIN-cluster distances (every member of a tight
    # cluster can share one code tuple, making exact-top-10 recall
    # under ties arbitrary), so the pinned property is cluster-level:
    # every ADC neighbor belongs to the query's true cluster
    for qid, _ in queries:
        assert len(by_q[qid]) == 10
        wrong = {vid for vid in by_q[qid] if vid % 8 != qid % 8}
        assert not wrong, (qid, wrong)


def test_seed_codebook_validation(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, e array<double>"
    )
    with pytest.raises(ValueError):
        seed_codebook(df, "e", m=2, k=1)  # dim 3 not divisible by 2
    with pytest.raises(ValueError):
        seed_codebook(df, "e", m=1, k=16)  # not enough vectors


def test_ivf_pq_search_finds_cluster_neighbors(spark, vecs):
    """IVFADC end-to-end: sized sign-cells + PQ codes + per-query ADC
    over the probed cell only. Tight clusters land in one cell (sign
    bits of near-identical vectors agree), so cluster-level recall
    must hold even at nprobe=1; nprobe=2 must never reduce it."""
    from file_appender_spark.operators.pq import ivf_pq_index, ivf_pq_search

    cb = pq_train(vecs, "e", m=4, k=16, iters=3)
    index, n_bits, coefs = ivf_pq_index(
        vecs, cb, id_col="vec_id", vec_col="e", target_cell_size=64
    )
    queries = [
        (int(r["vec_id"]), list(r["e"]))
        for r in vecs.filter(F.col("vec_id") < 4).collect()
    ]
    for nprobe in (1, 2):
        got = ivf_pq_search(
            index, queries, cb, n_bits, coefs, k_results=10, nprobe=nprobe
        ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
        for qid, _ in queries:
            assert len(by_q.get(qid, set())) == 10, (nprobe, qid)
            wrong = {v for v in by_q[qid] if v % 8 != qid % 8}
            assert not wrong, (nprobe, qid, wrong)


def test_ivf_pq_index_is_projection_only(spark, vecs):
    """The index build must stay a zero-join, zero-shuffle scan."""
    from file_appender_spark.operators.pq import ivf_pq_index

    cb = seed_codebook(vecs, "e", m=4, k=16)
    index, _, _ = ivf_pq_index(
        vecs, cb, id_col="vec_id", vec_col="e", target_cell_size=64
    )
    plan = index._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pq_encode_arrow_bitequal_sql(spark, sf_dir):
    """r13: the vectorized Arrow encode pass must be BIT-IDENTICAL to
    the generated-SQL spelling — codes AND raw recon_err2 doubles,
    because q158 hash-checks the rounded values downstream. Compared
    on the real embedding table and on a degenerate matrix (NULL
    vector, NULL element, ragged short/long, NaN element, exact-tie
    rows) — the degenerate rows force the per-row replica, whose
    NULL-first / NaN-last ordering must match the struct array_min."""
    from pyspark.sql import functions as F

    from file_appender_spark.operators.pq import (
        _pq_encode_arrow,
        _pq_encode_sql,
        seed_codebook,
    )
    from file_appender_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cb = seed_codebook(v, "e", 4, 16)
    sql = _pq_encode_sql(v, "e", cb, ["vec_id"])
    arrow = _pq_encode_arrow(v, "e", cb, ["vec_id"])
    assert sql.columns == arrow.columns
    assert sql.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(sql).count() == 0

    dim = 4 * len(cb[0][0])
    nan = float("nan")
    rows = [
        (1, [1.0] * dim),
        (2, None),
        (3, [1.0] * (dim - 3)),            # ragged short: NULL-padded tail
        (4, [None] + [1.0] * (dim - 1)),   # NULL element
        (5, []),                           # empty
        (6, [nan] + [1.0] * (dim - 1)),    # NaN poisons subspace 0
        (7, list(cb[0][2]) + list(cb[1][2]) + list(cb[2][2]) + list(cb[3][2])),
    ]
    adv = spark.createDataFrame(rows, "vec_id long, e array<double>")
    sql2 = _pq_encode_sql(adv, "e", cb, ["vec_id"]).collect()
    arrow2 = _pq_encode_arrow(adv, "e", cb, ["vec_id"]).collect()
    import math

    def norm(rs):
        out = {}
        for r in sorted(rs, key=lambda r: r["vec_id"]):
            vals = tuple(r[c] for c in ("code0", "code1", "code2", "code3"))
            e = r["recon_err2"]
            out[r["vec_id"]] = (vals, "nan" if e is not None and math.isnan(e) else e)
        return out
    assert norm(sql2) == norm(arrow2)


def test_pq_encode_null_first_row_keeps_arrow_path(spark):
    """A NULL FIRST vector must not send pq_encode to the generated-SQL
    spelling: the dim probe skips NULL rows, so the frame still plans
    the Arrow pass, and every code equals the NULL-last frame's."""
    schema = "vec_id long, e array<double>"
    rows = _clustered_vecs(40, 8, 2, seed=5)
    cb = seed_codebook(spark.createDataFrame(rows, schema), "e", 2, 4)
    first = spark.createDataFrame([(999, None)] + rows, schema).coalesce(1)
    last = spark.createDataFrame(rows + [(999, None)], schema).coalesce(1)
    assert first.first()["e"] is None
    enc = pq_encode(first, "e", cb, keep_cols=["vec_id"])
    assert "MapInArrow" in enc._jdf.queryExecution().executedPlan().toString()
    ref = pq_encode(last, "e", cb, keep_cols=["vec_id"])
    assert sorted(enc.collect()) == sorted(ref.collect())
