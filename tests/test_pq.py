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


def test_pq_encode_null_first_row_keeps_arrow_path(spark):
    """A NULL FIRST vector must not change the encode: the frame plans
    the Arrow pass and every code equals the NULL-last frame's. An
    empty frame encodes to nothing, and an all-NULL frame to code 0 in
    every subspace with a NULL recon_err2 — the SQL spelling's
    output, which these frames got before the Arrow pass served
    them."""
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

    assert pq_encode(spark.createDataFrame([], schema), "e", cb).collect() == []
    nulls = spark.createDataFrame([(1, None), (2, None)], schema)
    assert sorted(map(tuple, pq_encode(nulls, "e", cb).collect())) == [
        (1, 0, 0, None),
        (2, 0, 0, None),
    ]


def test_pq_encode_submits_no_job(spark):
    """Building the encoded frame is lazy: the codebook fixes the
    width, so no probe job runs until an action."""
    schema = "vec_id long, e array<double>"
    rows = _clustered_vecs(20, 8, 2, seed=3)
    df = spark.createDataFrame(rows, schema)
    cb = seed_codebook(df, "e", 2, 4)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    enc = pq_encode(df, "e", cb, keep_cols=["vec_id"])
    assert set(tracker.getJobIdsForGroup()) == before
    enc.count()  # the tracker does see this frame's jobs
    assert set(tracker.getJobIdsForGroup()) != before


def test_py_cell_matches_engine_cell(spark):
    """``ivf_pq_search`` assigns query cells in plain Python with
    ``_py_cell``; they must equal the engine's ``_srp_cell_sql`` cells
    the index was built with, including Spark's NaN sign rule, and a
    query of the wrong width must raise rather than get a cell."""
    from file_appender_spark.operators.pq import _py_cell
    from file_appender_spark.operators.similarity import _srp_cell_sql, _srp_coefs

    coefs = _srp_coefs(spark, 4, 4)
    nan = float("nan")
    queries = [
        [0.3, -1.2, 2.5, -0.7],
        [-0.3, 1.2, -2.5, 0.7],
        [nan, 1.0, 1.0, 1.0],
        [nan] * 4,
        [0.0] * 4,
    ]
    df = spark.createDataFrame(
        [(i, q) for i, q in enumerate(queries)], "i int, v array<double>"
    )
    engine = {
        r["i"]: r["cell"]
        for r in df.select("i", _srp_cell_sql("v", 4, coefs).alias("cell")).collect()
    }
    assert engine[3] == 15  # every NaN projection is bit 1
    assert {i: _py_cell(q, 4, coefs) for i, q in enumerate(queries)} == engine

    short = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")
    assert short.select(_srp_cell_sql("v", 4, coefs)).first()[0] is None
    with pytest.raises(ValueError, match="expects 4"):
        _py_cell([1.0, 2.0], 4, coefs)
