"""Bit-identity of the Arrow vector kernels (operators/arraykernels.py)
against the SQL spellings they replace.

One parametrized pin covers every kernel built on ``map_vectors`` —
the SRP signature stage, the ANN cosine scoring stage and the PQ
encode — with ANSI on and off, on the sf embeddings and on a
degenerate matrix whose frames each run as ONE Arrow batch, so a
frame's rows all take either the vectorized path or the per-row
replica. The Spark-free tests pin the numpy fold and sign rule."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from file_appender_spark.operators.arraykernels import (
    as_double,
    dot,
    fold_dot,
    row_fold,
    sign_bits,
)

NAN = float("nan")


def _norm(rows):
    """Sorted rows with floats as hex (NaN as one token), so -0.0 and
    every last bit count."""

    def cell(x):
        if isinstance(x, float):
            return "nan" if math.isnan(x) else x.hex()
        if isinstance(x, list):
            return tuple(cell(e) for e in x)
        return x

    return sorted((tuple(cell(x) for x in r) for r in rows), key=repr)


def _frame(spark, groups, schema):
    """One frame holding each group of rows as its own partition, so
    each group arrives as one Arrow batch: all its rows take the
    vectorized path or all take the replica."""
    rdd = spark.sparkContext.parallelize(range(len(groups)), len(groups))
    return spark.createDataFrame(rdd.flatMap(lambda i: groups[i]), schema)


# ---- per-kernel cases: (arrow(df), reference(df), frames) for one data set


def _srp_case(spark, sf_dir, data):
    from file_appender_spark.operators.similarity import (
        _srp_band_sigs_sql,
        _srp_coefs,
        srp_sigs_arrow,
    )
    from file_appender_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    coefs = _srp_coefs(spark, 16, dim)

    def arrow(df):
        return srp_sigs_arrow(df, "vec_id", "embedding", 16, 4, coefs)

    def ref(df):
        v = df.select("vec_id", as_double(F.col("embedding")).alias("v"))
        sigs = _srp_band_sigs_sql("v", 16, 4, coefs)
        return v.select(
            "vec_id",
            "v",
            F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
            *[s.alias(f"b{i}") for i, s in enumerate(sigs)],
        )

    schema = "vec_id long, embedding array<double>"
    ragged = (99, [1.0] * (dim - 1))
    nan_rows = [(1, [NAN] + [1.0] * (dim - 1)), (2, [NAN] * dim), (3, [0.5] * dim)]
    degenerate = {
        "mixed": [
            (1, [1.0] * dim),
            (2, None),                         # NULL vector
            ragged,                            # short: nrm valid, bands NULL
            (4, [1.0] * (dim + 2)),            # long
            (5, [None] + [1.0] * (dim - 1)),   # NULL element
            (6, []),                           # empty
        ],
        "nan_fast": nan_rows,
        "nan_replica": nan_rows + [ragged],
        "no_rows": [],
    }
    if data == "sf":
        return arrow, ref, [emb]
    return arrow, ref, [_frame(spark, list(degenerate.values()), schema)]


def _cos_case(spark, sf_dir, data):
    from file_appender_spark.operators.similarity import cos_scores_arrow
    from file_appender_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    a = emb.select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qv")
    ).withColumn("qnrm", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    b = emb.select(
        F.col("vec_id").alias("vid"), as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    pairs = a.join(b, (a["qid"] % 7) == (b["vid"] % 7))

    def arrow(df):
        return cos_scores_arrow(df, "qid", "vid")

    def ref(df):
        return df.select(
            "qid",
            "vid",
            (dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))).alias(
                "cos_raw"
            ),
        )

    schema = (
        "qid long, vid long, qv array<double>, v array<double>, "
        "qnrm double, nrm double"
    )
    ok = (1, 10, [1.0, 2.0, 3.0], [1.0, 0.5, 2.0], 3.7416573867739413, 2.29128784747792)
    ragged = (3, 30, [1.0, 2.0], [1.0, 0.5, 2.0], 2.23606797749979, 2.29128784747792)
    nan = (7, 70, [NAN, 2.0, 3.0], [1.0, 0.5, 2.0], NAN, 2.29128784747792)
    zero = [
        (5, 50, [0.0, 0.0, 0.0], [1.0, 0.5, 2.0], 0.0, 2.29128784747792),
        (9, 90, [1.0, 2.0, 3.0], [0.0, 0.0, 0.0], 3.7416573867739413, -0.0),
    ]
    empty = (8, 80, [], [], 0.0, 0.0)  # dot 0.0 over a zero divisor
    degenerate = {
        "mixed": [
            ok,
            (2, 20, None, [1.0, 0.5, 2.0], 1.0, 2.29128784747792),  # NULL qv
            ragged,
            (4, 40, [1.0, None, 3.0], [1.0, 0.5, 2.0], 1.0, 2.29128784747792),
            (6, 60, [1.0, 2.0, 3.0], [1.0, 0.5, 2.0], None, 2.29128784747792),
        ],
        "nan_fast": [ok, nan],
        "nan_replica": [ok, nan, ragged],
        "no_rows": [],
    }
    # zero norm product: raises under ANSI, NULL with ANSI off
    zero_norm = [zero + [ok], zero + [ok, ragged], [empty]]
    if data == "sf":
        return arrow, ref, [pairs]
    return arrow, ref, [
        _frame(spark, list(degenerate.values()), schema),
        _frame(spark, zero_norm, schema),
    ]


def _pq_case(spark, sf_dir, data):
    from file_appender_spark.operators.pq import (
        _pq_encode_sql,
        pq_encode,
        seed_codebook,
    )
    from file_appender_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    cb = seed_codebook(v, "e", 4, 16)
    # the degenerate frames run against a codebook with a duplicated
    # codeword (3 == 5 in every subspace), so exact ties must resolve
    # to the lower index on both paths
    tie_cb = [[list(cw) for cw in cbs] for cbs in cb]
    for cbs in tie_cb:
        cbs[5] = list(cbs[3])
    book = cb if data == "sf" else tie_cb

    def arrow(df):
        return pq_encode(df, "e", book, keep_cols=["vec_id"])

    def ref(df):
        return _pq_encode_sql(df, "e", book, ["vec_id"])

    dim = 4 * len(cb[0][0])
    tie = [x for cbs in tie_cb for x in cbs[3]]
    schema = "vec_id long, e array<double>"
    ragged = (3, [1.0] * (dim - 3))
    degenerate = {
        "mixed": [
            (1, [1.0] * dim),
            (2, None),                         # NULL vector
            ragged,                            # short: NULL-padded tail
            (4, [None] + [1.0] * (dim - 1)),   # NULL element
            (5, []),                           # empty
            (6, [NAN] + [1.0] * (dim - 1)),    # NaN poisons subspace 0
            (7, [1.0] * (dim + 2)),            # long: slice drops the tail
            (8, tie),
        ],
        "ties_fast": [(1, [1.0] * dim), (8, tie), (9, [x + 0.25 for x in tie])],
        "ties_replica": [(8, tie), (9, [x + 0.25 for x in tie]), ragged],
        "nan_replica": [(6, [NAN] * dim), (1, [1.0] * dim)],
        "no_rows": [],
    }
    if data == "sf":
        return arrow, ref, [v]
    return arrow, ref, [_frame(spark, list(degenerate.values()), schema)]


_CASES = {"srp_sigs": _srp_case, "cos_scores": _cos_case, "pq_encode": _pq_case}


@pytest.mark.parametrize("data", ["sf", "degenerate"])
@pytest.mark.parametrize("kernel", list(_CASES))
def test_kernel_bit_identical(spark, sf_dir, kernel, ansi, data):
    """Every column of every row equals the SQL spelling to the last
    bit, or both spellings raise (a zero norm product under ANSI)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    arrow, ref, frames = _CASES[kernel](spark, sf_dir, data)
    for df in frames:
        got_df, want_df = arrow(df), ref(df)
        assert got_df.columns == want_df.columns
        assert "MapInArrow" in got_df._jdf.queryExecution().executedPlan().toString()
        try:
            want = want_df.collect()
        except (PySparkException, Py4JJavaError) as e:
            assert ansi and "DIVIDE_BY_ZERO" in str(e)
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                got_df.collect()
            continue
        assert _norm(got_df.collect()) == _norm(want)


# ---- Spark-free: the numpy fold and the sign rule --------------------------


def _left_fold(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def test_fold_dot_is_the_sequential_left_fold():
    """``fold_dot`` must be the JVM's left fold, not ``np.dot``'s
    pairwise sum: on [1e16, 1, -1e16, 1] the two disagree."""
    a, b = [1e16, 1.0, -1e16, 1.0], [1.0, 1.0, 1.0, 1.0]
    assert np.dot(a, b) != _left_fold(a, b)  # the input discriminates
    assert float(fold_dot(a, b)) == _left_fold(a, b) == 1.0
    rng = np.random.default_rng(7)
    V = rng.normal(size=(50, 33)) * 10.0 ** rng.integers(-8, 9, size=(50, 33))
    c = rng.normal(size=33)
    got = fold_dot(V, c)
    want = [_left_fold(row, c) for row in V.tolist()]
    assert [x.hex() for x in got.tolist()] == [x.hex() for x in want]
    # broadcasting (rows, 1, dim) x (bits, dim) folds every pair alike
    C = rng.normal(size=(5, 33))
    both = fold_dot(V[:, None, :], C)
    assert both.shape == (50, 5)
    assert both[7, 3].hex() == _left_fold(V[7].tolist(), C[3].tolist()).hex()
    assert fold_dot(np.zeros((3, 0)), np.zeros(0)).tolist() == [0.0] * 3


def test_row_fold_pads_like_zip_with():
    assert row_fold([1e16, 1.0, -1e16, 1.0], [1, 1, 1, 1]) == 1.0
    assert row_fold(None, [1.0]) is None
    assert row_fold([1.0, None], [1.0, 2.0]) is None
    assert row_fold([1.0, 2.0], [1.0]) is None   # width mismatch
    assert row_fold([], []) == 0.0
    assert row_fold([3.0], [1.0], lambda x, c: (x - c) * (x - c)) == 4.0


def test_sign_bits_follow_spark():
    """Spark's ``x >= 0`` is TRUE for NaN and for -0.0."""
    assert sign_bits([NAN, -0.0, 0.0, 2.0, -1e-300]).tolist() == [
        True, True, True, True, False
    ]
