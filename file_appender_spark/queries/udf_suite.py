"""UDF / UDTF surface + remaining inventory rows (SURVEY.md §2
Part B): vectorized pandas_udf with an oracle-expressible function,
table function via posexplode, min_by/max_by, embedding-cosine
near-dup, and the approximate aggregates (bench-only: registered
WITHOUT an oracle, so the driver records the weaker rows-only check —
approx results are legitimately engine-specific)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from file_appender_spark.operators.arraykernels import as_double, dot
from file_appender_spark.queries.registry import register
from file_appender_spark.sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "q62_embedding_neardup",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    p AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             round(list_dot_product(a.e, b.e) /
                   (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                   6) AS cos_sim
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT id1, id2, cos_sim FROM p WHERE cos_sim >= 0.4
    """,
)
def q62_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4).
    Exact all-pairs is the declared t2 semantics at test scale; the
    100 TB path is ``operators/similarity.srp_neardup`` — banded
    sign-random-projection LSH whose candidates come from a
    band-signature equi-join (q52's structure on the cosine metric),
    verified with this same exact cosine; equivalence and plan shape
    are pytest-pinned (test_operators.py srp tests,
    test_plans.py::test_srp_neardup_no_cross_join). Self-join keeps
    one triangle (id1 < id2). Norms are precomputed per row before
    the join — one array fold per PAIR instead of three (same effect
    as q54: the single fold stays in codegen, norm work drops to
    O(rows)); values bit-identical."""
    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )

    v = v.withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e"))))
    a = v.select(
        F.col("vec_id").alias("id1"), F.col("e").alias("e1"), F.col("nrm").alias("n1")
    )
    b = v.select(
        F.col("vec_id").alias("id2"), F.col("e").alias("e2"), F.col("nrm").alias("n2")
    )
    cos = F.round(
        dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2")),
        6,
    )
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.4)
    )


@register(
    "q63_pandas_udf",
    """
    SELECT event_id,
           round(ln(1.0 + value) * 2.0, 6) AS scaled
    FROM events
    WHERE value IS NOT NULL AND event_id % 9 = 0
    """,
)
def q63_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas_udf (Arrow series-to-series) whose function
    is declared, so the oracle can reproduce it in SQL. Demonstrates
    the UDF surface; real engine code prefers the equivalent built-in
    expression (the JVM path) — this query is the API's contract
    test."""

    @F.pandas_udf(T.DoubleType())
    def scaled(v: pd.Series) -> pd.Series:
        import numpy as np

        # raw value; the final round uses F.round (HALF_UP, matching
        # the oracle) — numpy's round is banker's and would diverge
        # on exact half-ulp boundaries
        return pd.Series(np.log1p(v) * 2.0)

    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value").isNotNull() & (F.col("event_id") % 9 == 0))
        .select("event_id", F.round(scaled("value"), 6).alias("scaled"))
    )


@register(
    "q64_udtf_posexplode",
    """
    WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents
               WHERE doc_id % 50 = 0)
    SELECT doc_id,
           generate_subscripts(toks, 1) - 1 AS pos,
           unnest(toks)                     AS tok
    FROM t
    """,
)
def q64_udtf_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-function surface: posexplode (one row per token with its
    0-based position) — the built-in form of an array-returning UDTF."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    return d.select(
        "doc_id", F.posexplode(F.split("text", r"\s+")).alias("pos", "tok")
    )


@register(
    "q65_minmax_by",
    """
    SELECT c_nationkey,
           arg_max(c_name, c_acctbal * 10000000 + c_custkey) AS richest,
           arg_min(c_name, c_acctbal * 10000000 + c_custkey) AS poorest
    FROM customer
    GROUP BY c_nationkey
    """,
)
def q65_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax aggregates) with a composite ordering
    value so ties on balance break on custkey (total order =>
    deterministic representative)."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.expr(
            "max_by(c_name, c_acctbal * 10000000 + c_custkey)"
        ).alias("richest"),
        F.expr(
            "min_by(c_name, c_acctbal * 10000000 + c_custkey)"
        ).alias("poorest"),
    )


@register(
    "q66_approx_aggs",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           CAST(1 AS INTEGER) AS cd_ok,
           CAST(1 AS INTEGER) AS med_ok,
           CAST(1 AS INTEGER) AS q25_ok,
           CAST(1 AS INTEGER) AS q75_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q66_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL count-distinct, GK quantiles) with a
    machine-checked ERROR CONTRACT. Sketch values are engine-specific
    (DuckDB cannot hash-match Spark's HLL/GK output), so what the
    oracle pins is (a) the exact distinct count and (b) four contract
    flags the SPARK side computes by comparing its own sketches to its
    own exact aggregates — the oracle asserts every flag is literally
    1, so a sketch that ever violated its published error bound turns
    the row red (r4 verdict task 5: q66 was the lone never-green row
    as a declared no-oracle query).

    Bounds are generous on purpose (flaky contracts are worse than no
    contract): HLL at default rsd 0.05 gets a 3-sigma 15% band;
    percentile_approx at accuracy 10000 has rank error <= n/10000, so
    a +-10-percentile-point band via exact PERCENTILE_DISC bounds
    (DISC, not interpolated — interpolated bounds fail legitimately on
    2-row groups where the disc median sits below the interpolated
    p40). The exact twins for the VALUES remain q14/q19."""
    li = _t(spark, sf_dir, "lineitem")

    def _disc(q: float) -> F.Column:
        return F.expr(
            f"percentile_disc({q}) WITHIN GROUP (ORDER BY l_extendedprice)"
        )

    a = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("_acd"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), 10000
        ).alias("_ap"),
        _disc(0.15).alias("_lo25"),
        _disc(0.35).alias("_hi25"),
        _disc(0.40).alias("_lo50"),
        _disc(0.60).alias("_hi50"),
        _disc(0.65).alias("_lo75"),
        _disc(0.85).alias("_hi75"),
    )

    def _ok(v: F.Column, lo: str, hi: str) -> F.Column:
        return ((v >= F.col(lo)) & (v <= F.col(hi))).cast("int")

    return a.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("_acd") - F.col("exact_parts"))
            <= 0.15 * F.col("exact_parts")
        )
        .cast("int")
        .alias("cd_ok"),
        _ok(F.element_at("_ap", 2), "_lo50", "_hi50").alias("med_ok"),
        _ok(F.element_at("_ap", 1), "_lo25", "_hi25").alias("q25_ok"),
        _ok(F.element_at("_ap", 3), "_lo75", "_hi75").alias("q75_ok"),
    )


@register(
    "q90_rowwise_udf",
    """
    SELECT doc_id,
           lang || ':' || CAST(n_chars % 97 AS VARCHAR)
             || ':' || substr(md5(text), 1, 4) AS tag
    FROM documents WHERE doc_id % 13 = 0
    """,
)
def q90_rowwise_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the declared `udf` surface of the
    SURVEY §2 UDF row) computing a content tag; the SAME logic is
    SQL-expressible, which is what makes it oracle-checkable.

    Scale: this is deliberately the SLOW path — one Python call per
    row with pickling on both sides; it exists because the API
    surface must (users migrate gradually), but every production
    query in this repo uses JVM expressions or Arrow-batched
    pandas_udf instead. ~10-100x penalty vs both, measured in
    SNIPPETS.md pattern [1] discussions."""
    import hashlib

    @F.udf(T.StringType())
    def tag_udf(lang: str, n_chars: int, text: str) -> str:
        h = hashlib.md5(text.encode("utf-8")).hexdigest()[:4]
        return f"{lang}:{n_chars % 97}:{h}"

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 13 == 0)
    return d.select("doc_id", tag_udf("lang", "n_chars", "text").alias("tag"))
