"""r13 probe (r12 verdict tasks 8 + 9): term attribution for
(a) ann_sign_ivf at the bench shape — the r12 Arrow wiring claimed a
win the close runs never showed (idle 1.0-2.1s both rounds);
(b) q150_prefix_sum — is the bench row really dominated by the
150k-row result collect + the deliberate two scans, or by the
operator's compute terms?
(c) q158_pq_encode — seed-codebook collect vs the generated-SQL
distance folds vs the 20k-row result collect.

One JVM, sf0.1, labeled jobs, noop sinks for compute-only terms
(guide §1.4). Consumer-shaped terms (.count()/.collect()) are timed
as the bench times them, stated per term.

Usage: python scripts/probe_annq_r13.py [sf_dir] > ANNQ_r13.json
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from file_appender_spark.session import get_spark
from file_appender_spark.sources.catalog import load_table


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn, out, key):
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    fn()
    out[key] = round(time.perf_counter() - t0, 3)
    spark.sparkContext.setJobDescription(None)
    print(f"# {label}: {out[key]}s", file=sys.stderr)


def ann_terms(spark, sf_dir) -> dict:
    from file_appender_spark.operators.arraykernels import as_double
    from file_appender_spark.operators.similarity import (
        _srp_coefs,
        _vec_dim,
        ann_sign_ivf,
        ivf_bits_for,
        srp_sigs_arrow,
    )

    out: dict = {}
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    # warm once at tiny sf exactly like the bench
    warm = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    ann_sign_ivf(
        warm,
        warm.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        ),
        k=10,
        target_cell_size=256,
    ).count()

    # term 1: the operator's own corpus count (n_rows=None path)
    timed(spark, "ann: corpus count", lambda: emb.count(), out, "t_count")
    n_rows = emb.count()
    n_bits = ivf_bits_for(n_rows, 256)
    out["n_bits"] = n_bits
    # term 2: _vec_dim + coefs (driver-side first() + generation)
    timed(
        spark,
        "ann: vec_dim+coefs",
        lambda: _srp_coefs(
            spark,
            n_bits,
            _vec_dim(
                emb.select(as_double(F.col("embedding")).alias("v")),
                F.col("v"),
            ),
        ),
        out,
        "t_dim_coefs",
    )
    dim = _vec_dim(
        emb.select(as_double(F.col("embedding")).alias("v")), F.col("v")
    )
    coefs = _srp_coefs(spark, n_bits, dim)
    # term 3: corpus-side Arrow signature pass alone
    timed(
        spark,
        "ann: corpus sigs arrow noop",
        lambda: noop(
            srp_sigs_arrow(emb, "vec_id", "embedding", n_bits, 1, coefs)
        ),
        out,
        "t_corpus_sigs_noop",
    )
    # term 4: full operator as benched (count), n_rows auto
    timed(
        spark,
        "ann: full count (auto n_rows)",
        lambda: ann_sign_ivf(emb, qv, k=10, target_cell_size=256).count(),
        out,
        "t_full_auto",
    )
    # term 5: full operator with n_rows supplied (drops the count job)
    timed(
        spark,
        "ann: full count (n_rows given)",
        lambda: ann_sign_ivf(
            emb, qv, k=10, target_cell_size=256, n_rows=n_rows
        ).count(),
        out,
        "t_full_nrows",
    )
    # term 6: repeat of term 4 in the warm session (plan-cache floor)
    timed(
        spark,
        "ann: full count rep2",
        lambda: ann_sign_ivf(emb, qv, k=10, target_cell_size=256).count(),
        out,
        "t_full_auto_rep2",
    )
    return out


def q150_terms(spark, sf_dir) -> dict:
    from file_appender_spark.queries import QUERIES

    out: dict = {}
    spec = QUERIES["q150_prefix_sum"]
    spec.spark_fn(spark, "/root/testdata/sf0.001").collect()  # warm
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    # term 1: the boundary quantile pass alone (scan 1)
    n_buckets = 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    probs = F.array(*[F.lit(i / n_buckets) for i in range(1, n_buckets)])
    timed(
        spark,
        "q150: boundary pass",
        lambda: o.agg(
            F.percentile_approx(F.col("o_orderkey").cast("double"), probs, 1000)
        ).first(),
        out,
        "t_boundaries",
    )
    # term 2: full plan, noop sink (compute only, both scans, no fetch)
    timed(
        spark,
        "q150: full noop",
        lambda: noop(spec.spark_fn(spark, sf_dir)),
        out,
        "t_full_noop",
    )
    # term 3: full plan, collect (the bench methodology, 150k rows)
    timed(
        spark,
        "q150: full collect",
        lambda: spec.spark_fn(spark, sf_dir).collect(),
        out,
        "t_full_collect",
    )
    # term 4: repeat collect (warm)
    timed(
        spark,
        "q150: full collect rep2",
        lambda: spec.spark_fn(spark, sf_dir).collect(),
        out,
        "t_full_collect_rep2",
    )
    return out


def q158_terms(spark, sf_dir) -> dict:
    from file_appender_spark.operators.pq import pq_encode, seed_codebook
    from file_appender_spark.queries import QUERIES

    out: dict = {}
    spec = QUERIES["q158_pq_encode"]
    spec.spark_fn(spark, "/root/testdata/sf0.001").collect()  # warm
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    # term 1: seed codebook (orderBy+limit collect of 16 rows)
    timed(
        spark,
        "q158: seed codebook",
        lambda: seed_codebook(v, "e", 4, 16),
        out,
        "t_codebook",
    )
    codebook = seed_codebook(v, "e", 4, 16)
    # term 2: encode projection alone, noop
    timed(
        spark,
        "q158: encode noop",
        lambda: noop(pq_encode(v, "e", codebook, keep_cols=["vec_id"])),
        out,
        "t_encode_noop",
    )
    # term 3: full query, collect (bench methodology, 20k rows)
    timed(
        spark,
        "q158: full collect",
        lambda: spec.spark_fn(spark, sf_dir).collect(),
        out,
        "t_full_collect",
    )
    timed(
        spark,
        "q158: full collect rep2",
        lambda: spec.spark_fn(spark, sf_dir).collect(),
        out,
        "t_full_collect_rep2",
    )
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="probe_annq_r13")
    res = {
        "sf_dir": sf_dir,
        "ann_sign_ivf": ann_terms(spark, sf_dir),
        "q150": q150_terms(spark, sf_dir),
        "q158": q158_terms(spark, sf_dir),
    }
    t0 = time.perf_counter()
    spark.range(100_000_000).selectExpr("sum(id) AS s").collect()
    res["calib_jvm_range_sum_1e8_sec"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(res, indent=1))


if __name__ == "__main__":
    main()
