#!/usr/bin/env python
"""r12 probe: srp_neardup stage attribution at the bench shape
(sf0.1 embeddings, threshold 0.95, sized params) — sigs stage vs
candidate join vs exact-cosine verify — then the Arrow sig-stage
candidate (sequential-fold matvec, bit-exact) vs the SQL spelling.

Writes SRP_BREAKDOWN_r12.json."""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from file_appender_spark.session import get_spark  # noqa: E402
from file_appender_spark.sources.catalog import load_table  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def medtime(fn, reps=3):
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(round(time.perf_counter() - t0, 3))
    ts.sort()
    return ts[len(ts) // 2], ts


def main() -> None:
    from file_appender_spark.operators.arraykernels import as_double, dot
    from file_appender_spark.operators.similarity import (
        _srp_band_sigs_sql,
        _srp_coefs,
        _vec_dim,
        srp_neardup,
        srp_params_for,
    )

    spark = get_spark(app_name="probe_srp_r12")
    out: dict = {"probe": "r12_srp_breakdown"}
    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    n = emb.count()
    n_bits, n_bands = srp_params_for(n, threshold=0.95)
    out.update(n_rows=n, n_bits=n_bits, n_bands=n_bands)

    c = emb.select(F.col("vec_id"), as_double(F.col("embedding")).alias("v"))
    dim = _vec_dim(c, F.col("v"))
    out["dim"] = dim
    coefs = _srp_coefs(spark, n_bits, dim)
    band_sigs = _srp_band_sigs_sql("v", n_bits, n_bands, coefs)

    sigs_plan = c.select(
        F.col("vec_id"),
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        *[band_sigs[bi].alias(f"b{bi}") for bi in range(n_bands)],
    )
    # warm
    force(sigs_plan)
    spark.sparkContext.setJobDescription("srp: sigs stage (SQL folds)")
    out["sigs_sql_sec"], out["sigs_sql_reps"] = medtime(lambda: force(sigs_plan))

    # persisted sigs for downstream attribution
    sigs = sigs_plan.localCheckpoint(eager=True)
    bands = sigs.select(
        "vec_id",
        F.expr(
            f"stack({n_bands}, "
            + ", ".join(f"{bi}, b{bi}" for bi in range(n_bands))
            + ") AS (band, sig)"
        ),
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand_plan = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("id1"), F.col("y.vec_id").alias("id2"))
        .distinct()
    )
    out["n_cand"] = cand_plan.count()
    spark.sparkContext.setJobDescription("srp: candidate join")
    out["cand_sec"], out["cand_reps"] = medtime(lambda: force(cand_plan))

    cand = cand_plan.localCheckpoint(eager=True)
    s1 = sigs.select(F.col("vec_id").alias("id1"), F.col("v").alias("v1"), F.col("nrm").alias("n1"))
    s2 = sigs.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"), F.col("nrm").alias("n2"))
    cos = F.round(dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), 6)
    verify_plan = (
        cand.join(s1, "id1").join(s2, "id2")
        .select("id1", "id2", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.95)
    )
    force(verify_plan)
    spark.sparkContext.setJobDescription("srp: exact verify")
    out["verify_sec"], out["verify_reps"] = medtime(lambda: force(verify_plan))

    # end-to-end as benched
    spark.sparkContext.setJobDescription("srp: end-to-end (count, as benched)")
    out["end_to_end_sec"], out["end_to_end_reps"] = medtime(
        lambda: srp_neardup(emb, threshold=0.95, n_bits=n_bits, n_bands=n_bands).count()
    )
    spark.sparkContext.setJobDescription(None)

    path = os.path.join(REPO, "SRP_BREAKDOWN_r12.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
