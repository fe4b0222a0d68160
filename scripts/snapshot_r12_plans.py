#!/usr/bin/env python
"""Write plans/r12/<name>_{before|after}.txt — explain("formatted")
for every query/operator path round 12 touched. Run once in the
r11-close worktree with SUFFIX=before OUT_DIR=<repo>/plans/r12, once
at HEAD with SUFFIX=after.

Captured:
  - q163_wjaccard_capped, q267_icws_error_contract: the two driver
    queries riding operators/wjaccard._exact_verify (rewritten r12 to
    occurrence-indexed array_intersect).
  - ahash_ingest_sig_stage: the image-ingest signature+index stage
    (r12 fused it into one spark.sql statement). Captured at operator
    level because the ingest epoch executes eagerly inside
    imagedup_ingest_batch and returns a localCheckpoint (whose plan is
    just a scan) — the per-epoch wall evidence is
    EPOCH_OVERHEAD_PROBE_r12.json instead.
  - minhash_lean_dup_admitted: the lean-epoch admitted frame BEFORE
    the checkpoint (reconstructed via the module's internal seams) is
    not reconstructable without executing a store epoch, so the text
    path's evidence is the job/stage-count probe; the fused signature
    frame itself is unchanged since r11 (bit-equality pinned).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SUFFIX = os.environ.get("SUFFIX", "after")
OUT = os.environ.get("OUT_DIR", os.path.join(REPO, "plans", "r12"))
SF = "/root/testdata/sf0.1"


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    from pyspark.sql import functions as F

    from file_appender_spark.queries import QUERIES
    from file_appender_spark.session import get_spark
    from file_appender_spark.sources.catalog import load_table

    spark = get_spark(app_name="snapshot_r12_plans")

    def dump(name: str, df) -> None:
        path = os.path.join(OUT, f"{name}_{SUFFIX}.txt")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")

    for q in ("q163_wjaccard_capped", "q267_icws_error_contract"):
        dump(q, QUERIES[q].spark_fn(spark, SF))

    # image-ingest signature stage, operator level
    from file_appender_spark.operators.neardup_ingest import _spread

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    pay = _spread(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )
    try:
        # the shipped ingest spelling: r12-final = the Arrow pass
        # (+ JVM index-column projection); r12-mid = the one-statement
        # SQL spelling; r11 = the DataFrame chain (fallback below)
        from file_appender_spark.operators.imagehash import image_sigs_arrow
        from file_appender_spark.operators.neardup_ingest import (
            _modality_spec,
            _with_index_cols,
        )

        spec = _modality_spec({"modality": "ahash"})
        sig = _with_index_cols(
            image_sigs_arrow(pay, "doc_id", "payload", "ahash"),
            4,
            spec["fh_cols"],
        )
    except ImportError:
        from file_appender_spark.operators.imagehash import ahash_wide
        from file_appender_spark.operators.neardup_ingest import (
            _modality_spec,
            _with_index_cols,
        )

        spec = _modality_spec({"modality": "ahash"})
        sig = _with_index_cols(
            ahash_wide(pay, "doc_id", "payload").select(
                "doc_id", "b0", "b1", "b2", "b3"
            ),
            4,
            spec["fh_cols"],
        )
    dump("ahash_ingest_sig_stage", sig)

    # SRP signature stage (srp_neardup + embedding ingest)
    from file_appender_spark.operators.arraykernels import as_double, dot
    from file_appender_spark.operators.similarity import (
        _srp_band_sigs_sql,
        _srp_coefs,
        _vec_dim,
        srp_params_for,
    )

    emb = load_table(spark, SF, "embeddings")
    n_bits, n_bands = srp_params_for(emb.count(), threshold=0.95)
    c = emb.select(F.col("vec_id"), as_double(F.col("embedding")).alias("v"))
    dim = _vec_dim(c, F.col("v"))
    coefs = _srp_coefs(spark, n_bits, dim)
    try:
        from file_appender_spark.operators.similarity import srp_sigs_arrow

        srp_sig = srp_sigs_arrow(emb, "vec_id", "embedding", n_bits, n_bands, coefs)
    except ImportError:
        band_sigs = _srp_band_sigs_sql("v", n_bits, n_bands, coefs)
        srp_sig = c.select(
            F.col("vec_id"),
            "v",
            F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
            *[band_sigs[bi].alias(f"b{bi}") for bi in range(n_bands)],
        )
    dump("srp_sig_stage", srp_sig)

    # rolling-CDC operator (r12: per-text stage dispatched to the
    # vectorized Arrow pass under the default ws; before = the
    # interpreted let_expr/filter-HOF projection)
    from file_appender_spark.operators.chunking import cdc_chunk_stats_rolling

    dump("cdc_rolling_stats", cdc_chunk_stats_rolling(load_table(spark, SF, "documents")))

    spark.stop()


if __name__ == "__main__":
    main()
