"""ANNCOS_PROBE_r13 — A/B the ann_sign_ivf SCORING stage: interpreted
``aggregate(zip_with(...))`` dot products per candidate pair vs the
vectorized cos_scores_arrow pass (guide §4.2). Arms are the SAME
ann_sign_ivf call with only the scoring seam swapped (monkeypatch), so
the probe isolates exactly the changed term; interleaved reps in one
JVM, noop sink, bench shape (bench.py's extras row:
target_cell_size=256, k=10, queries = the corpus itself).

Run:  python scripts/probe_anncos_r13.py [sf_dir] [out.json]
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
)
out_path = sys.argv[2] if len(sys.argv) > 2 else "ANNCOS_PROBE_r13.json"
cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

spark = (
    SparkSession.builder.master(f"local[{cpus}]")
    .appName("anncos_probe_r13")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "8g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from file_appender_spark.operators import similarity as sim  # noqa: E402
from file_appender_spark.operators.arraykernels import dot  # noqa: E402
from file_appender_spark.sources.catalog import load_table  # noqa: E402

emb = load_table(spark, sf_dir, "embeddings")
qv = emb.select(F.col("vec_id").alias("qid"), "embedding")
n = emb.count()

arrow_scores = sim.cos_scores_arrow


def expr_scores(pairs, qid_col, id_col):
    """The pre-r13 spelling of the scoring stage, byte-for-byte the
    expression ann_sign_ivf used before cos_scores_arrow."""
    return pairs.select(
        qid_col,
        id_col,
        (
            dot(F.col("qv"), F.col("v"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_raw"),
    )


def run(tag, scores_fn):
    sim.cos_scores_arrow = scores_fn
    try:
        spark.sparkContext.setJobDescription(f"anncos_{tag}")
        t0 = time.perf_counter()
        df = sim.ann_sign_ivf(emb, qv, k=10, target_cell_size=256, n_rows=n)
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)
    finally:
        sim.cos_scores_arrow = arrow_scores


res = {"sf_dir": sf_dir, "cpus": cpus, "n_vectors": n,
       "expr": [], "arrow": []}

# result-equality gate before timing: same rows out of both arms
sim.cos_scores_arrow = expr_scores
a = sorted(map(tuple, sim.ann_sign_ivf(emb, qv, k=10, target_cell_size=256,
                                       n_rows=n).collect()))
sim.cos_scores_arrow = arrow_scores
b = sorted(map(tuple, sim.ann_sign_ivf(emb, qv, k=10, target_cell_size=256,
                                       n_rows=n).collect()))
res["results_equal"] = a == b
res["n_result_rows"] = len(b)

for rep in range(4):
    res["expr"].append(run(f"expr_{rep}", expr_scores))
    res["arrow"].append(run(f"arrow_{rep}", arrow_scores))

t0 = time.perf_counter()
spark.range(100_000_000).selectExpr("sum(id)").collect()
res["calib_jvm_range_sum_1e8_sec"] = round(time.perf_counter() - t0, 3)
res["median_expr"] = sorted(res["expr"])[len(res["expr"]) // 2]
res["median_arrow"] = sorted(res["arrow"])[len(res["arrow"]) // 2]
res["speedup_median"] = round(res["median_expr"] / res["median_arrow"], 2)

with open(out_path, "w") as f:
    json.dump(res, f, indent=1)
print(json.dumps(res))
spark.stop()
