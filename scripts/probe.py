#!/usr/bin/env python
"""One probe driver for the library's operators: arms run interleaved.

    python scripts/probe.py build_pair_graph SF_DIR --reps 3 \\
        --arm conf:spark.sql.shuffle.partitions=8 \\
        --arm file_appender_spark.operators.components:_DRIVER_EDGE_BOUND=-1

Each arm changes one thing for its runs and restores it afterwards:
``conf:key=value`` sets a Spark SQL conf; ``module:attr=value`` (a
seam) sets a module attribute, the value parsed as a Python literal
(else kept as a string); ``base`` changes nothing. One untimed warm-up
call goes first. Then each rep runs every arm once, the arm order
alternating between reps. A call whose result is a lazy DataFrame
writes it through a noop sink inside a ``probe.sink`` stage.

Prints one JSON line: per arm, the medians over reps of wall seconds,
CPU seconds of this process tree (driver, JVM and Python workers),
Spark jobs and the host probe (effective cores just before the run,
steal% during it), plus the per-stage split read from the library's
run records (``file_appender_spark.obs``): wall seconds and jobs per
``op.stage``. ``jobs_add_up`` is true when, in every rep, the stages'
jobs summed to the call's job count, which the probe takes from a job
group of its own around the call. The host probe and the CPU reader
are perfbench's.
"""

from __future__ import annotations

import argparse
import ast
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import _cpu_ticks, host_context, procfs  # noqa: E402

from file_appender_spark import obs  # noqa: E402


def _docs(spark, sf):
    from file_appender_spark.sources.catalog import load_table

    return load_table(spark, sf, "documents").select("doc_id", "text", "source")


def _vectors(spark, sf):
    from file_appender_spark.sources.catalog import load_table

    return load_table(spark, sf, "embeddings").select("vec_id", "embedding")


def _pair_graph(spark, sf, work):
    from file_appender_spark.operators.pairstore import build_pair_graph

    docs = _docs(spark, sf)
    return lambda: build_pair_graph(spark, docs, os.path.join(work, "store"))


def _pair_ingest(spark, sf, work):
    from file_appender_spark.operators import pairstore

    store = os.path.join(work, "store")
    docs = _docs(spark, sf)
    pairstore.build_pair_graph(spark, docs.filter("doc_id % 2 = 0"), store)
    return lambda: (
        pairstore.pairstore_ingest_batch(
            spark, docs.filter("doc_id % 2 = 1"), store, batch_id=1
        ),
        pairstore.refresh_clusters(spark, store),
    )


def _corpus_stats(spark, sf, work):
    from file_appender_spark.operators.corpusstats import build_corpus_stats

    docs = _docs(spark, sf)
    return lambda: build_corpus_stats(spark, docs, os.path.join(work, "store"))


def _curate(spark, sf, work):
    from file_appender_spark.curate import curate

    docs = _docs(spark, sf)
    return lambda: curate(spark, docs, os.path.join(work, "out"))


def _text_ingest(spark, sf, work):
    from file_appender_spark.operators.neardup_ingest import textdup_ingest_batch

    store = os.path.join(work, "store")
    docs = _docs(spark, sf)
    textdup_ingest_batch(spark, docs.filter("doc_id % 2 = 0"), store)
    batch = docs.filter("doc_id % 2 = 1")
    return lambda: textdup_ingest_batch(spark, batch, store)


def _srp(spark, sf, work):
    from file_appender_spark.operators.similarity import srp_neardup

    v = _vectors(spark, sf)
    return lambda: srp_neardup(v, threshold=0.9)


def _ann(spark, sf, work):
    from file_appender_spark.operators.similarity import ann_sign_ivf

    v = _vectors(spark, sf)
    q = v.withColumnRenamed("vec_id", "qid").limit(50)
    return lambda: ann_sign_ivf(v, q, k=10)


def _pq(spark, sf, work):
    from file_appender_spark.operators.pq import pq_encode, pq_train

    v = _vectors(spark, sf)
    codebook = pq_train(v, "embedding", m=4, k=16, iters=1)
    return lambda: pq_encode(v, "embedding", codebook)


# name -> fn(spark, sf_dir, work_dir): untimed set-up (input frames, a
# store to ingest into) that returns the measured call
OPERATORS = {
    "build_pair_graph": _pair_graph,
    "pairstore_ingest_batch": _pair_ingest,
    "build_corpus_stats": _corpus_stats,
    "curate": _curate,
    "textdup_ingest_batch": _text_ingest,
    "srp_neardup": _srp,
    "ann_sign_ivf": _ann,
    "pq_encode": _pq,
}


def stage_split(recs: list[dict]) -> dict:
    """Wall seconds and job count per ``op.stage`` over run records."""
    out: dict = defaultdict(lambda: {"wall_s": 0.0, "jobs": 0})
    for r in recs:
        st = out[f"{r['op']}.{r['stage']}"]
        st["wall_s"] += r["wall_s"]
        st["jobs"] += len(r["jobs"])
    return dict(out)


def _literal(text: str):
    try:
        return ast.literal_eval(text)
    except (ValueError, SyntaxError):
        try:
            return float(text)  # inf, nan
        except ValueError:
            return text


def _apply(spark, arm: str):
    """Apply ``arm``; returns the function that restores it."""
    if arm == "base":
        return lambda: None
    target, value = arm.split("=", 1)
    kind, key = target.split(":", 1)
    if kind == "conf":
        old = spark.conf.get(key, None)
        spark.conf.set(key, value)
        if old is None:
            return lambda: spark.conf.unset(key)
        return lambda: spark.conf.set(key, old)
    mod = importlib.import_module(kind)
    old = getattr(mod, key)
    setattr(mod, key, _literal(value))
    return lambda: setattr(mod, key, old)


def _call(spark, fn, sf: str, base: str, label: str) -> dict:
    """One call in a fresh work dir; its figures and run records."""
    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="probe-", dir=base)
    try:
        call = fn(spark, sf, work)
        host = host_context(os.cpu_count() or 1)
        seen = {r["seq"] for r in obs.records()}
        group = f"probe|{label}|{time.monotonic_ns()}"
        sc.setJobGroup(group, f"probe {label}")
        ticks0, cpu0 = _cpu_ticks(), procfs.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            out = call()
            if hasattr(out, "write"):
                with obs.stage(spark, "probe", "sink"):
                    out.write.format("noop").mode("overwrite").save()
        finally:
            wall = time.perf_counter() - t0
            cpu = procfs.tree_cpu_s(os.getpid()) - cpu0
            dt = [b - a for a, b in zip(ticks0, _cpu_ticks())]
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    recs = [r for r in obs.records() if r["seq"] not in seen]
    staged = sorted(j for r in recs for j in r["jobs"])
    return {
        "wall_s": wall,
        "cpu_s": cpu,
        "jobs": len(jobs),
        "effective_cores": host["effective_cores"],
        "steal_pct": 100.0 * dt[7] / max(1, sum(dt)),
        "stages": stage_split(recs),
        "jobs_add_up": staged == sorted(jobs),
    }


def _medians(runs: list[dict]) -> dict:
    def med(values):
        return round(statistics.median(values), 4)

    names = list(dict.fromkeys(n for r in runs for n in r["stages"]))
    empty = {"wall_s": 0.0, "jobs": 0}
    return {
        **{
            k: med([r[k] for r in runs])
            for k in ("wall_s", "cpu_s", "jobs", "effective_cores", "steal_pct")
        },
        "stages": {
            n: {
                k: med([r["stages"].get(n, empty)[k] for r in runs])
                for k in ("wall_s", "jobs")
            }
            for n in names
        },
        "jobs_add_up": all(r["jobs_add_up"] for r in runs),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("operator", choices=sorted(OPERATORS))
    ap.add_argument("sf_dir", help="generated data directory (documents, embeddings)")
    ap.add_argument("--arm", action="append", required=True,
                    help="base | conf:key=value | module:attr=value (repeatable)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--work", default=tempfile.gettempdir(),
                    help="where each call's store and output dirs go")
    args = ap.parse_args()
    for arm in args.arm:
        if arm != "base" and ("=" not in arm or ":" not in arm.split("=", 1)[0]):
            ap.error(f"bad arm {arm!r}: want base, conf:key=value or module:attr=value")

    from file_appender_spark.session import get_spark

    spark = get_spark(app_name="probe")
    fn = OPERATORS[args.operator]
    _call(spark, fn, args.sf_dir, args.work, "warm-up")
    runs: dict[str, list[dict]] = {arm: [] for arm in args.arm}
    for rep in range(args.reps):
        order = args.arm if rep % 2 == 0 else args.arm[::-1]
        for arm in order:
            restore = _apply(spark, arm)
            try:
                run = _call(spark, fn, args.sf_dir, args.work, arm)
            finally:
                restore()
            runs[arm].append(run)
            print(f"# rep {rep} {arm}: {run['wall_s']:.2f}s wall, "
                  f"{run['cpu_s']:.2f}s cpu, {run['jobs']} jobs", file=sys.stderr)
    print(json.dumps({
        "operator": args.operator,
        "sf_dir": args.sf_dir,
        "reps": args.reps,
        "arms": {arm: _medians(rs) for arm, rs in runs.items()},
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
