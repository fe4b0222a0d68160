"""Repo benchmark: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload corpus_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. Each run starts a fresh Python+JVM worker
process (``worker.py``) with ``SPARK_GRAFT_CPUS`` set to the host's core
count and every Spark, temp and output path inside a per-run directory
under ``.perfbench_tmp/`` that is deleted afterwards, and samples the
memory (PSS) of the worker, its JVM and Python workers from /proc.

Prints every metric by name and unit, then, as the last line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the bounded end-to-end metrics (the wall-clock figures are
printed but not in the JSON line); ``--trace 1`` runs the timed phase
twice in the worker, untraced then traced, each with half the work, and
reports the per-layer metrics of the traced phase and the tracing
overhead (traced minus untraced ``items_per_s``). Every run leaves its
spans in ``.perfbench_out/``.
Exits non-zero, without a JSON line, if any output check fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402
import procfs  # noqa: E402

WORKLOADS = ("append_explore", "corpus_batch")
# the end-to-end metrics the JSON line carries (and BENCHMARK.json
# bounds): CPU cost, store footprint, quality, memory and set-up time
END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_item": "ms/item",
    "op_cpu_p50_s": "s",
    "read_cpu_p50_s": "s",
    "store_bytes_per_item": "B/item",
    "store_files": "count",
    "recall": "ratio",
    "peak_rss_mb": "MB",
}
# wall-clock figures, printed by name and unit but not bounded: on a
# shared host they move with the neighbours' load (see README)
WALL = {
    "items_per_s": "items/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
}
WORKER_TIMEOUT_S = 170


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


BURN = "import time\nn, end = 0, time.perf_counter() + {s}\nwhile time.perf_counter() < end:\n    n += 1\nprint(n)"


def _burn(procs: int, seconds: float = 0.1) -> int:
    """Loop iterations that ``procs`` concurrent processes complete in
    ``seconds``."""
    ps = [
        subprocess.Popen([sys.executable, "-c", BURN.format(s=seconds)], stdout=subprocess.PIPE, text=True)
        for _ in range(procs)
    ]
    return sum(int(p.communicate()[0]) for p in ps)


def host_context(cores: int) -> dict:
    """Effective parallel cores (a one-process burn against a
    ``cores``-process burn) and steal%, as context for the figures."""
    single = max(_burn(1), _burn(1))
    t0 = _cpu_ticks()
    total = _burn(cores)
    t1 = _cpu_ticks()
    dt = [b - a for a, b in zip(t0, t1)]
    return {
        "cores": cores,
        "effective_cores": round(total / max(1, single), 2),
        "steal_pct": round(100.0 * dt[7] / max(1, sum(dt)), 2),
    }


def run_worker(root: str, args, tmp: str) -> tuple[dict, float]:
    """Run one worker process; returns (its result record, peak PSS in MB)."""
    work = tempfile.mkdtemp(prefix="w", dir=tmp)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    result = os.path.join(work, "result.json")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    spans = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}-trace{args.trace}.jsonl")
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result, "--spans", spans,
    ]
    # own process group: the JVM and its Python workers are stopped with it
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
    )
    peak = 0
    deadline = time.monotonic() + WORKER_TIMEOUT_S
    try:
        while proc.poll() is None:
            peak = max(peak, procfs.tree_pss(proc.pid))
            if time.monotonic() > deadline:
                raise TimeoutError(f"worker exceeded {WORKER_TIMEOUT_S}s")
            time.sleep(0.2)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if not os.path.exists(result):
        raise RuntimeError(f"worker exited {proc.returncode} without a result")
    with open(result) as f:
        return json.load(f), peak / (1024 * 1024)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated benchmark still stops its worker's process group and
    # removes its run directory (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "file_appender_spark", "__init__.py")):
        print("perfbench: no file_appender_spark package in the current directory", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    ticks0 = _cpu_ticks()
    try:
        res, rss = run_worker(root, args, tmp)
        ticks1 = _cpu_ticks()
        host = host_context(os.cpu_count() or 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    dt = [b - a for a, b in zip(ticks0, ticks1)]
    host["run_steal_pct"] = round(100.0 * dt[7] / max(1, sum(dt)), 2)

    info = res["info"]
    print(f"# {args.workload} seed={args.seed} host={json.dumps(host)}")
    for err in info["errors"]:
        print(f"# error: {err}")
    if not res["correct"]:
        print(f"# FAILED: {res['failed']} of {res['attempted']} calls")
        return 1

    metrics = dict(res["metrics"], peak_rss_mb=rss)
    print(
        f"# op samples n={info['op_samples']} tail=p{info['op_tail_pct']:g}, "
        f"read samples n={info['read_samples']} tail=p{info['read_tail_pct']:g}, "
        f"{info['rounds']} rounds in {info['timed_s']:.2f}s; set-up: session {info['session_s']:.2f}s, "
        f"generate {info['generate_s']:.2f}s, warm-up {info['warmup_s']:.2f}s"
    )
    print(f"ops_failed_frac          {res['failed'] / res['attempted']:>16.6g} ratio ({res['failed']}/{res['attempted']})")
    for name, unit in {**END_TO_END, **WALL}.items():
        print(f"{name:<24} {metrics[name]:>16.6g} {unit}")
    out = {name: {"value": metrics[name], "unit": unit} for name, unit in END_TO_END.items()}
    if args.trace:
        per = res["layer"]
        units = layers.metric_units()
        for name, unit in units.items():
            print(f"{name:<44} {per[name]:>14.6g} {unit}")
        out = {name: {"value": per[name], "unit": unit} for name, unit in units.items()}
    bad = [n for n, m in out.items() if not math.isfinite(m["value"])]
    if bad:
        print(f"# FAILED: non-finite metrics {bad}")
        return 1
    print(json.dumps({"correct": True, "attempted": res["attempted"], "failed": res["failed"], "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
