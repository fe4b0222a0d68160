"""Per-layer metrics of the traced run.

Each layer is an engine module the benchmark calls. Its wall time and
call count come from the benchmark's own spans; its Spark jobs from the
job group each span sets; task time, GC, shuffle, spill and task retries
from the Spark event log, summed over the jobs of the layer's spans.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

MB = 1024 * 1024

LAYERS = (
    "serialize",
    "sinks.append_text",
    "sources.catalog",
    "operators.neardup_ingest",
    "operators.pairstore",
    "operators.corpusstats",
    "curate",
    "queries",
    "operators.similarity",
    "operators.pq",
)

# shuffle fetch wait is left out: in local mode every shuffle block is
# local and its wait reads 0
GENERIC = (
    ("busy_s", "s"),
    ("calls", "count"),
    ("jobs", "count"),
    ("task_s", "s"),
    ("gc_s", "s"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_retries", "count"),
    ("failed", "count"),
)

# layer-specific metrics: (name, unit, (layer, calls) whose spans' wall
# time it sums), or None when the workload computes it
CONSUMERS = ("q116", "q58")
SPECIFIC = (
    ("session.start_s", "s", None),
    ("sinks.append_text.rotations", "count", None),
    ("sinks.append_text.files_appended_frac", "ratio", None),
    ("sinks.append_text.output_mb", "MB", None),
    ("sources.catalog.register_s", "s", ("sources.catalog", ("register_appended_table",))),
    ("sources.catalog.read_s", "s", ("sources.catalog", ("explore_aggregate",))),
    ("operators.neardup_ingest.admit_frac", "ratio", None),
    ("operators.neardup_ingest.signatures_s", "s", ("operators.neardup_ingest", ("minhash_signatures_noop",))),
    ("operators.pairstore.signatures_s", "s", ("operators.pairstore", ("pair_signatures_noop",))),
    ("operators.pairstore.pairs", "count", None),
    ("operators.pairstore.refresh_s", "s", ("operators.pairstore", ("refresh_clusters",))),
    ("operators.pairstore.compact_s", "s", ("operators.pairstore", ("compact_pairstore",))),
    ("operators.corpusstats.read_s", "s", ("operators.corpusstats", ("read_token_stats",))),
    ("operators.corpusstats.compact_s", "s", ("operators.corpusstats", ("compact_corpus_stats",))),
    ("storefs.files", "count", None),
    ("storefs.mb", "MB", None),
    ("storefs.compact_rewritten_mb", "MB", None),
    ("curate.kept_frac", "ratio", None),
    ("curate.from_store_s", "s", ("curate", ("curate_from_store",))),
    *((f"queries.{q}_s", "s", ("queries", (q,))) for q in CONSUMERS),
    ("operators.similarity.ann_s", "s", ("operators.similarity", ("ann_sign_ivf",))),
    ("operators.similarity.blocked_s", "s", ("operators.similarity", ("blocked_topk",))),
    ("operators.similarity.srp_s", "s", ("operators.similarity", ("srp_neardup",))),
    ("operators.similarity.srp_pairs", "count", None),
    ("operators.similarity.recall", "ratio", None),
    ("operators.pq.encode_s", "s", ("operators.pq", ("pq_encode",))),
    ("operators.pq.encode_jobs", "count", None),
    ("tracing.overhead_items_per_s", "items/s", None),
)


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {f"{layer}.{m}": unit for layer in LAYERS for m, unit in GENERIC}
    out.update({name: unit for name, unit, _ in SPECIFIC})
    return out


def _group_tasks(eventlog_dir: str) -> dict[str, list]:
    """Task-end events of the event log, keyed by their job's group."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list] = defaultdict(list)
    # Spark writes a rolling log: a directory per application holding
    # events_<n>_<app> files next to status and checksum files
    paths = [
        os.path.join(d, n)
        for d, _, names in os.walk(eventlog_dir)
        for n in sorted(names)
        if n.startswith("events_")
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, job)
                elif kind == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]].append(ev)
    group_tasks: dict[str, list] = defaultdict(list)
    for st, evs in tasks.items():
        group_tasks[job_group.get(stage_job.get(st), "")].extend(evs)
    return group_tasks


def per_layer(spans: list[dict], eventlog_dir: str, extra: dict) -> dict[str, float]:
    """All per-layer metrics from the traced phase's spans and the event
    log; a layer the workload never calls reads 0. Stage probes count in
    a layer's generic metrics only when the layer has no other calls
    (``serialize``, whose one measured call is the probe)."""
    group_tasks = _group_tasks(eventlog_dir)
    out = {name: 0.0 for name in metric_units()}
    timed = [s for s in spans if s["phase"] == "traced" and s["layer"] in LAYERS]
    called = {s["layer"] for s in timed if not s["probe"]}
    for s in timed:
        if s["probe"] and s["layer"] in called:
            continue
        pre = s["layer"] + "."
        out[pre + "busy_s"] += s["end"] - s["start"]
        out[pre + "calls"] += 1
        out[pre + "jobs"] += len(s.get("job_ids", []))
        out[pre + "failed"] += not s["ok"]
        for ev in group_tasks.get(s.get("group", ""), []):
            tm = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            out[pre + "task_s"] += tm.get("Executor Run Time", 0) / 1000.0
            out[pre + "gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            out[pre + "shuffle_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            out[pre + "spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
            out[pre + "task_retries"] += info.get("Attempt", 0) > 0
    for name, _unit, source in SPECIFIC:
        if source is None:
            continue
        layer, calls = source
        out[name] = sum(
            s["end"] - s["start"] for s in timed if s["layer"] == layer and s["call"] in calls
        )
    out["operators.pq.encode_jobs"] = sum(
        len(s.get("job_ids", [])) for s in timed if s["call"] == "pq_encode"
    )
    for name, value in extra.items():
        out[name] = value
    return out
