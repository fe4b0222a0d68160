"""Run records: what a store or operator call did, stage by stage.

``stage(spark, op, name)`` brackets one stage of a library call: its
Spark jobs carry a job tag of their own and the description ``op:
name``. It never sets the job group, which belongs to the caller (a
benchmark's per-call job accounting). On exit it appends one record to
a bounded buffer (``records()``): ``seq`` (process-wide, taken when
the stage opens), ``op``, ``stage``, ``wall_s``, ``jobs`` (the job ids
under the stage's tag) and ``ok`` (False when the stage raised), plus
what the call already knows: ``store``, ``epoch``, ``rows``,
``files``, ``manifest_version``, ``mode`` or ``history_path``.

Every job lands in exactly one record: a stage opened inside another
suspends the outer stage's tag until it exits. Spark keeps tags and
descriptions per thread, so concurrent stages get disjoint jobs.
"""

from __future__ import annotations

import itertools
import time
from collections import deque
from contextlib import contextmanager

MAX_RECORDS = 4096
_TAG = "fas-stage-"
_RECORDS: deque = deque(maxlen=MAX_RECORDS)
_SEQ = itertools.count()


def records() -> list[dict]:
    """The buffered run records, oldest first."""
    return list(_RECORDS)


@contextmanager
def stage(spark, op: str, name: str, **known):
    """Run the body as stage ``name`` of call ``op``; yields the record
    (seeded with ``known`` fields) for the body to add what it learns."""
    sc = spark.sparkContext
    rec = {"seq": next(_SEQ), "op": op, "stage": name, "ok": False, **known}
    tag = f"{_TAG}{rec['seq']}"
    outer = [t for t in sc.getJobTags() if t.startswith(_TAG)]
    desc = sc.getLocalProperty("spark.job.description")
    for t in outer:
        sc.removeJobTag(t)
    sc.addJobTag(tag)
    sc.setJobDescription(f"{op}: {name}")
    t0 = time.perf_counter()
    try:
        yield rec
        rec["ok"] = True
    finally:
        rec["wall_s"] = time.perf_counter() - t0
        sc.removeJobTag(tag)
        for t in outer:
            sc.addJobTag(t)
        sc.setJobDescription(desc)
        tracker = sc._jsc.sc().statusTracker()
        rec["jobs"] = sorted(int(j) for j in tracker.getJobIdsForTag(tag))
        _RECORDS.append(rec)
