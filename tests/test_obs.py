"""Run records (``file_appender_spark.obs``): job tagging under a
caller's job group, failure records, the buffer bound, thread
isolation, and the pair-store build's stage split."""

from __future__ import annotations

import sys
import threading

import pytest

from file_appender_spark import obs
from file_appender_spark.operators.pairstore import build_pair_graph
from file_appender_spark.sources.catalog import load_table
from scripts.probe import stage_split


def _new_records(before: set) -> list[dict]:
    return [r for r in obs.records() if r["seq"] not in before]


def test_build_keeps_callers_job_group_and_splits_stages(spark, sf_dir, tmp_path):
    """The group a caller sets (perfbench sets one per call) keeps every
    job of the call; the call's records hold exactly that job set, each
    job in one record; the split has the pair store's stages under the
    names scripts/probe.py prints."""
    docs = load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    before = {r["seq"] for r in obs.records()}
    group = "test_obs_outer_group"
    sc.setJobGroup(group, "outer")
    try:
        build_pair_graph(spark, docs, str(tmp_path / "store"))
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    group_jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    recs = _new_records(before)
    staged = [j for r in recs for j in r["jobs"]]
    assert group_jobs and sorted(staged) == sorted(group_jobs)
    assert all(r["ok"] and r["store"] == str(tmp_path / "store") for r in recs)
    split = stage_split(recs)
    assert list(split) == [
        "pairstore.build.signatures",
        "pairstore.build.pairs",
        "pairstore.refresh.components",
        "pairstore.refresh.clusters_write",
    ]
    assert sum(s["jobs"] for s in split.values()) == len(group_jobs)


def test_failed_stage_records_and_restores(spark):
    sc = spark.sparkContext
    sc.setJobDescription("before")
    sc.addJobTag("caller-tag")
    try:
        with pytest.raises(ZeroDivisionError):
            with obs.stage(spark, "test", "outer"):
                with obs.stage(spark, "test", "boom"):
                    spark.range(3).count()
                    1 / 0
        assert sc.getLocalProperty("spark.job.description") == "before"
        assert set(sc.getJobTags()) == {"caller-tag"}
    finally:
        sc.removeJobTag("caller-tag")
        sc.setJobDescription(None)
    boom, outer = obs.records()[-2:]
    assert (boom["stage"], boom["ok"], outer["stage"], outer["ok"]) == (
        "boom", False, "outer", False
    )
    # the count's jobs are the inner stage's alone
    assert boom["jobs"] and outer["jobs"] == []


class _StubContext(threading.local):
    """The SparkContext surface a stage touches, without a JVM; tags
    and properties are per thread, as in Spark."""

    def __init__(self):
        self.tags: set = set()
        self.props: dict = {}
        self._jsc = self

    def getJobTags(self):
        return set(self.tags)

    def addJobTag(self, tag):
        self.tags.add(tag)

    def removeJobTag(self, tag):
        self.tags.discard(tag)

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setJobDescription(self, value):
        self.props["spark.job.description"] = value

    def sc(self):
        return self

    def statusTracker(self):
        return self

    def getJobIdsForTag(self, tag):
        return []


class _StubSession:
    sparkContext = _StubContext()


def test_record_buffer_is_bounded():
    stub = _StubSession()
    for _ in range(obs.MAX_RECORDS + 5):
        with obs.stage(stub, "test", "bound"):
            pass
    recs = obs.records()
    assert len(recs) == obs.MAX_RECORDS
    seqs = [r["seq"] for r in recs]
    assert seqs == sorted(seqs) and recs[-1]["op"] == "test"


def test_stages_from_many_threads_lose_no_record():
    stub = _StubSession()
    n_threads, per_thread = 8, 200
    before = {r["seq"] for r in obs.records()}

    def run(i: int) -> None:
        for _ in range(per_thread):
            with obs.stage(stub, "stress", f"t{i}"):
                pass

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    new = [r for r in obs.records() if r["seq"] not in before]
    assert len(new) == len({r["seq"] for r in new}) == n_threads * per_thread


def test_concurrent_stages_get_disjoint_jobs(spark):
    out: dict = {}
    errors: list = []

    def run(name: str) -> None:
        try:
            with obs.stage(spark, "test", name) as rec:
                for _ in range(3):
                    spark.range(1000).selectExpr("sum(id)").collect()
            out[name] = rec["jobs"]
        except Exception as e:  # surfaced below, not swallowed
            errors.append(e)

    threads = [threading.Thread(target=run, args=(f"t{i}",)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads) and not errors
    # the same query three times in each thread: the same job count
    assert len(out["t0"]) == len(out["t1"]) >= 3
    assert not set(out["t0"]) & set(out["t1"])
