"""One benchmark repetition: a fresh Python+JVM process that generates the
seeded inputs, warms up, runs one workload closed-loop (one client),
checks its outputs and writes a result record.

``run.py`` launches this with the environment already pinned (core
count, local dirs, package path); it is not meant to be run by hand.

A workload is a sequence of rounds; ``--seconds`` sets how many (see
``run_phase``), so throughput always divides whole rounds by their time.
Every call into the engine goes through ``Tracer.call``, which records a span
(layer, call, start, end, parent); latency samples also record the CPU
seconds the process tree used. With ``--trace 1`` the span also sets
a Spark job group so its jobs can be read back through ``statusTracker``
and the Spark event log; end-to-end metrics come from untraced runs.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from collections.abc import Callable  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from typing import NamedTuple  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import layers  # noqa: E402
import procfs  # noqa: E402

MB = 1024 * 1024
HEAP = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "1g")


class CheckFailed(Exception):
    pass


class Workload(NamedTuple):
    round_s: float  # a run does --seconds / round_s rounds
    warm: Callable[[], object]  # untimed calls of every kind a round makes
    round: Callable[[int], int]  # timed round r (from 1); returns items done
    result: Callable[[], dict]  # store size, recall and per-layer figures
    # traced run only: more layers measured after the traced phase;
    # returns their per-layer figures
    traced_extra: Callable[[], dict] | None = None


def cpu_now() -> float:
    """CPU seconds used so far by this process, its JVM and the JVM's
    Python workers."""
    return procfs.tree_cpu_s(os.getpid())


class Tracer:
    """In-memory spans around every engine call, plus the run clock.

    ``sample(kind)`` marks one latency sample of the workload's primary
    ("op") or read ("read") call, timed both in wall seconds and in CPU
    seconds of the whole process tree; ``call(layer, name)`` marks one
    call into an engine layer. ``untimed(span)`` brackets the benchmark's
    own checks, whose wall and CPU time count neither toward the phase
    nor toward the enclosing sample. A traced run has two timed phases,
    the first untraced, so the difference between them is the tracing
    overhead."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.traced = False
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.cpu_samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.items = 0
        self._stack: list[int] = []
        self._paused = self._paused_cpu = 0.0
        self.t_timed: float | None = None
        self.t_end: float | None = None
        self.cpu_timed = self.cpu_end = 0.0

    @property
    def timing(self) -> bool:
        return self.t_timed is not None and self.t_end is None

    def start_timed(self, traced: bool) -> None:
        """Start a timed phase; samples, items and counters restart."""
        self.traced = traced
        self.samples.clear()
        self.cpu_samples.clear()
        self.counters.clear()
        self.items = 0
        self._paused = self._paused_cpu = 0.0
        self.t_end = None
        self.cpu_timed = cpu_now()
        self.t_timed = time.perf_counter()

    def stop_timed(self) -> None:
        self.t_end = time.perf_counter()
        self.cpu_end = cpu_now()

    @property
    def timed_s(self) -> float:
        return self.t_end - self.t_timed - self._paused

    @property
    def timed_cpu_s(self) -> float:
        return self.cpu_end - self.cpu_timed - self._paused_cpu

    @contextmanager
    def untimed(self, span: dict | None = None):
        t0, c0 = time.perf_counter(), cpu_now()
        try:
            yield
        finally:
            dc = cpu_now() - c0
            dt = time.perf_counter() - t0
            if self.timing:
                self._paused += dt
                self._paused_cpu += dc
            if span is not None:
                span["paused"] = span.get("paused", 0.0) + dt
                span["paused_cpu"] = span.get("paused_cpu", 0.0) + dc

    def _open(self, layer: str, name: str, probe: bool = False) -> dict:
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            "call": name,
            "probe": probe,
            "phase": ("traced" if self.traced else "timed") if self.timing else "setup",
            "ok": False,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        span["start"] = time.perf_counter()
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def sample(self, kind: str):
        """One latency sample. A failure inside it counts as a failed
        call and aborts the run: the stores may be inconsistent."""
        span = self._open("workload", kind)
        timed = self.timing
        self.attempted += timed
        cpu0 = cpu_now()
        try:
            yield span
            span["ok"] = True
        except Exception:
            self.failed += timed
            raise
        finally:
            self._close(span)
            span["cpu"] = cpu_now() - cpu0 - span.get("paused_cpu", 0.0)
            if timed:
                self.samples[kind].append(span["end"] - span["start"] - span.get("paused", 0.0))
                self.cpu_samples[kind].append(span["cpu"])

    @contextmanager
    def call(self, layer: str, name: str, probe: bool = False):
        span = self._open(layer, name, probe)
        group = f"{layer}|{name}|{span['id']}"
        if self.traced:
            self.sc.setJobGroup(group, f"{layer}.{name}")
        try:
            yield span
            span["ok"] = True
        finally:
            self._close(span)
            if self.traced:
                span["group"] = group
                span["job_ids"] = list(self.sc.statusTracker().getJobIdsForGroup(group))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def probe(self, layer: str, name: str):
        """A traced-run-only stage probe (a noop-sink write of one
        stage's output), off the clock."""
        with self.untimed(), self.call(layer, name, probe=True):
            yield

    @staticmethod
    def check(ok: bool, what: str) -> None:
        if not ok:
            raise CheckFailed(what)


def tree_stats(*paths: str) -> tuple[int, int]:
    """(regular files, bytes) under ``paths``."""
    files = size = 0
    for path in paths:
        for root, _dirs, names in os.walk(path):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _listing(directory: str) -> dict[str, int]:
    if not os.path.isdir(directory):
        return {}
    return {e.name: e.stat().st_size for e in os.scandir(directory) if e.is_file()}


# ---------------------------------------------------------------- workloads


# read samples per round: repeated reads of the same output, so every
# read sample of a workload does the same work
READS_PER_ROUND = 3


def w_append_explore(spark, tr: Tracer, inp: str, truth: dict, work: str) -> Workload:
    """Append batches into one sink dir with size rotation and age-out
    both active, then Explore aggregates over the dir. A round is the
    generated batch sequence into a fresh dir and its reads."""
    from file_appender_spark.config import AppendSinkConfig
    from file_appender_spark.serialize import serialized
    from file_appender_spark.sinks.append_text import append_text, elect_incomplete_files
    from file_appender_spark.sources.catalog import load_table, register_appended_table

    batches = truth["batches"]
    frames = [load_table(spark, inp, b["name"]) for b in batches]
    parts = frames[0].rdd.getNumPartitions()
    tr.check(parts == gen.APPEND_PARTS, f"batch scans as {parts} partitions")
    schema = frames[0].schema
    threshold_mb = 1
    base_ts = 1_700_000_000_000
    batch_step_ms = 61_000  # files older than two batches age out

    def append(cfg, i: int, span: dict) -> None:
        ts = base_ts + i * batch_step_ms
        with tr.untimed(span):
            before = _listing(cfg.output_dir)
            elected = len(elect_incomplete_files(list(before.items()), cfg, ts))
        with tr.call("sinks.append_text", "append_text"):
            append_text(frames[i], cfg, run_ts_ms=ts)
        with tr.untimed(span):
            after = _listing(cfg.output_dir)
            touched = new = lines = 0
            for name, size in after.items():
                old = before.get(name)
                if old == size:
                    continue
                touched += 1
                new += old is None
                with open(os.path.join(cfg.output_dir, name), "rb") as f:
                    f.seek(old or 0)
                    data = f.read()
                n = data.count(b"\n")
                lines += n
                # the sink counts record bytes without the newline, from 0
                # per task, so one task's bytes in one file stop at most
                # one record past the threshold
                longest = max(map(len, data.split(b"\n")))
                tr.check(
                    len(data) - n <= threshold_mb * MB + longest,
                    f"batch {i}: {name} got {len(data) - n} B, over the threshold by more than a record",
                )
            tr.check(lines == batches[i]["rows"], f"batch {i}: {lines} lines for {batches[i]['rows']} rows")
            c = tr.counters
            c["rotations"] += new - max(0, parts - elected)
            c["appended"] += touched - new
            c["touched"] += touched
            c["output_mb"] += sum(after[n] - before.get(n, 0) for n in after) / MB

    def explore(out_dir: str, want: tuple, span: dict) -> None:
        with tr.call("sources.catalog", "register_appended_table"):
            register_appended_table(spark, "explore_bench", out_dir, schema)
        with tr.call("sources.catalog", "explore_aggregate"):
            got = spark.sql(
                "SELECT count(*), sum(l_orderkey), sum(l_quantity) FROM explore_bench"
            ).collect()[0]
        with tr.untimed(span):
            got = (got[0], got[1], int(got[2]))
            tr.check(got == want, f"Explore read {got}, appended {want}")

    def one_round(r: int) -> str:
        cfg = AppendSinkConfig(
            output_dir=os.path.join(work, f"out{r}"),
            size_threshold_mb=threshold_mb,
            age_threshold_min=2,
        )
        rows = keys = qty = 0
        for i in range(len(batches)):
            with tr.sample("op") as span:
                append(cfg, i, span)
            if tr.traced and tr.timing:
                with tr.probe("serialize", "serialized_noop"):
                    noop_write(serialized(frames[i]))
            rows += batches[i]["rows"]
            keys += batches[i]["key_sum"]
            qty += batches[i]["qty_sum"]
        for _ in range(READS_PER_ROUND):
            with tr.sample("read") as span:
                explore(cfg.output_dir, (rows, keys, qty), span)
        return cfg.output_dir

    round_rows = sum(b["rows"] for b in batches)
    first = {}

    def timed_round(r: int) -> int:
        out_dir = one_round(r)
        if r == 1:
            with tr.untimed():
                first["store"] = tree_stats(out_dir)
        return round_rows

    def result() -> dict:
        c = tr.counters
        return {
            "store": first["store"],
            "store_items": round_rows,
            # the read checks fail the run unless every appended row is
            # visible through the Explore table
            "recall": 1.0,
            "layer": {
                "sinks.append_text.rotations": c["rotations"],
                "sinks.append_text.files_appended_frac": c["appended"] / max(1.0, c["touched"]),
                "sinks.append_text.output_mb": c["output_mb"],
            },
        }

    # three warm-up rounds: the JVM's compiler keeps working through the
    # first few rounds, and a round here is short
    return Workload(3.0, lambda: [one_round(r) for r in (-2, -1, 0)], timed_round, result)


def w_corpus_batch(spark, tr: Tracer, inp: str, truth: dict, work: str) -> Workload:
    """A round batch-builds the pair store over the corpus into a fresh
    directory (one op sample), then reads it through the q116 consumer
    and the cluster-assignment read (read samples). Every round does the
    same work. The rest of the store lifecycle (the corpus-stats store
    and its consumer, curate from the pair store, a micro-batch ingest
    epoch, cluster refresh, compaction) and the vector operators run
    once, after the traced phase of a traced run."""
    from file_appender_spark.operators.pairstore import (
        build_pair_graph,
        pair_signatures,
        read_cluster_assignment,
    )
    from file_appender_spark.queries.llm import q116_dedup_clusters
    from file_appender_spark.sources.catalog import load_table, register_views

    register_views(spark, inp)
    docs = load_table(spark, inp, "documents")
    n_docs = truth["docs"]
    first = {}
    last = {}

    def one_round(r: int) -> int:
        ps = os.path.join(work, f"ps{r}")
        with tr.sample("op"), tr.call("operators.pairstore", "build_pair_graph"):
            build_pair_graph(spark, docs, ps)
        if tr.traced and tr.timing:
            with tr.probe("operators.pairstore", "pair_signatures_noop"):
                noop_write(pair_signatures(docs))
        for _ in range(READS_PER_ROUND):
            read_pass(ps)
        if r == 1:
            with tr.untimed():
                first["store"] = tree_stats(ps)
                cluster = {row[0]: row[1] for row in read_cluster_assignment(spark, ps).collect()}
                planted = [(d, o) for d, o in truth["near_dups"] if d < n_docs]
                found = sum(d in cluster and cluster[d] == cluster.get(o) for d, o in planted)
                first["recall"] = found / max(1, len(planted))
        last["ps"] = ps
        return n_docs

    def read_pass(ps: str) -> None:
        with tr.sample("read") as span:
            with tr.call("queries", "q116"):
                clusters = q116_dedup_clusters(spark, inp, graph_dir=ps)
                noop_write(clusters)
            with tr.untimed(span):
                n = clusters.count()
                tr.check(n == n_docs, f"q116 assigned {n} of {n_docs} docs")
            with tr.call("operators.pairstore", "read_cluster_assignment"):
                cluster = {row[0]: row[1] for row in read_cluster_assignment(spark, ps).collect()}
            with tr.untimed(span):
                tr.check(len(cluster) <= n_docs, f"{len(cluster)} clustered docs of {n_docs}")

    def result() -> dict:
        return {"store": first["store"], "store_items": n_docs, "recall": first["recall"], "layer": {}}

    def extras() -> dict:
        out = store_lifecycle(spark, tr, inp, truth, work, last["ps"])
        out.update(vector_ops(spark, tr, gen.vectors_dir(inp), truth["vectors"], work))
        return out

    # two warm-up rounds: the JVM's compiler is still busy after one
    return Workload(5.0, lambda: (one_round(-1), one_round(0)), one_round, result, extras)


def store_lifecycle(spark, tr: Tracer, inp: str, truth: dict, work: str, ps: str) -> dict:
    """The store calls the timed rounds leave out, once, on the pair
    store the last round built: the corpus-stats store build and its
    reads (the q58 consumer, a token top-k), curate from the pair store
    (its funnel checked against the recomputing curate), one micro-batch
    epoch through the near-dup filter into both stores, then maintenance
    (cluster refresh, compaction of all three stores). Returns their
    per-layer figures."""
    from pyspark.sql import functions as F

    from file_appender_spark.curate import curate
    from file_appender_spark.operators.corpusstats import (
        build_corpus_stats,
        compact_corpus_stats,
        corpusstats_ingest_batch,
        read_source_stats,
        read_token_stats,
    )
    from file_appender_spark.operators.neardup_ingest import (
        compact_store,
        minhash_signatures,
        textdup_ingest_batch,
    )
    from file_appender_spark.operators.pairstore import (
        compact_pairstore,
        pairstore_ingest_batch,
        read_cluster_assignment,
        read_pairs,
        refresh_clusters,
    )
    from file_appender_spark.queries.llm import q58_tfidf
    from file_appender_spark.sources.catalog import load_table

    docs = load_table(spark, inp, "documents")
    n_docs, n_epoch = truth["docs"], truth["epoch_docs"]
    cs = os.path.join(work, "cs")
    with tr.call("operators.corpusstats", "build_corpus_stats"):
        build_corpus_stats(spark, docs, cs)
    n_stats = read_source_stats(spark, cs).agg(F.sum("n_docs")).collect()[0][0]
    tr.check(n_stats == n_docs, f"stats store counts {n_stats} docs of {n_docs}")
    with tr.call("queries", "q58"):
        noop_write(q58_tfidf(spark, inp, stats_dir=cs))
    with tr.call("operators.corpusstats", "read_token_stats"):
        top = (
            read_token_stats(spark, cs)
            .groupBy("token")
            .agg(F.sum("tf").alias("tf"))
            .orderBy(F.desc("tf"), "token")
            .limit(20)
            .collect()
        )
    tr.check(len(top) == 20, f"token top-k returned {len(top)} rows")

    cur = os.path.join(work, "cur")
    with tr.call("curate", "curate_from_store"):
        funnel = curate(spark, docs, cur, graph_dir=ps)
    with tr.untimed():
        n_back = spark.read.parquet(cur).count()
        tr.check(n_back == funnel["written"], f"curate wrote {funnel['written']} rows, {n_back} read back")
        # the recomputed funnel is the oracle for curate(graph_dir=...)
        recomputed = curate(spark, docs, os.path.join(work, "cur_recompute"))
        tr.check(recomputed == funnel, f"curate funnels differ: recompute {recomputed}, from store {funnel}")

    nd = os.path.join(work, "nd")
    batch = load_table(spark, inp, "epoch")
    with tr.call("operators.neardup_ingest", "textdup_ingest_batch"):
        kept = textdup_ingest_batch(spark, batch, nd)
    ids = [r[0] for r in kept.select("doc_id").collect()]
    tr.check(len(ids) == len(set(ids)), "a doc admitted twice")
    copies = [t for t in truth["template_ids"] if n_docs <= t < n_docs + n_epoch]
    tr.check(len(set(copies) & set(ids)) <= 1, "an exact template copy admitted twice")
    with tr.call("operators.pairstore", "pairstore_ingest_batch"):
        pairstore_ingest_batch(spark, kept, ps, batch_id=1)
    with tr.call("operators.corpusstats", "corpusstats_ingest_batch"):
        corpusstats_ingest_batch(spark, kept, cs, batch_id=1)
    with tr.call("operators.pairstore", "refresh_clusters"):
        refresh_clusters(spark, ps)
    files, size = tree_stats(nd, ps, cs)
    rewritten = 0.0
    for layer, name, fn, path in (
        ("operators.neardup_ingest", "compact_store", lambda: compact_store(spark, nd, id_col="doc_id"), nd),
        ("operators.pairstore", "compact_pairstore", lambda: compact_pairstore(spark, ps), ps),
        ("operators.corpusstats", "compact_corpus_stats", lambda: compact_corpus_stats(spark, cs), cs),
    ):
        with tr.call(layer, name):
            fn()
        rewritten += tree_stats(path)[1] / MB
    known = set(range(n_docs)) | set(ids)
    clustered = {r[0] for r in read_cluster_assignment(spark, ps).select("doc").collect()}
    tr.check(clustered <= known, f"{len(clustered - known)} clustered docs were never stored")
    n_stats = read_source_stats(spark, cs).agg(F.sum("n_docs")).collect()[0][0]
    tr.check(n_stats == n_docs + len(ids), f"stats store counts {n_stats} docs, {n_docs + len(ids)} stored")
    with tr.probe("operators.neardup_ingest", "minhash_signatures_noop"):
        noop_write(minhash_signatures(batch, "doc_id", "text"))
    return {
        "operators.neardup_ingest.admit_frac": len(ids) / n_epoch,
        "operators.pairstore.pairs": read_pairs(spark, ps).count(),
        "curate.kept_frac": funnel["written"] / max(1, funnel["input"]),
        "storefs.files": files,
        "storefs.mb": size / MB,
        "storefs.compact_rewritten_mb": rewritten,
    }


def _embeddings(path: str) -> np.ndarray:
    col = pq.read_table(path, columns=["embedding"])["embedding"]
    return np.stack(col.to_numpy(zero_copy_only=False)).astype(np.float64)


def vector_ops(spark, tr: Tracer, inp: str, truth: dict, work: str) -> dict:
    """The vector operators once over the generated embeddings: the index
    build (PQ codebook and codes written as the index, SRP near-dup
    pairs), then the ANN query batches in sequence, each followed by the
    exact blocked top-k that is also the recall oracle. Returns their
    per-layer figures. Not a workload (see README): corpus_stores'
    traced run calls it."""
    from file_appender_spark.operators.pq import pq_encode, pq_train
    from file_appender_spark.operators.similarity import (
        ann_sign_ivf,
        blocked_topk,
        srp_neardup,
        srp_params_for,
    )
    from file_appender_spark.sources.catalog import load_table

    k = 10
    threshold = 0.95
    n_rows = truth["corpus"]
    corpus = load_table(spark, inp, "embeddings")
    emb = _embeddings(os.path.join(inp, "embeddings.parquet"))
    norms = np.linalg.norm(emb, axis=1)

    with tr.call("operators.pq", "pq_train"):
        codebook = pq_train(corpus, "embedding", m=4, k=16, iters=1)
    with tr.call("operators.pq", "pq_encode"):
        codes = pq_encode(corpus, "embedding", codebook, keep_cols=["vec_id"])
        codes.write.mode("overwrite").parquet(os.path.join(work, "pq"))
    with tr.call("operators.similarity", "srp_neardup"):
        bits, bands = srp_params_for(n_rows, threshold)
        srp_pairs = len(srp_neardup(corpus, threshold, n_bits=bits, n_bands=bands).collect())

    hit = total = 0
    for b, name in enumerate(truth["query_batches"]):
        queries = load_table(spark, inp, name)
        with tr.call("operators.similarity", "ann_sign_ivf"):
            ann = ann_sign_ivf(corpus, queries, k, n_rows=n_rows, exclude_self=False).collect()
        with tr.call("operators.similarity", "blocked_topk"):
            exact = blocked_topk(spark, corpus, queries, k).collect()
        got, want = defaultdict(list), defaultdict(set)
        for row in exact:
            got[row["qid"]].append(row["cos_sim"])
            want[row["qid"]].add(row["vec_id"])
        q = _embeddings(os.path.join(inp, f"{name}.parquet"))
        sims = (q @ emb.T) / np.outer(np.linalg.norm(q, axis=1), norms)
        qid0 = gen.QID_BASE + b * len(q)
        for j in range(0, len(q), 4):
            top = np.sort(sims[j])[::-1][:k]
            mine = sorted(got[qid0 + j], reverse=True)
            tr.check(
                len(mine) == k and np.allclose(mine, top, atol=1e-5),
                f"blocked_topk query {qid0 + j} differs from numpy brute force",
            )
        hits = defaultdict(set)
        for row in ann:
            hits[row["qid"]].add(row["vec_id"])
        hit += sum(len(hits[qid] & ids) for qid, ids in want.items())
        total += sum(map(len, want.values()))
    return {
        "operators.similarity.srp_pairs": srp_pairs,
        "operators.similarity.recall": hit / max(1, total),
    }


WORKLOADS = {
    "append_explore": w_append_explore,
    "corpus_batch": w_corpus_batch,
}


# a timed phase's figures that are end-to-end metrics
TIMED_FIGURES = (
    "items_per_s", "cpu_ms_per_item",
    "op_p50_s", "op_tail_s", "op_cpu_p50_s",
    "read_p50_s", "read_tail_s", "read_cpu_p50_s",
)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest whole percentile, at least the
    50th, with at least ten samples above its nearest-rank value; with
    fewer than twenty samples, the maximum (reported as percentile 100)."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return 100.0, s[-1]
    p = float(np.floor(100.0 * (1.0 - 10.0 / n)))
    return p, s[int(np.ceil(p / 100.0 * n)) - 1]


def run_phase(tr: Tracer, wl: Workload, seconds: float, traced: bool, first_round: int) -> tuple[dict, int]:
    """One timed phase; returns its end-to-end figures and the next round
    number. ``seconds`` fixes the amount of work, not a deadline: the
    phase runs ``seconds / wl.round_s`` whole rounds (at least one), so a
    seed always gets the same work and a slow host shows as a slower
    rate rather than as fewer, differently warmed rounds."""
    tr.start_timed(traced)
    r = first_round
    for _ in range(max(1, int(seconds / wl.round_s))):
        tr.items += wl.round(r)
        r += 1
    tr.stop_timed()
    ops, reads = tr.samples["op"], tr.samples["read"]
    op_p, op_t = tail(ops)
    rd_p, rd_t = tail(reads)
    figures = {
        "items_per_s": tr.items / tr.timed_s,
        "cpu_ms_per_item": 1000.0 * tr.timed_cpu_s / tr.items,
        "op_cpu_p50_s": statistics.median(tr.cpu_samples["op"]),
        "read_cpu_p50_s": statistics.median(tr.cpu_samples["read"]),
        "op_p50_s": statistics.median(ops),
        "op_tail_s": op_t,
        "read_p50_s": statistics.median(reads),
        "read_tail_s": rd_t,
        "op_samples": len(ops),
        "op_tail_pct": op_p,
        "read_samples": len(reads),
        "read_tail_pct": rd_p,
        "rounds": r - first_round,
        "timed_s": tr.timed_s,
    }
    return figures, r


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    from file_appender_spark.session import get_spark

    # a fixed-size heap keeps peak RSS from tracking GC timing; no
    # hsperfdata file outside the run's own temp dir
    conf = {
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    }
    eventlog = os.path.join(args.work, "eventlog")
    if args.trace:
        os.makedirs(eventlog, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog,
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    # generation is the one set-up step that can repeat in-process (the
    # JVM and the warm-up run once per process), so its median counts
    inp = os.path.join(args.work, "input")
    gen_times = []
    for _ in range(3):
        t0 = time.perf_counter()
        truth = gen.generate(args.workload, args.seed, inp)
        gen_times.append(time.perf_counter() - t0)
    setup_s = time.perf_counter() - T_START - sum(gen_times) + statistics.median(gen_times)

    tr = Tracer(spark)
    work = os.path.join(args.work, "w")
    os.makedirs(work, exist_ok=True)
    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}, "info": {}}
    try:
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, tr, inp, truth, work)
        wl.warm()
        warm_s = time.perf_counter() - t0
        # a traced run times two phases (untraced, then traced), each with
        # half the work, so it stays within the run-time limit
        phase_s = args.seconds / 2 if args.trace else args.seconds
        figures, r = run_phase(tr, wl, phase_s, False, 1)
        out = wl.result()
        if args.trace:
            traced, _ = run_phase(tr, wl, phase_s, True, r)
            out = wl.result()
            if wl.traced_extra is not None:
                # its spans belong to the traced phase; its items do not
                tr.start_timed(traced=True)
                out["layer"].update(wl.traced_extra())
                tr.stop_timed()
        result["correct"] = True
    except CheckFailed as exc:
        tr.errors.append(f"check failed: {exc}")
    except Exception:
        tr.errors.append(traceback.format_exc(limit=6))
    if not result["correct"] and tr.failed == 0:
        # a failure outside any timed sample (set-up, warm-up, a final check)
        tr.attempted += 1
        tr.failed += 1
    result.update(attempted=tr.attempted, failed=tr.failed)
    result["info"]["errors"] = tr.errors
    if result["correct"]:
        result["metrics"] = {
            "setup_s": setup_s + warm_s,
            **{k: figures[k] for k in TIMED_FIGURES},
            "store_bytes_per_item": out["store"][1] / out["store_items"],
            "store_files": out["store"][0],
            "recall": out["recall"],
        }
        result["info"].update(
            figures, session_s=session_s, generate_s=statistics.median(gen_times), warmup_s=warm_s
        )
    spark.stop()  # flushes the event log
    if args.trace and result["correct"]:
        extra = dict(out["layer"])
        extra["session.start_s"] = session_s
        extra["tracing.overhead_items_per_s"] = traced["items_per_s"] - figures["items_per_s"]
        result["layer"] = layers.per_layer(tr.spans, eventlog, extra)
        result["info"]["traced"] = traced
    with open(args.spans, "w") as f:
        for s in tr.spans:
            f.write(json.dumps(s) + "\n")
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
