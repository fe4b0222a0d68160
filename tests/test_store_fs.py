"""StoreFS parity matrix (r8 verdict task 2): the incremental stores'
maintenance — crash-safe compaction swaps, epoch listing, params
sidecars — must behave identically through the direct POSIX
implementation (bare paths) and the pyarrow adapter (``file://``
paths exercise the SAME ArrowStoreFS code path an ``hdfs://`` store
dir uses in production; Spark reads/writes file:// URIs natively, so
the whole store runs through the adapter end-to-end). The
test_append_fs.py pattern applied to the stores.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from file_appender_spark.obs import records
from file_appender_spark.storefs import (
    ArrowStoreFS,
    LocalStoreFS,
    read_table,
    store_fs_for,
    table_dir,
)


@pytest.fixture(params=["posix", "arrow"])
def mkstore(request, tmp_path):
    """Returns a function mapping a name to a store_dir string on the
    parametrized backend: a bare path (LocalStoreFS) or a file:// URI
    (ArrowStoreFS)."""

    def _mk(name: str) -> str:
        p = str(tmp_path / name)
        return p if request.param == "posix" else f"file://{p}"

    _mk.backend = request.param
    return _mk


def test_store_fs_dispatch():
    assert isinstance(store_fs_for("/tmp/x"), LocalStoreFS)
    assert isinstance(store_fs_for("file:///tmp/x"), ArrowStoreFS)
    hdfs = store_fs_for("hdfs://nn:8020/stores/x")
    assert isinstance(hdfs, ArrowStoreFS)
    # normalized to scheme+authority, and memoized per namenode so
    # repeated metadata ops share one connection
    assert hdfs.fs_spec == "hdfs://nn:8020"
    assert store_fs_for("hdfs://nn:8020/other/y") is hdfs
    assert store_fs_for("/tmp/a") is store_fs_for("/tmp/b")


def test_arrow_store_fs_ops(tmp_path):
    """Unit drive of every ArrowStoreFS op on local disk."""
    fs = ArrowStoreFS("local")
    base = str(tmp_path / "ops")
    fs.makedirs(base)
    assert fs.isdir(base) and fs.exists(base)
    assert fs.listdir(base) == []

    p = os.path.join(base, "a.json")
    fs.write_text(p + ".tmp", '{"k": 1}')
    fs.replace_file(p + ".tmp", p)
    assert fs.read_text(p) == '{"k": 1}'
    # replace over an EXISTING destination (the sidecar re-stamp path)
    fs.write_text(p + ".tmp", '{"k": 2}')
    fs.replace_file(p + ".tmp", p)
    assert fs.read_text(p) == '{"k": 2}'

    fs.copy_file(p, os.path.join(base, "b.json"))
    assert sorted(fs.listdir(base)) == ["a.json", "b.json"]
    fs.remove(os.path.join(base, "b.json"))

    d2 = os.path.join(base, "sub")
    fs.makedirs(d2)
    fs.rename(d2, os.path.join(base, "sub2"))
    assert fs.isdir(os.path.join(base, "sub2"))
    fs.rmtree(os.path.join(base, "sub2"))
    assert not fs.exists(os.path.join(base, "sub2"))

    # authority guard: adapter bound to local refuses hdfs paths
    with pytest.raises(ValueError, match="local filesystem"):
        fs.exists("hdfs://nn:8020/x")
    nn = ArrowStoreFS("hdfs://nn-a:8020")
    with pytest.raises(ValueError, match="nn-b"):
        nn._resolve("hdfs://nn-b:8020/x")


def test_store_fs_object_schemes_gated_on_dir_rename_capability():
    """r10 verdict task 4 relaxed the r9 bind-time refusal: an
    object-store scheme now binds (manifest-layout stores can live
    there — their swap is one atomic publish_text), but every
    maintenance path that needs the two-rename DIRECTORY swap refuses
    through require_atomic_dir_rename with the original rationale."""
    from file_appender_spark.sinks.append_text import fs_for_path
    from file_appender_spark.storefs import require_atomic_dir_rename

    fs = store_fs_for("s3://bucket/stores/x")
    assert fs.supports_atomic_dir_rename is False
    with pytest.raises(ValueError, match="atomic directory rename"):
        require_atomic_dir_rename(fs, "s3://bucket/stores/x", "compaction")
    # POSIX and hdfs/file adapters keep the capability
    assert store_fs_for("/tmp/x").supports_atomic_dir_rename is True
    assert store_fs_for("file:///tmp/x").supports_atomic_dir_rename is True
    assert store_fs_for(
        "hdfs://nn-x:8020/s"
    ).supports_atomic_dir_rename is True
    # object paths keep their bucket under pyarrow's addressing
    assert fs._resolve("s3://bucket/stores/x") == "bucket/stores/x"
    # the sink is NOT relaxed (append is the constraint there)
    with pytest.raises(ValueError, match="append"):
        fs_for_path("s3://bucket/out")
    with pytest.raises(ValueError, match="gs"):
        fs_for_path("gs://bucket/out")


def test_replace_file_transient_error_reraises(tmp_path, monkeypatch):
    """r9 ADVICE: the delete+rename fallback is taken only when the
    destination provably exists — a transient move failure with NO
    existing destination must re-raise, never delete state; and the
    final move gets one bounded retry."""
    fs = ArrowStoreFS("local")
    base = str(tmp_path / "rf")
    fs.makedirs(base)
    src = os.path.join(base, "s.json")
    dst = os.path.join(base, "d.json")
    fs.write_text(src, "new")

    real_fs = fs._filesystem()
    fails = {"n": 0}

    class FlakyFS:
        def __getattr__(self, name):
            return getattr(real_fs, name)

        def move(self, a, b):
            if fails["n"] > 0:
                fails["n"] -= 1
                raise OSError("transient namenode hiccup")
            return real_fs.move(a, b)

    monkeypatch.setattr(fs, "_fs", FlakyFS())

    # transient failure, destination absent: re-raise, src intact
    fails["n"] = 10
    with pytest.raises(OSError):
        fs.replace_file(src, dst)
    assert fs.exists(src) and not fs.exists(dst)

    # destination exists: first move fails (HDFS dest-exists shape),
    # fallback deletes + retries — and survives ONE transient failure
    # of the final move too
    fs.write_text(dst, "old")
    fails["n"] = 2
    fs.replace_file(src, dst)
    assert fs.read_text(dst) == "new" and not fs.exists(src)


def test_arrow_store_fs_parquet_rows(spark, tmp_path):
    fs = ArrowStoreFS("local")
    d = str(tmp_path / "pq")
    spark.range(7).write.parquet(d)
    assert fs.parquet_rows(d) == 7
    assert LocalStoreFS().parquet_rows(d) == 7
    assert fs.parquet_rows(str(tmp_path / "missing")) == 0


def test_textdup_store_lifecycle_both_backends(spark, mkstore):
    """The signature store's full lifecycle — ingest, cross-batch
    suppression, compaction (two-rename swap + params stamp
    survival), crash recovery — through the parametrized backend."""
    from file_appender_spark.operators.neardup_ingest import (
        _store_row_count,
        compact_store,
        textdup_ingest_batch,
    )

    store = mkstore("td_store")
    docs = spark.createDataFrame(
        [(i, f"unique words for doc {i} " + " ".join(f"w{i}x{j}" for j in range(8)))
         for i in range(6)],
        "doc_id long, text string",
    )
    a1 = textdup_ingest_batch(spark, docs, store)
    assert a1.count() == 6
    assert _store_row_count(store) == 6

    # an exact dup of doc 0 arriving later is suppressed vs HISTORY
    dup = spark.createDataFrame(
        [(100, "unique words for doc 0 " + " ".join(f"w0x{j}" for j in range(8)))],
        "doc_id long, text string",
    )
    assert textdup_ingest_batch(spark, dup, store).count() == 0

    # compaction: dedups retry rows, preserves the params stamp, and
    # the store keeps suppressing afterwards
    n_files = compact_store(spark, store, id_col="doc_id")
    assert n_files >= 1
    assert textdup_ingest_batch(spark, dup, store).count() == 0

    # crash recovery: simulate the window between the two renames; the
    # next epoch's open restores the backup before reading history
    fs = store_fs_for(store)
    old = store.rstrip("/") + ".old"
    fs.rename(store, old)
    assert not fs.exists(store)
    assert textdup_ingest_batch(spark, dup, store).count() == 0
    assert fs.exists(store) and not fs.exists(old)


def test_pairstore_lifecycle_both_backends(spark, mkstore):
    """build -> ingest -> refresh -> read -> compact, plus the
    half-swapped-clusters crash recovery, on both backends."""
    from file_appender_spark.operators.pairstore import (
        build_pair_graph,
        compact_pairstore,
        pairstore_ingest_batch,
        read_cluster_assignment,
        read_pairs,
        refresh_clusters,
    )

    base = " ".join(f"tmpl{w}" for w in range(10))
    docs = spark.createDataFrame(
        [(i, " ".join([base] * (i + 1))) for i in range(1, 5)],
        "doc_id long, text string",
    )
    store = mkstore("pair_store")
    build_pair_graph(spark, docs.filter("doc_id <= 2"), store)
    pairstore_ingest_batch(spark, docs.filter("doc_id > 2"), store, batch_id=1)
    refresh_clusters(spark, store)

    pairs = sorted(
        (r["d1"], r["d2"]) for r in read_pairs(spark, store).collect()
    )
    assert pairs == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    asg = {r["doc"]: r["cluster"]
           for r in read_cluster_assignment(spark, store).collect()}
    assert asg == {1: 1, 2: 1, 3: 1, 4: 1}

    # crash between the clusters swap renames: directory missing,
    # .old present — reader recovers it
    fs = store_fs_for(store)
    cd = table_dir(store, "clusters")
    fs.rename(cd, cd + ".old")
    asg2 = {r["doc"]: r["cluster"]
            for r in read_cluster_assignment(spark, store).collect()}
    assert asg2 == asg

    compact_pairstore(spark, store)
    assert sorted(
        (r["d1"], r["d2"]) for r in read_pairs(spark, store).collect()
    ) == pairs


def test_corpusstats_lifecycle_both_backends(spark, mkstore):
    """build -> ingest -> merged reads -> compact on both backends;
    the merged counts equal the one-shot batch definition."""
    from file_appender_spark.operators.corpusstats import (
        build_corpus_stats,
        compact_corpus_stats,
        corpus_token_stats,
        corpusstats_ingest_batch,
        read_source_stats,
        read_token_stats,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma", None, "web", 20) for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    store = mkstore("cs_store")
    build_corpus_stats(spark, docs.filter("doc_id < 5"), store)
    corpusstats_ingest_batch(spark, docs.filter("doc_id >= 5"), store, 1)

    merged = {
        (r["source"], r["token"]): (r["tf"], r["df"])
        for r in read_token_stats(spark, store).collect()
    }
    want = {
        (r["source"], r["token"]): (r["tf"], r["df"])
        for r in corpus_token_stats(docs).collect()
    }
    assert merged == want
    src = read_source_stats(spark, store).collect()[0]
    assert (src["n_docs"], src["total_tokens"]) == (8, 32)

    compact_corpus_stats(spark, store)
    after = {
        (r["source"], r["token"]): (r["tf"], r["df"])
        for r in read_token_stats(spark, store).collect()
    }
    assert after == want


def test_neardup_embedding_store_both_backends(spark, mkstore):
    """The SRP store on both backends: history suppression and the
    params guard work through the seam."""
    from file_appender_spark.operators.neardup_ingest import neardup_ingest_batch

    store = mkstore("nd_store")
    v0 = [0.3, -1.2, 0.7, 2.2]
    docs = spark.createDataFrame(
        [(1, v0), (2, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    assert neardup_ingest_batch(spark, docs, store, threshold=0.9).count() == 2
    dup = spark.createDataFrame(
        [(9, list(v0))], "vec_id long, embedding array<double>"
    )
    assert neardup_ingest_batch(spark, dup, store, threshold=0.9).count() == 0

    with pytest.raises(ValueError, match="LSH params"):
        neardup_ingest_batch(spark, dup, store, threshold=0.9, n_bits=8)


def _parquet_jobs(spark, rec):
    """The record's jobs with a stage named after a parquet call: a
    schema-inference read, or a parquet write."""
    tracker = spark.sparkContext.statusTracker()
    return [
        j
        for j in rec["jobs"]
        if any(
            tracker.getStageInfo(s).name.startswith("parquet at ")
            for s in tracker.getJobInfo(j).stageIds
        )
    ]


def _new_records(call):
    before = {r["seq"] for r in records()}
    call()
    return [r for r in records() if r["seq"] not in before]


def test_store_reads_take_schema_from_footer(spark, tmp_path):
    """A schema-less parquet read runs a one-task schema-inference
    job. The second text-ingest epoch reads its history through the
    footer stamp, so its one parquet job, over all its records, is
    the store append (its last job); a cold read_token_stats runs
    none."""
    from file_appender_spark.operators.corpusstats import (
        build_corpus_stats,
        read_token_stats,
        reset_stats_view_cache,
    )
    from file_appender_spark.operators.neardup_ingest import textdup_ingest_batch

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma", None, "web", 20) for i in range(12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    store = str(tmp_path / "text")
    textdup_ingest_batch(spark, docs.filter("doc_id % 2 = 0"), store)
    epoch = _new_records(
        lambda: textdup_ingest_batch(spark, docs.filter("doc_id % 2 = 1"), store)
    )
    assert {r["op"] for r in epoch} == {"neardup.ingest"}
    jobs = sorted(j for r in epoch for j in r["jobs"])
    (append,) = [r for r in epoch if r["stage"] == "append"]
    assert _parquet_jobs(spark, {"jobs": jobs}) == append["jobs"][-1:] == jobs[-1:], epoch

    stats = str(tmp_path / "stats")
    build_corpus_stats(spark, docs, stats)
    reset_stats_view_cache()
    (read,) = _new_records(lambda: read_token_stats(spark, stats))
    assert _parquet_jobs(spark, read) == [], read
    assert read_token_stats(spark, stats).count() == 15  # 3 shared + 12 doc tokens


def test_read_table_infers_schema_without_footer_stamp(spark, mkstore):
    """Parquet written outside Spark carries no schema stamp: the read
    falls back to inference, partition column included."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = mkstore("foreign")
    part = os.path.join(table_dir(store, "t"), "batch=base")
    local = part.removeprefix("file://")
    os.makedirs(local)
    pq.write_table(
        pa.table({"d1": [1, 2], "d2": [3, 4]}), os.path.join(local, "part-0.parquet")
    )
    assert b"org.apache.spark.sql.parquet.row.metadata" not in (
        store_fs_for(store).parquet_schema(part).metadata or {}
    )
    got = read_table(spark, store, "t")
    assert sorted(got.columns) == ["batch", "d1", "d2"]
    assert sorted(tuple(r) for r in got.select("d1", "d2").collect()) == [(1, 3), (2, 4)]
