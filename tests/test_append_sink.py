"""Append-text sink tests, modeled on the reference's own e2e
(PipelineTest.java:100-187): two runs into the same directory must
reuse the same files (append happened) with every line count doubled;
plus rotation / age / election / naming unit coverage."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import types as T

from file_appender_spark.config import AppendSinkConfig
from file_appender_spark.sinks.append_text import (
    append_text,
    elect_incomplete_files,
)
from file_appender_spark.sources.catalog import read_delimited

SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("item", T.StringType(), True),
    ]
)

ROWS = [("samuel", "wallet"), ("dwayne", "rock"), ("christopher", "cowbell")]


def read_lines(directory):
    out = []
    for n in sorted(os.listdir(directory)):
        p = os.path.join(directory, n)
        if os.path.isfile(p) and not n.startswith((".", "_")):
            with open(p, "rb") as f:
                out.extend(f.read().decode("utf-8").splitlines())
    return out


def test_two_run_append_doubles_multiset(spark, tmp_path):
    """The reference's strongest behavioral spec
    (PipelineTest.java:163-187)."""
    out = str(tmp_path / "out")
    cfg = AppendSinkConfig(output_dir=out, file_prefix="file")
    df = spark.createDataFrame(ROWS, SCHEMA).repartition(2)

    append_text(df, cfg, run_ts_ms=1_000_000)
    files_run1 = sorted(os.listdir(out))
    lines_run1 = Counter(read_lines(out))
    assert lines_run1 == Counter(
        {"samuel,wallet": 1, "dwayne,rock": 1, "christopher,cowbell": 1}
    )

    append_text(df, cfg, run_ts_ms=1_060_000)
    files_run2 = sorted(os.listdir(out))
    lines_run2 = Counter(read_lines(out))

    # same file set across runs (append, not new files)...
    assert files_run1 == files_run2
    # ...and every line count doubled
    assert lines_run2 == Counter({k: 2 * v for k, v in lines_run1.items()})


def test_initial_file_naming(spark, tmp_path):
    out = str(tmp_path / "out")
    cfg = AppendSinkConfig(output_dir=out, file_prefix="pfx")
    df = spark.createDataFrame(ROWS, SCHEMA).repartition(2)
    append_text(df, cfg, run_ts_ms=123456789)
    names = sorted(os.listdir(out))
    # prefix-%05d(partition)-startTime (AppendOutputFormat.java:53-57)
    assert names == ["pfx-00000-123456789", "pfx-00001-123456789"]


def test_size_rotation_off_by_one(spark, tmp_path):
    """Rotation checks BEFORE each write with the writer's own byte
    count, so the first file exceeds the threshold by one record
    (SURVEY.md §2.1)."""
    out = str(tmp_path / "out")
    # threshold below a single line's size -> rotate after the write
    # that crosses it; with 1 MB granularity use a sub-MB hack: bytes
    # thresholds are MB-based, so craft lines > 1 MB to exercise it.
    big = "x" * 600_000
    rows = [(big, "a"), (big, "b"), (big, "c")]
    cfg = AppendSinkConfig(output_dir=out, file_prefix="f", size_threshold_mb=1)
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    append_text(df, cfg, run_ts_ms=1_000)
    files = sorted(os.listdir(out))
    assert len(files) == 2, files
    sizes = {n: os.path.getsize(os.path.join(out, n)) for n in files}
    # first file: two lines (the second write crossed the threshold
    # only after it happened); second file: one line
    line_bytes = 600_000 + 1 + 1 + 1  # big + sep + item + newline
    assert sizes["f-00000-1000"] == 2 * line_bytes
    assert sum(sizes.values()) == 3 * line_bytes


def test_size_threshold_zero_means_no_rotation(spark, tmp_path):
    out = str(tmp_path / "out")
    big = "x" * 600_000
    rows = [(big, "a"), (big, "b"), (big, "c")]
    cfg = AppendSinkConfig(output_dir=out, file_prefix="f", size_threshold_mb=0)
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    append_text(df, cfg, run_ts_ms=1_000)
    assert sorted(os.listdir(out)) == ["f-00000-1000"]


def test_age_threshold_excludes_old_files(spark, tmp_path):
    out = str(tmp_path / "out")
    cfg = AppendSinkConfig(
        output_dir=out, file_prefix="f", age_threshold_min=60
    )
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    append_text(df, cfg, run_ts_ms=1_000_000)
    assert sorted(os.listdir(out)) == ["f-00000-1000000"]
    # 61 minutes later: the existing file is too old -> a new file
    later = 1_000_000 + 61 * 60 * 1000
    append_text(df, cfg, run_ts_ms=later)
    assert sorted(os.listdir(out)) == ["f-00000-1000000", f"f-00000-{later}"]


def test_election_filters_and_sort():
    cfg = AppendSinkConfig(
        output_dir="/x", file_prefix="f", size_threshold_mb=1, age_threshold_min=60
    )
    run_ts = 10_000_000
    files = [
        ("f-00000-9999000", 100),  # young, small -> elected
        ("f-9998000", 50),  # rotated file, young -> elected
        ("f-00001-1000", 100),  # too old
        ("f-00002-9999500", 2 * 1024 * 1024),  # over size threshold
        ("g-00000-9999000", 10),  # wrong prefix
        ("f-borked", 10),  # unparseable
    ]
    elected = elect_incomplete_files(files, cfg, run_ts)
    # sort by (name-prefix, createTime): 'f' < 'f-00000'
    assert elected == ["f-9998000", "f-00000-9999000"]


def test_rotation_preserves_name_prefix(spark, tmp_path):
    """Regression: rotation keeps the full name-prefix incl. the
    partition token (AppendOutputFormat.java:228 — new
    FileInfo(fileInfo.prefix, now)), so rotated files sort within
    their partition's prefix group."""
    out = str(tmp_path / "out")
    big = "x" * 600_000
    rows = [(big, "a"), (big, "b"), (big, "c")]
    cfg = AppendSinkConfig(output_dir=out, file_prefix="f", size_threshold_mb=1)
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    append_text(df, cfg, run_ts_ms=1_000)
    files = sorted(os.listdir(out))
    assert len(files) == 2
    assert all(f.startswith("f-00000-") for f in files), files


def test_election_prefix_startswith(spark):
    """The reference elects any file whose parsed prefix startsWith
    the configured prefix (AppendOutputFormat.java:86) — 'file2-...'
    is appendable under prefix 'file'."""
    cfg = AppendSinkConfig(
        output_dir="/x", file_prefix="file", size_threshold_mb=1, age_threshold_min=0
    )
    files = [("file2-5000", 10), ("file-00000-4000", 10), ("other-1000", 10)]
    elected = elect_incomplete_files(files, cfg, 10_000)
    assert elected == ["file-00000-4000", "file2-5000"]


def test_custom_fs_reaches_executors(spark, tmp_path):
    """Regression: the fs argument must be used by the partition
    writers, not only the driver-side scan."""
    from file_appender_spark.sinks.append_text import LocalFS

    out = str(tmp_path / "out")
    cfg = AppendSinkConfig(output_dir=out, file_prefix="f")
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    # a subclass that writes to a shifted directory proves the
    # instance (not a fresh LocalFS) did the writing
    shifted = str(tmp_path / "shifted")

    class ShiftFS(LocalFS):
        def create_new(self, path):
            os.makedirs(shifted, exist_ok=True)
            return open(os.path.join(shifted, os.path.basename(path)), "xb")

    append_text(df, cfg, run_ts_ms=1000, fs=ShiftFS())
    assert os.listdir(shifted) == ["f-00000-1000"]


def test_validation_blocks_bad_config(spark, tmp_path):
    from file_appender_spark.schema.validate import SchemaValidationError

    cfg = AppendSinkConfig(output_dir=str(tmp_path / "o"), size_threshold_mb=-1)
    df = spark.createDataFrame(ROWS, SCHEMA)
    with pytest.raises(SchemaValidationError):
        append_text(df, cfg, run_ts_ms=1000)


def test_projection_via_output_schema(spark, tmp_path):
    out = str(tmp_path / "out")
    cfg = AppendSinkConfig(
        output_dir=out,
        file_prefix="f",
        schema_json='{"type":"record","name":"o","fields":['
        '{"name":"name","type":["string","null"]}]}',
    )
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    append_text(df, cfg, run_ts_ms=1000)
    assert sorted(read_lines(out)) == ["christopher", "dwayne", "samuel"]


def test_read_back_roundtrip(spark, tmp_path):
    """A16: the written files read back as a SQL-queryable table."""
    out = str(tmp_path / "out")
    cfg = AppendSinkConfig(output_dir=out, file_prefix="f")
    df = spark.createDataFrame(ROWS + [("nullitem", None)], SCHEMA)
    append_text(df, cfg, run_ts_ms=1000)
    back = read_delimited(spark, out, SCHEMA, separator=",")
    got = {(r["name"], r["item"]) for r in back.collect()}
    assert got == set(ROWS + [("nullitem", None)])
    back.createOrReplaceTempView("appended")
    n = spark.sql("SELECT count(*) AS n FROM appended").collect()[0]["n"]
    assert n == 4


def test_rotation_counter_excludes_newline(tmp_path):
    """The reference accumulates only value.getLength() per record
    (AppendOutputFormat.java:217-219) — the newline written by writeln
    never reaches the rotation counter. Pin that here so the rotation
    point tracks the reference protocol byte-for-byte."""
    from file_appender_spark.sinks.append_text import LocalFS, _PartitionWriter

    cfg = AppendSinkConfig(output_dir=str(tmp_path), file_prefix="f")
    w = _PartitionWriter(str(tmp_path), None, 0, cfg, 1_000, LocalFS())
    for line in ("ab", "cdef", "g"):
        w.write_line(line)
    w.close()
    assert w.bytes_written == len("ab") + len("cdef") + len("g")


def test_cc_labels_self_loop_only_node(spark):
    """A node appearing only in a self-loop edge must still get a
    singleton label from min-label propagation."""
    from file_appender_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (7, 7)], "src long, dst long"
    )
    want = {(1, 1), (2, 1), (7, 7)}
    got = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert got == want


def test_task_retry_duplicates_lines_at_least_once(tmp_path):
    """A13 fault injection: the no-op committer means writes are
    visible immediately and a retried task re-emits its partition —
    duplicates, not rollback (needsTaskCommit=false,
    AppendOutputFormat.java:107-135; at-least-once by design).

    Simulates Spark's task retry: attempt 1 writes 2 of 5 lines and
    dies; the retry re-runs the SAME partition (same id, same
    driver-side election, same logical run_ts) from the start. The
    reference's append-or-create at first write
    (AppendOutputFormat.java:208-221) makes the retry APPEND after the
    failed attempt's partial output."""
    from file_appender_spark.sinks.append_text import LocalFS, _PartitionWriter

    cfg = AppendSinkConfig(output_dir=str(tmp_path), file_prefix="f")
    lines = [f"row-{i}" for i in range(5)]
    run_ts = 1_000_000
    fs = LocalFS()

    # attempt 1: partial write, then the task dies mid-partition
    w1 = _PartitionWriter(str(tmp_path), None, 0, cfg, run_ts, fs)
    for ln in lines[:2]:
        w1.write_line(ln)
    w1.close()  # OS flush on process death; no commit/rollback exists

    # attempt 2 (Spark task retry): full partition, from the top
    w2 = _PartitionWriter(str(tmp_path), None, 0, cfg, run_ts, fs)
    for ln in lines:
        w2.write_line(ln)
    w2.close()

    files = [f for f in os.listdir(tmp_path) if f.startswith("f-")]
    assert files == [f"f-00000-{run_ts}"]  # same file, appended into
    got = Counter(
        open(os.path.join(tmp_path, files[0])).read().splitlines()
    )
    want = Counter(lines) + Counter(lines[:2])  # all 5 + the 2 dupes
    assert got == want
