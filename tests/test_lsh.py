"""operators/lsh.py: the one banded candidate stage and the one
``band_bucket_cap`` validator every capped entry point shares."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_appender_spark.operators.lsh import (
    band_pairs,
    history_candidates,
    hot_buckets,
    resolve_cap,
)


def test_resolve_cap_contract():
    assert resolve_cap("auto", lambda: 65) == 65
    assert resolve_cap(None, lambda: 65) is None
    assert resolve_cap(1) == 1
    assert resolve_cap(7, lambda: 65) == 7
    for bad in (0, -5, True, False, "many", 2.0):
        with pytest.raises(ValueError, match="band_bucket_cap must be"):
            resolve_cap(bad, lambda: 65)
    # no sized policy: "auto" is just another bad string
    with pytest.raises(ValueError, match="band_bucket_cap must be"):
        resolve_cap("auto")


def test_band_pairs_caps_once_before_the_join(spark):
    """Canonical distinct pairs; a pair sharing two buckets is emitted
    once; an over-cap bucket contributes no pair and is the one bucket
    hot_buckets reports."""
    bands = spark.createDataFrame(
        [(1, 0, "a"), (2, 0, "a"), (1, 1, "b"), (2, 1, "b"), (3, 1, "c")]
        + [(10 + i, 2, "hot") for i in range(4)],
        "id long, band int, sig string",
    )

    def pairs(cap):
        return sorted(tuple(r) for r in band_pairs(bands, "id", cap).collect())

    hot = [(10 + i, 10 + j) for i in range(4) for j in range(i + 1, 4)]
    assert pairs(None) == [(1, 2)] + hot
    assert pairs(3) == [(1, 2)]
    assert [tuple(r) for r in hot_buckets(bands, 3).collect()] == [(2, "hot", 4)]


def test_history_candidates_slice_equivalence(spark):
    """r8 verdict task 1: the history-path broadcast-semi slice (the
    O(batch)-per-epoch fix) must change NOTHING about the candidates
    — over-cap counts for every batch-touched bucket are computed on
    whole buckets (semi keeps them intact), and untouched buckets
    could never produce a candidate. Pin history_candidates, with the
    slice lazy (the small-store shape) and materialized (the big-store
    shape), against an inline unsliced reference spelling, capped and
    uncapped, on a history with a hot bucket, a cold shared bucket,
    and buckets the batch never touches."""
    # history: bucket (0,'HOT') holds ids 0..9, (1,'WARM') holds
    # 10..12, (2,'COLD') holds 20..24 (untouched by the batch)
    hist_rows = (
        [(i, 0, "HOT") for i in range(10)]
        + [(10 + i, 1, "WARM") for i in range(3)]
        + [(20 + i, 2, "COLD") for i in range(5)]
    )
    old = spark.createDataFrame(hist_rows, "doc_id long, band int, bh string")
    new = spark.createDataFrame(
        [(100, 0, "HOT"), (100, 1, "WARM"), (101, 1, "WARM"), (101, 3, "X")],
        "doc_id long, band int, bh string",
    )

    def unsliced(new_bands, old_bands, cap):
        x = new_bands.alias("x")
        if cap is not None:
            sized = old_bands.groupBy("band", "bh").agg(
                F.count("*").alias("n_in_bucket")
            )
            hot = F.broadcast(sized.filter(F.col("n_in_bucket") > cap))
            old_bands = old_bands.join(hot, ["band", "bh"], "left_anti")
            x = new_bands.join(hot, ["band", "bh"], "left_anti").alias("x")
        y = old_bands.select(
            F.col("doc_id").alias("_oid"), "band", "bh"
        ).alias("y")
        return (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bh") == F.col("y.bh"))
                & (F.col("x.doc_id") != F.col("y._oid")),
            )
            .select(
                F.col("x.doc_id").alias("new_id"), F.col("y._oid").alias("old_id")
            )
        )

    def sliced(cap, materialize=False):
        _, cand = history_candidates(new, old, "doc_id", cap, materialize=materialize)
        return sorted((r["new_id"], r["old_id"]) for r in cand.collect())

    for cap in (None, 5, 2):
        want = sorted(
            (r["new_id"], r["old_id"]) for r in unsliced(new, old, cap).collect()
        )
        for materialize in (False, True):
            got = sliced(cap, materialize)
            assert got == want, f"cap={cap} materialize={materialize}: {got} != {want}"
    # sanity on the fixture: cap=5 drops the HOT bucket but keeps WARM
    assert sliced(5) == [
        (100, 10), (100, 11), (100, 12), (101, 10), (101, 11), (101, 12)
    ]


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta word{i}") for i in range(6)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    img = spark.createDataFrame(
        [(i, bytearray(bytes(range(i, i + 80)))) for i in range(6)],
        "doc_id long, payload binary",
    )
    return docs, emb, img


def _call(op, spark, store, frames, cap):
    from file_appender_spark.curate import curate
    from file_appender_spark.operators import imagehash as ih
    from file_appender_spark.operators import neardup_ingest as ni
    from file_appender_spark.operators import pairstore as ps

    docs, emb, img = frames
    if op in ("ahash_neardup", "dhash_neardup"):
        return getattr(ih, op)(img, "doc_id", "payload", 3, cap)
    if op in ("ahash_neardup_sized", "ahash_neardup_sized_with_report"):
        return getattr(ih, op)(img, "doc_id", "payload", 6, 3, cap)
    if op == "ahash_capped_buckets":
        return ih.ahash_capped_buckets(img, "doc_id", "payload", 6, cap)
    if op == "capped_band_buckets":
        wide = ih.ahash_wide(img, "doc_id", "payload")
        return ih.capped_band_buckets(wide, "doc_id", cap)
    if op == "textdup_ingest_batch":
        return ni.textdup_ingest_batch(spark, docs, store, band_bucket_cap=cap)
    if op == "neardup_ingest_batch":
        return ni.neardup_ingest_batch(spark, emb, store, 0.9, band_bucket_cap=cap)
    if op == "imagedup_ingest_batch":
        return ni.imagedup_ingest_batch(spark, img, store, band_bucket_cap=cap)
    if op == "store_hot_buckets":
        return ni.store_hot_buckets(spark, store, cap)
    if op == "build_pair_graph":
        return ps.build_pair_graph(spark, docs, store, band_bucket_cap=cap)
    if op == "pairstore_ingest_batch":
        return ps.pairstore_ingest_batch(spark, docs, store, 1, band_bucket_cap=cap)
    assert op == "curate"
    return curate(
        spark, img.join(docs, "doc_id"), store, image_mode="ahash",
        image_band_bucket_cap=cap,
    )


@pytest.mark.parametrize("cap", [0, -5, True, "many"])
@pytest.mark.parametrize(
    "op",
    [
        "ahash_neardup",
        "dhash_neardup",
        "ahash_neardup_sized",
        "ahash_neardup_sized_with_report",
        "ahash_capped_buckets",
        "capped_band_buckets",
        "textdup_ingest_batch",
        "neardup_ingest_batch",
        "imagedup_ingest_batch",
        "store_hot_buckets",
        "build_pair_graph",
        "pairstore_ingest_batch",
        "curate",
    ],
)
def test_bad_band_bucket_cap_raises_before_any_job(
    spark, tmp_path, frames, op, cap
):
    """A cap below 1 would drop every bucket and so silently turn
    candidate generation off (no pair found, every near-dup admitted);
    a bool would pass as an int. Every capped entry point raises
    ValueError on such a cap before its first Spark job and before
    touching its store."""
    sc = spark.sparkContext
    group = f"bad-cap-{op}-{cap}"
    store = str(tmp_path / "store")
    sc.setJobGroup(group, "bad band_bucket_cap")
    try:
        with pytest.raises(ValueError, match="band_bucket_cap must be"):
            _call(op, spark, store, frames, cap)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert not (tmp_path / "store").exists()
