"""operators/lsh.py: the one banded candidate stage and the one
``band_bucket_cap`` validator every capped entry point shares."""

from __future__ import annotations

import pytest

from file_appender_spark.operators.lsh import band_pairs, hot_buckets, resolve_cap


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
