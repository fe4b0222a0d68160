"""operators/imagehash.py — average perceptual hash + banded Hamming
near-dup: pure-Python reference equivalence, planted duplicates,
pigeonhole recall, and the bucket-cap skew guard."""

from __future__ import annotations

from pyspark.sql import functions as F

from file_appender_spark.operators.imagehash import (
    ahash_from_cells,
    ahash_neardup,
    ahash_wide,
)


def _ref_ahash(payload: bytes):
    """Pure-Python reference of the exact declared pipeline: strided
    byte cells, cross-multiplied MEAN threshold (cell/k > total/n as
    cell*n > total*k), 4 x 16-bit bands."""
    cells = [0] * 64
    ks = [0] * 64
    for i, b in enumerate(payload):
        cells[i % 64] += b
        ks[i % 64] += 1
    total, n = sum(cells), len(payload)
    bits = [
        1 if cells[c] * n > total * ks[c] else 0 for c in range(64)
    ]
    bands = [
        sum(bits[16 * k + j] << j for j in range(16)) for k in range(4)
    ]
    return bands, sum(bits)


def _payload_df(spark, rows):
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in rows], "id long, payload binary"
    )


def test_ahash_matches_pure_python_reference(spark):
    payloads = [
        (1, bytes(range(256)) * 3),
        (2, b"the quick brown fox jumps over the lazy dog" * 7),
        (3, bytes([7] * 40)),  # shorter than the 64-cell grid
        (4, bytes([255, 0] * 200)),
    ]
    out = {
        r["id"]: r
        for r in ahash_wide(_payload_df(spark, payloads), "id", "payload").collect()
    }
    for i, p in payloads:
        bands, pop = _ref_ahash(p)
        row = out[i]
        assert [row[f"b{k}"] for k in range(4)] == bands, i
        assert row["popcount"] == pop
        assert row["n_bytes"] == len(p)


def test_exact_duplicate_payloads_pair_at_hamming_zero(spark):
    base = b"some binary payload with enough bytes to fill the grid " * 4
    other = bytes(range(200))
    df = _payload_df(spark, [(1, base), (2, base), (3, other)])
    pairs = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in ahash_neardup(df, "id", "payload", max_hamming=8).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_pigeonhole_recall_within_three_bits(spark):
    """Any pair within Hamming 3 of the 64-bit hash must share one of
    the 4 bands, so banding finds it with recall 1 — verified by
    planting a payload whose hash differs in <= 3 bits."""
    base = bytearray(bytes(range(256)) * 2)
    mutated = bytearray(base)
    # push three cells across the mean threshold: zero out strides
    for stride in (5, 21, 47):
        for i in range(stride, len(mutated), 64):
            mutated[i] = 0
    df = _payload_df(spark, [(1, bytes(base)), (2, bytes(mutated))])
    wide = {r["id"]: r for r in ahash_wide(df, "id", "payload").collect()}
    ham = sum(
        bin(wide[1][f"b{k}"] ^ wide[2][f"b{k}"]).count("1") for k in range(4)
    )
    if 1 <= ham <= 3:  # the planted mutation's actual bit flips
        found = ahash_neardup(df, "id", "payload", max_hamming=3).collect()
        assert [(r["d1"], r["d2"]) for r in found] == [(1, 2)]
    else:  # mutation crossed more thresholds than planted — still must verify exactly
        found = ahash_neardup(df, "id", "payload", max_hamming=64).collect()
        assert all(r["hamming"] == ham for r in found)


def test_band_bucket_cap_drops_degenerate_buckets(spark):
    dup = b"identical payload repeated across the corpus " * 3
    rows = [(i, dup) for i in range(1, 6)] + [(10, bytes(range(150)))]
    df = _payload_df(spark, rows)
    uncapped = ahash_neardup(df, "id", "payload", max_hamming=8).count()
    capped = ahash_neardup(
        df, "id", "payload", max_hamming=8, band_bucket_cap=3
    ).count()
    assert uncapped == 10  # C(5,2) identical pairs
    assert capped == 0  # every band bucket of the clones exceeds the cap


def test_ahash_from_cells_matches_payload_path(spark):
    """The external-decoder seam: feeding the SAME strided cells
    through ahash_from_cells reproduces ahash_bands exactly."""
    p = bytes(range(256)) * 2
    df = _payload_df(spark, [(1, p)])
    cells = [0] * 64
    for i, b in enumerate(p):
        cells[i % 64] += b
    cells_df = spark.createDataFrame(
        [(1, c, v) for c, v in enumerate(cells)], "id long, c int, cell long"
    )
    via_cells = {
        (r["bi"]): (r["bv"], r["pop"])
        for r in ahash_from_cells(cells_df, "id").collect()
    }
    bands, pop = _ref_ahash(p)
    assert [via_cells[k][0] for k in range(4)] == bands
    assert sum(via_cells[k][1] for k in range(4)) == pop


def test_imagedup_ingest_across_batches(spark, tmp_path):
    """aHash image ingest on the shared store protocol: exact-copy
    payload of an earlier batch suppressed, fresh payload admitted,
    empty payload passes through unstored, retry re-emits."""
    from file_appender_spark.operators.neardup_ingest import imagedup_ingest_batch

    store = str(tmp_path / "imgstore")
    p1 = b"first image-ish payload with plenty of bytes " * 4
    p2 = bytes(range(256))
    b1 = _payload_df(spark, [(1, p1), (2, p2)])
    a1 = imagedup_ingest_batch(spark, b1, store, id_col="id")
    assert a1.count() == 2

    p3 = b"a genuinely different payload about something else " * 3
    b2 = spark.createDataFrame(
        [(11, bytearray(p1)), (12, bytearray(b"")), (13, bytearray(p3))],
        "id long, payload binary",
    )
    a2 = imagedup_ingest_batch(spark, b2, store, id_col="id")
    got = sorted(r["id"] for r in a2.collect())
    assert got == [12, 13]  # exact copy suppressed; empty + fresh admitted

    a2_retry = imagedup_ingest_batch(spark, b2, store, id_col="id")
    assert sorted(r["id"] for r in a2_retry.collect()) == [12, 13]

    # the empty payload must NOT be in the store (no signature row)
    stored = spark.read.parquet(store)
    assert stored.filter(stored["id"] == 12).count() == 0


def test_imagedup_within_batch_min_id_wins(spark, tmp_path):
    from file_appender_spark.operators.neardup_ingest import imagedup_ingest_batch

    store = str(tmp_path / "imgstore2")
    dup = b"identical bytes across three ids in one batch " * 3
    b = _payload_df(spark, [(5, dup), (3, dup), (9, dup)])
    a = imagedup_ingest_batch(spark, b, store, id_col="id")
    assert sorted(r["id"] for r in a.collect()) == [3]


def test_ahash_params_policy_monotone():
    from file_appender_spark.operators.imagehash import ahash_params_for

    assert ahash_params_for(200) == 64  # band 16 >= log2(200)+8
    assert ahash_params_for(100_000) == 128
    assert ahash_params_for(10_000_000) == 128
    assert ahash_params_for(10**14) == 256  # 100 TB-of-images territory
    # monotone nondecreasing in n
    grids = [ahash_params_for(n) for n in (10, 1_000, 10**5, 10**8, 10**14)]
    assert grids == sorted(grids)


def test_ahash_sized_finds_planted_pair_at_wider_grid(spark):
    from file_appender_spark.operators.imagehash import (
        ahash_neardup_sized,
        ahash_params_for,
    )

    # force the 128-cell grid by declaring a large corpus size
    n_items = 100_000
    assert ahash_params_for(n_items) == 128
    base = bytes((i * 37 + 11) % 256 for i in range(600))
    other = bytes((i * 101 + 5) % 256 for i in range(600))
    df = _payload_df(spark, [(1, base), (2, base), (3, other)])
    pairs = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in ahash_neardup_sized(
            df, "id", "payload", n_items=n_items, max_hamming=3
        ).collect()
    }
    assert pairs.get((1, 2)) == 0  # exact copy at hamming 0 on the 128-bit hash
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_imagedup_ingest_via_streaming_foreachbatch(spark, tmp_path):
    """End-to-end streaming wiring for the image modality: a parquet
    file stream drives imagedup_ingest_batch through foreachBatch,
    admitted payloads land in the sink, exact-copy payloads of
    earlier batches are suppressed."""
    import glob
    import shutil

    from pyspark.sql import functions as F  # noqa: F811

    from file_appender_spark.operators.neardup_ingest import imagedup_ingest_batch

    src = tmp_path / "incoming"
    src.mkdir()
    store = str(tmp_path / "imgsigstore")
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")

    def add_file(df, name):
        tmp = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], str(src / name))

    p1 = b"payload one with plenty of grid-filling bytes " * 4
    p2 = bytes(range(240))
    p3 = b"a third, genuinely different payload " * 5
    add_file(_payload_df(spark, [(1, p1), (2, p2)]), "b1.parquet")
    add_file(_payload_df(spark, [(201, p2), (202, p3)]), "b2.parquet")

    schema = _payload_df(spark, [(0, b"x")]).schema

    def absorb(batch, batch_id):
        admitted = imagedup_ingest_batch(spark, batch, store, id_col="id")
        admitted.write.mode("append").parquet(out)

    q = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
        .writeStream.foreachBatch(absorb)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    admitted_ids = {r["id"] for r in spark.read.parquet(out).collect()}
    # the p2 copy admits exactly one member whichever file came first
    assert len({2, 201} & admitted_ids) == 1
    assert {1, 202} <= admitted_ids
    assert len(admitted_ids) == 3


def test_curate_image_stage_drops_payload_neardups(spark, sf_dir, tmp_path):
    """curate(image_mode='ahash'): two records carrying the SAME
    payload under different texts collapse (neither text stage can
    see that), NULL payloads pass through, and the funnel reports
    the stage count."""
    from file_appender_spark.curate import curate
    from file_appender_spark.sources.catalog import load_table

    base = (
        load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(6)
        .select("doc_id", "text", F.encode("text", "UTF-8").alias("payload"))
    )
    rows = base.collect()
    extra = spark.createDataFrame(
        [
            # same payload as rows[0], different text: only the image
            # stage can catch this pair
            (900_000, "caption rewritten completely differently", bytes(rows[0]["payload"])),
            # NULL payload: must pass through the image stage
            (900_001, "a record with no payload attached at all", None),
        ],
        "doc_id long, text string, payload binary",
    )
    docs = base.unionByName(extra)

    res = curate(
        spark,
        docs,
        str(tmp_path / "curated"),
        near_threshold=0.99,
        min_alpha_ratio=0.0,
        image_mode="ahash",
    )
    assert res["after_image_dedup"] == res["after_exact_dedup"] - 1
    written = spark.read.parquet(str(tmp_path / "curated"))
    ids = {r["doc_id"] for r in written.collect()}
    assert 900_000 not in ids  # payload dup dropped (larger id)
    assert 900_001 in ids  # NULL payload passed through
    assert rows[0]["doc_id"] in ids  # incumbent kept

    # off mode: dict has no image key, dup survives
    res2 = curate(
        spark,
        docs,
        str(tmp_path / "curated2"),
        near_threshold=0.99,
        min_alpha_ratio=0.0,
    )
    assert "after_image_dedup" not in res2
    ids2 = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "curated2")).collect()
    }
    assert 900_000 in ids2

    # unknown mode fails fast before any job
    import pytest as _pytest

    with _pytest.raises(ValueError, match="image_mode"):
        curate(spark, docs, str(tmp_path / "x"), image_mode="phash")


def _ref_dhash(payload: bytes, grid: int = 64):
    """Pure-Python reference of the declared dHash: dense strided
    (cell, k) with absent -> (0, 1), bit c = mean_c > mean_{c+1}
    cross-multiplied, last bit always 0."""
    cells = [0] * grid
    ks = [0] * grid
    for i, b in enumerate(payload):
        cells[i % grid] += b
        ks[i % grid] += 1
    dk = [k if k else 1 for k in ks]
    bits = [
        1 if c < grid - 1 and cells[c] * dk[c + 1] > cells[c + 1] * dk[c] else 0
        for c in range(grid)
    ]
    w = grid // 4
    bands = [
        sum(bits[w * k + j] << j for j in range(w)) for k in range(4)
    ]
    return bands, sum(bits)


def test_dhash_matches_pure_python_reference(spark):
    from file_appender_spark.operators.imagehash import dhash_wide

    payloads = [
        (1, bytes(range(256)) * 3),
        (2, b"the quick brown fox jumps over the lazy dog" * 7),
        (3, bytes([7] * 40)),  # shorter than the grid: absent cells
        (4, bytes([255, 0] * 200)),
    ]
    out = {
        r["id"]: r
        for r in dhash_wide(_payload_df(spark, payloads), "id", "payload").collect()
    }
    for i, p in payloads:
        bands, pop = _ref_dhash(p)
        row = out[i]
        assert [row[f"b{k}"] for k in range(4)] == bands, i
        assert row["popcount"] == pop
        assert row["n_bytes"] == len(p)


def test_dhash_brightness_shift_invariance(spark):
    """A uniform brightness shift (+16 on every byte, no clipping)
    moves every cell mean by exactly +16, so the gradient inequality
    is unchanged — dHash must be bit-identical, engine and reference
    alike (the cross-multiplied form makes this exact, not
    approximate)."""
    base = bytes((i * 37 + 11) % 200 for i in range(512))
    shifted = bytes(b + 16 for b in base)  # max 199+16 < 256
    bands_a, _ = _ref_dhash(base)
    bands_b, _ = _ref_dhash(shifted)
    assert bands_a == bands_b  # gradient hash is shift-invariant
    from file_appender_spark.operators.imagehash import dhash_wide

    out = {
        r["id"]: [r[f"b{k}"] for k in range(4)]
        for r in dhash_wide(
            _payload_df(spark, [(1, base), (2, shifted)]), "id", "payload"
        ).collect()
    }
    assert out[1] == out[2] == bands_a


def test_ahash_from_cells_rejects_out_of_grid_cells(spark):
    """ADVICE r5: a decoder emitting more cells than the declared grid
    must raise, not silently drop cells >= grid from the bands while
    they still move the global mean."""
    import pytest as _pytest

    cells_df = spark.createDataFrame(
        [(1, c, 10 * c) for c in range(80)], "id long, c int, cell long"
    )
    # plan-embedded assert_true raises at EXECUTION (no eager extra
    # scan at construction) as a Spark runtime error
    with _pytest.raises(Exception, match="outside the declared grid"):
        ahash_from_cells(cells_df, "id").collect()  # default grid=64 < 80
    # declaring the real grid works and bands all 80 cells
    wide_ok = ahash_from_cells(cells_df, "id", grid=128).collect()
    assert {r["bi"] for r in wide_ok} == {0, 1, 2, 3}


def test_dhash_neardup_exact_dup_and_mode_separation(spark):
    """dhash_neardup: exact payload copies pair at hamming 0; a
    structurally different payload stays unpaired; the sized variant
    applies the shared banding policy grid."""
    from file_appender_spark.operators.imagehash import (
        dhash_neardup,
        dhash_neardup_sized,
    )

    base = bytes((i * 37 + 11) % 256 for i in range(600))
    other = bytes((i * 101 + 5) % 256 for i in range(600))
    df = _payload_df(spark, [(1, base), (2, base), (3, other)])
    pairs = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in dhash_neardup(df, "id", "payload", max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs
    sized = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in dhash_neardup_sized(
            df, "id", "payload", n_items=100_000, max_hamming=3
        ).collect()
    }
    assert sized.get((1, 2)) == 0  # 128-bit grid, same verdict


def test_imagedup_ingest_dhash_mode_and_store_pinning(spark, tmp_path):
    """hash_mode='dhash' runs the ingest protocol on gradient bits;
    a store stamped dhash rejects a later ahash batch (signatures
    are incomparable across hash modes)."""
    import pytest as _pytest

    from file_appender_spark.operators.neardup_ingest import imagedup_ingest_batch

    store = str(tmp_path / "dhashstore")
    p1 = b"first payload with plenty of grid-filling bytes " * 4
    p2 = bytes(range(256))
    b1 = _payload_df(spark, [(1, p1), (2, p2)])
    a1 = imagedup_ingest_batch(spark, b1, store, id_col="id", hash_mode="dhash")
    assert a1.count() == 2

    b2 = _payload_df(spark, [(11, p1), (13, b"another different payload " * 5)])
    a2 = imagedup_ingest_batch(spark, b2, store, id_col="id", hash_mode="dhash")
    assert sorted(r["id"] for r in a2.collect()) == [13]  # exact copy suppressed

    with _pytest.raises(ValueError, match="incomparable"):
        imagedup_ingest_batch(spark, b2, store, id_col="id", hash_mode="ahash")
    with _pytest.raises(ValueError, match="hash_mode"):
        imagedup_ingest_batch(spark, b2, store, id_col="id", hash_mode="phash")


def test_band_bucket_cap_policy():
    """band_bucket_cap_for: worst-case candidate pairs per item are
    bounded at target (cap = target/2 + 1) and the cap sits far above
    the policy grid's honest-bucket expectation."""
    import pytest as _pytest

    from file_appender_spark.operators.imagehash import (
        ahash_params_for,
        band_bucket_cap_for,
    )

    assert band_bucket_cap_for(1000) == 65
    assert band_bucket_cap_for(500_000) == 65  # policy grid keeps expectation tiny
    assert band_bucket_cap_for(2000, target_pairs_per_item=32.0) == 17
    # a deliberately undersized grid (16-bit bands at 10M items) pushes the
    # expectation term above the target term — the cap must follow it up
    import math

    assert band_bucket_cap_for(10_000_000, grid=64) == math.ceil(
        8 * 10_000_000 / 2**16
    )
    # far above honest expectation under the sized grid
    n = 500_000
    assert band_bucket_cap_for(n) > 100 * n / 2 ** (ahash_params_for(n) // 4)
    with _pytest.raises(ValueError):
        band_bucket_cap_for(0)
    with _pytest.raises(ValueError):
        band_bucket_cap_for(10, target_pairs_per_item=1.0)


def test_imagedup_ingest_dhash_streaming_equals_batch(spark, tmp_path):
    """r6 verdict task 6: the batch==streaming image equivalence,
    extended to hash_mode='dhash'. A parquet file stream drives
    imagedup_ingest_batch(hash_mode='dhash') through foreachBatch in
    doc-id order; the admitted set must equal the one-shot BATCH
    dhash near-dup pass over the union (survivors = ids never the
    larger side of a pair — first-arrival-wins == min-id-keep under
    ordered arrival). The planted cross-batch near-dup is NOT an
    exact copy: it is validated against the pure-Python dHash
    reference to sit within max_hamming, so the test exercises the
    gradient hash, not byte equality."""
    import glob
    import shutil

    from file_appender_spark.operators.imagehash import dhash_neardup
    from file_appender_spark.operators.neardup_ingest import imagedup_ingest_batch

    p1 = bytes((i * 53 + 19) % 256 for i in range(640))

    def _perturb(stride: int, delta: int) -> bytes:
        out = bytearray(p1)
        for i in range(stride, len(out), 64):
            out[i] = min(255, out[i] + delta)
        return bytes(out)

    # deterministic search for a perturbation that flips 1-8 gradient
    # bits (a fixed tweak can land on 0 flips when adjacent stride
    # means are far apart — validate against the reference instead)
    b_a, _ = _ref_dhash(p1)
    p1n, ham = None, 0
    for stride in (5, 21, 40):
        for delta in (16, 32, 48, 64, 96):
            cand = _perturb(stride, delta)
            b_b, _ = _ref_dhash(cand)
            h = sum(bin(x ^ y).count("1") for x, y in zip(b_a, b_b))
            if 1 <= h <= 8:
                p1n, ham = cand, h
                break
        if p1n is not None:
            break
    assert p1n is not None, "no perturbation flipped 1-8 dHash bits"
    p2 = bytes(range(240))
    p3 = b"a wholly different third payload for the stream " * 6

    all_rows = [(1, p1), (2, p2), (11, p1n), (12, p3)]

    # one-shot batch reference: survivors = never the larger pair side
    pairs = dhash_neardup(
        _payload_df(spark, all_rows), "id", "payload", max_hamming=8
    )
    dropped = {r["d2"] for r in pairs.collect()}
    want = {i for i, _ in all_rows} - dropped
    assert want == {1, 2, 12}  # 11 caught ONLY by the gradient hash

    src = tmp_path / "dh_incoming"
    src.mkdir()

    def add_file(df, name):
        tmp = str(tmp_path / f"_dhstage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], str(src / name))

    add_file(_payload_df(spark, all_rows[:2]), "b1.parquet")
    add_file(_payload_df(spark, all_rows[2:]), "b2.parquet")

    store = str(tmp_path / "dh_sigstore")
    out = str(tmp_path / "dh_admitted")
    schema = _payload_df(spark, [(0, b"x")]).schema

    def absorb(batch, batch_id):
        admitted = imagedup_ingest_batch(
            spark, batch, store, id_col="id", hash_mode="dhash", max_hamming=8
        )
        admitted.write.mode("append").parquet(out)

    q = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
        .writeStream.foreachBatch(absorb)
        .option("checkpointLocation", str(tmp_path / "dh_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["id"] for r in spark.read.parquet(out).collect()}
    assert got == want


def test_imagedup_ingest_auto_cap_and_sig_shortcut(spark, tmp_path):
    """The ingest-side hot-bucket guard (r7) + the r8 signature-
    equality shortcut: 80 DISTINCT flat payloads (all-zero aHash
    bands, hamming 0 pairwise) are suppressed to their min id under
    BOTH the auto cap and explicit None — identical full hashes mean
    Hamming exactly 0, an exact dup under the operator's own
    verifier, caught by a signature groupBy with no pair join. The
    store keeps one representative, so the degenerate bucket never
    accumulates; cross-batch flat payloads match it by signature."""
    from file_appender_spark.operators.neardup_ingest import (
        _store_row_count,
        imagedup_ingest_batch,
    )

    rows = [(i, bytes([9]) * (500 + i)) for i in range(80)]
    b = _payload_df(spark, rows)

    store_auto = str(tmp_path / "cap_auto_store")
    admitted = imagedup_ingest_batch(spark, b, store_auto, id_col="id")
    assert sorted(r["id"] for r in admitted.collect()) == [0]
    assert _store_row_count(store_auto) == 1

    store_none = str(tmp_path / "cap_none_store")
    admitted_none = imagedup_ingest_batch(
        spark, b, store_none, id_col="id", band_bucket_cap=None
    )
    assert sorted(r["id"] for r in admitted_none.collect()) == [0]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="band_bucket_cap"):
        imagedup_ingest_batch(
            spark, b, str(tmp_path / "cap_bad"), id_col="id",
            band_bucket_cap="nope",
        )

    # cross-batch: new flat payloads match the stored representative
    # by signature and are suppressed (no band join needed)
    b2 = _payload_df(spark, [(1000 + i, bytes([9]) * (900 + i)) for i in range(5)])
    a2 = imagedup_ingest_batch(spark, b2, store_auto, id_col="id")
    assert a2.count() == 0


def test_capped_buckets_report(spark):
    """r7 advice: the sized entry points' binding cap is a silent
    recall change without a report — capped_band_buckets surfaces
    WHICH buckets were dropped (graph.capped_vertices discipline).
    80 distinct flat payloads co-bucket in all 4 bands -> 4 over-cap
    buckets with 80 members each; an organic corpus reports nothing;
    cap=None has no truncation to report and refuses."""
    import pytest as _pytest

    from file_appender_spark.operators.imagehash import ahash_capped_buckets

    flat = _payload_df(spark, [(i, bytes([9]) * (500 + i)) for i in range(80)])
    rep = ahash_capped_buckets(flat, "id", "payload", n_items=80).collect()
    assert len(rep) == 4
    assert all(r["n_in_bucket"] == 80 for r in rep)

    organic = _payload_df(
        spark, [(i, bytes(range(2 + i)) * 7) for i in range(10)]
    )
    assert (
        ahash_capped_buckets(organic, "id", "payload", n_items=10).count() == 0
    )

    with _pytest.raises(ValueError, match="band_bucket_cap"):
        ahash_capped_buckets(
            flat, "id", "payload", n_items=80, band_bucket_cap=None
        )


def test_curate_funnel_reports_image_truncation(spark, tmp_path):
    """curate's funnel dict must say when the image stage's auto cap
    BOUND (the run was inexact for those buckets' members) — and must
    stay silent when the guard is disabled."""
    from file_appender_spark.curate import curate

    docs = spark.createDataFrame(
        [
            (
                i,
                f"unique caption number {i} with plenty of distinct words {i * 7}",
                bytes([9]) * (500 + i),
            )
            for i in range(80)
        ],
        "doc_id long, text string, payload binary",
    )
    res = curate(
        spark,
        docs,
        str(tmp_path / "cap_report"),
        near_threshold=0.99,
        min_alpha_ratio=0.0,
        image_mode="ahash",
    )
    assert res["image_capped_buckets"] == 4
    assert res["image_capped_members"] == 4 * 80
    # the capped (degenerate) family was ADMITTED, not suppressed
    assert res["after_image_dedup"] == res["after_exact_dedup"]

    res2 = curate(
        spark,
        docs,
        str(tmp_path / "cap_report_none"),
        near_threshold=0.99,
        min_alpha_ratio=0.0,
        image_mode="ahash",
        image_band_bucket_cap=None,
    )
    assert "image_capped_buckets" not in res2
    assert res2["after_image_dedup"] < res2["after_exact_dedup"]


def test_image_sigs_arrow_bitequal_both_modes(spark):
    """The vectorized Arrow signature stage (image_sigs_arrow, the
    r12 ingest hot path) is BIT-IDENTICAL to the exploded references
    for BOTH hash modes — including the absent-row contract for
    empty and NULL payloads, sub-grid payloads (sparse cells with
    k=0 strides), exact-grid boundaries, and all-zero bytes (dhash's
    absent-stride (0, 1) densification)."""
    from pyspark.sql import functions as F

    from file_appender_spark.operators.imagehash import (
        ahash_wide,
        dhash_wide,
        image_sigs_arrow,
    )

    rows = [
        (1, b"hello world, a payload long enough to fill strides"),
        (2, b"hello world, a payload long enough to fill strideZ"),
        (3, b"x"),              # shorter than the grid: sparse cells
        (4, b""),               # empty: row absent
        (5, bytes(range(256)) * 3),
        (6, None),              # NULL: row absent
        (7, b"\x00" * 500),     # all-zero bytes
        (8, b"\xff" * 63),      # grid-1 bytes
        (9, b"a" * 64),         # exactly one full stride pass
        (10, b"ab" * 1000),     # alternating long payload
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    for mode, wide in (("ahash", ahash_wide), ("dhash", dhash_wide)):
        ref = wide(df, "doc_id", "payload").select(
            "doc_id", "b0", "b1", "b2", "b3"
        )
        got = image_sigs_arrow(df, "doc_id", "payload", hash_mode=mode)
        assert got.columns == ref.columns, mode
        assert got.exceptAll(ref).count() == 0, mode
        assert ref.exceptAll(got).count() == 0, mode
        absent = got.filter(F.col("doc_id").isin(4, 6)).count()
        assert absent == 0, mode
