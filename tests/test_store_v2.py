"""Round-10 store layout tests: schema v2 (precomputed band-hash /
full-signature-hash long columns), the banded index sidecar built by
compaction, v1-store compatibility, and curate's pair-store coverage
guard (r9 verdict tasks 1-3 + ADVICE)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from file_appender_spark.operators.neardup_ingest import (
    _INDEX_DIR,
    _INDEX_META,
    _band_index_state,
    _bands_hash_long,
    _minhash_sig_frame,
    _modality_spec,
    _store_is_v2,
    _with_index_cols,
    build_band_index,
    compact_store,
    stamp_store_params,
    textdup_ingest_batch,
)

TEXT_PARAMS = {"modality": "minhash", "n_slots": 16, "n_bands": 4}


def _docs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "doc_id long, text string")


def _corpus(spark, n=40, seed_tag="alpha"):
    # per-doc-unique words, so docs only match where a twin is PLANTED
    rows = [
        (i, " ".join(f"{seed_tag}{i}x{j}" for j in range(12)))
        for i in range(n)
    ]
    # near-dup twins: every 10k+1 id repeats 10k's text + a tail
    rows = [
        (i, rows[i - 1][1] + " tail marker token") if i % 10 == 1 else (i, t)
        for i, t in rows
    ]
    return _docs(spark, rows)


def test_with_index_cols_matches_v1_derive(spark):
    """The write-time v2 columns and the read-time v1 derivation must
    be bit-identical, or mixed-era signatures would never join."""
    sigs = _minhash_sig_frame(_corpus(spark), "doc_id", "text")
    spec = _modality_spec(TEXT_PARAMS)
    v2 = _with_index_cols(sigs, 4, spec["fh_cols"])
    a = _bands_hash_long(v2, 4, "doc_id", spec["fh_cols"])
    b = _bands_hash_long(sigs, 4, "doc_id", spec["fh_cols"])  # derive path
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_v1_store_compat_appends_v1_then_compaction_upgrades(spark, tmp_path):
    """A legacy v1 store keeps working: reads derive the hashes,
    appends match the v1 schema (never mixed-version), and
    compact_store upgrades to v2 + builds the index sidecar
    atomically; results are identical before and after."""
    store = str(tmp_path / "v1store")
    docs = _corpus(spark, 40)
    _minhash_sig_frame(docs, "doc_id", "text").write.parquet(store)
    stamp_store_params(store, TEXT_PARAMS)

    d0 = docs.filter(F.col("doc_id") == 0).collect()[0]["text"]
    b2 = _docs(
        spark,
        [(100, d0),  # exact-text dup of stored doc 0 -> suppressed
         (101, "совершенно unique words that match nothing at all here")],
    )
    before = sorted(
        r["doc_id"] for r in textdup_ingest_batch(spark, b2, store).collect()
    )
    # the append stayed v1 (no mixed-version store)
    assert not _store_is_v2(spark.read.parquet(store))

    n_files = compact_store(spark, store, id_col="doc_id")
    assert n_files >= 1
    hist = spark.read.parquet(store)
    assert _store_is_v2(hist)
    state = _band_index_state(store)
    assert state is not None and state["tail"] == []
    # replay of the same batch post-upgrade: at-least-once re-emit of
    # whatever was admitted before (identical decision set)
    after = sorted(
        r["doc_id"] for r in textdup_ingest_batch(spark, b2, store).collect()
    )
    assert after == before
    # the post-compaction epoch appended v2 rows and became the tail
    state = _band_index_state(store)
    assert state is not None and len(state["tail"]) >= 1


def test_band_index_pruned_epoch_equals_fullscan(spark, tmp_path):
    """The sidecar-pruned history path must make identical admit
    decisions to the fused wide scan: run the same epoch against an
    indexed store and an index-free copy of the same store."""
    import shutil

    docs = _corpus(spark, 60, seed_tag="beta")
    s_idx = str(tmp_path / "indexed")
    seed = _docs(spark, [(i, t) for i, t in docs.collect()])
    textdup_ingest_batch(spark, seed, s_idx)
    # bucket count far above the epoch's key count, so the strict
    # pruning gate (touched <= nb/16) actually takes the index path
    compact_store(spark, s_idx, id_col="doc_id", index_buckets=1024)
    assert _band_index_state(s_idx) is not None
    s_plain = str(tmp_path / "plain")
    shutil.copytree(s_idx, s_plain)
    shutil.rmtree(os.path.join(s_plain, _INDEX_DIR))

    # small epoch: near-dup of doc 20, an exact-text dup of doc 0, a
    # replayed stored id, and a fresh doc
    d20 = docs.filter(F.col("doc_id") == 20).collect()[0]["text"]
    d0 = docs.filter(F.col("doc_id") == 0).collect()[0]["text"]
    ep = _docs(
        spark,
        [(500, d20 + " extra"), (501, d0), (20, d20),
         (502, "entirely fresh words nothing shared with any one doc x y z")],
    )
    got_idx = sorted(
        r["doc_id"] for r in textdup_ingest_batch(spark, ep, s_idx).collect()
    )
    got_plain = sorted(
        r["doc_id"] for r in textdup_ingest_batch(spark, ep, s_plain).collect()
    )
    assert got_idx == got_plain
    # the replayed stored id must be re-emitted (at-least-once) on
    # both paths; the exact dup of doc 0 suppressed on both
    assert 20 in got_idx and 501 not in got_idx


def test_band_index_invalidated_by_wide_rewrite(spark, tmp_path):
    """The sidecar is DERIVED data: if a covered wide file disappears
    (external rewrite), the state reports invalid and readers fall
    back to the wide scan rather than serving a stale index."""
    store = str(tmp_path / "inval")
    textdup_ingest_batch(spark, _corpus(spark, 30), store)
    compact_store(spark, store, id_col="doc_id", index_buckets=64)
    assert _band_index_state(store) is not None
    # clobber one covered wide file
    wide = [
        f for f in os.listdir(store)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    os.remove(os.path.join(store, wide[0]))
    assert _band_index_state(store) is None


def test_compact_empty_store_skips_sidecar(spark, tmp_path):
    """partitionBy on zero rows writes no partition directories, so an
    empty store must get NO sidecar (a pruned read could not infer a
    schema from it) — and later epochs must still work."""
    store = str(tmp_path / "empty")
    none = _docs(spark, []).limit(0)
    textdup_ingest_batch(spark, none, store)
    compact_store(spark, store, id_col="doc_id")
    assert _band_index_state(store) is None
    got = textdup_ingest_batch(spark, _corpus(spark, 10), store)
    assert got.count() == 9  # one planted twin suppressed


def test_build_band_index_requires_params(spark, tmp_path):
    store = str(tmp_path / "noparams")
    _minhash_sig_frame(_corpus(spark, 10), "doc_id", "text").write.parquet(store)
    with pytest.raises(ValueError, match="stamp or rebuild"):
        build_band_index(spark, store, "doc_id")


def test_index_meta_shape(spark, tmp_path):
    store = str(tmp_path / "meta")
    textdup_ingest_batch(spark, _corpus(spark, 30), store)
    nb = compact_store(spark, store, id_col="doc_id", index_buckets=32) and 32
    meta = json.loads(
        open(os.path.join(store, _INDEX_DIR, _INDEX_META)).read()
    )
    assert meta["buckets"] == nb and meta["id_col"] == "doc_id"
    assert set(meta["covers"]) == {
        f for f in os.listdir(store)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    }
    # the data dir holds bucket= partitions only
    data = os.listdir(os.path.join(store, _INDEX_DIR, "data"))
    assert any(d.startswith("bucket=") for d in data)
    assert all(d.startswith(("bucket=", "_", ".")) for d in data)


def _lean_big_case(spark, modality):
    """(ingest, id_col, stored batch, epoch batch) for one modality.
    The epoch carries an exact-duplicate family of stored row 5 (ids
    900/901 — 901 is a near-dup tail for text), row 5's own-id
    re-ingest and a novel row 902; the SRP case adds zero-norm vectors
    to both sides (903/904 in the epoch), which are never suppressed."""
    import random

    from file_appender_spark.operators.neardup_ingest import (
        imagedup_ingest_batch,
        neardup_ingest_batch,
    )

    if modality == "textdup":
        docs = _corpus(spark, 50, seed_tag="delta")
        d5 = docs.filter(F.col("doc_id") == 5).collect()[0]["text"]
        ep = _docs(
            spark,
            [(900, d5), (901, d5 + " near dup tail"), (5, d5),
             (902, "totally novel tokens unlike anything else qq ww ee rr tt yy")],
        )
        return textdup_ingest_batch, "doc_id", docs, ep
    if modality == "neardup":
        def vec(i):
            rng = random.Random(i)
            return [rng.gauss(0.0, 1.0) for _ in range(8)]

        schema = "vec_id long, embedding array<double>"
        zero = [0.0] * 8
        stored = spark.createDataFrame(
            [(i, vec(i)) for i in range(50)] + [(50, zero)], schema
        )
        ep = spark.createDataFrame(
            [(900, vec(5)), (901, vec(5)), (5, vec(5)), (902, vec(7777)),
             (903, zero), (904, zero)],
            schema,
        )

        def ingest(spark, batch, store):
            return neardup_ingest_batch(spark, batch, store, threshold=0.999)

        return ingest, "vec_id", stored, ep

    def payload(i):
        rng = random.Random(1000 + i)
        return bytearray(rng.randrange(256) for _ in range(256))

    schema = "doc_id long, payload binary"
    stored = spark.createDataFrame([(i, payload(i)) for i in range(50)], schema)
    ep = spark.createDataFrame(
        [(900, payload(5)), (901, payload(5)), (5, payload(5)),
         (902, payload(7777))],
        schema,
    )
    return imagedup_ingest_batch, "doc_id", stored, ep


@pytest.mark.parametrize("modality", ["textdup", "neardup", "imagedup"])
def test_big_store_materialized_path_equals_lean(
    spark, tmp_path, monkeypatch, modality
):
    """The epoch has two shapes: LEAN (small stores — lazy joins, no
    materialization jobs) and MATERIALIZED (big stores — checkpointed
    slice/candidates + exact-count broadcast gating). They must make
    identical admit decisions for every modality; unit stores are
    small, so the big branch is forced by zeroing the threshold."""
    import shutil

    import file_appender_spark.operators.neardup_ingest as ni

    ingest, id_col, stored, ep = _lean_big_case(spark, modality)
    s_lean = str(tmp_path / "lean")
    ingest(spark, stored, s_lean)
    s_big = str(tmp_path / "big")
    shutil.copytree(s_lean, s_big)

    lean = sorted(r[id_col] for r in ingest(spark, ep, s_lean).collect())
    monkeypatch.setattr(ni, "_EAGER_SLICE_MIN_STORE_ROWS", 0)
    big = sorted(r[id_col] for r in ingest(spark, ep, s_big).collect())
    assert big == lean and 5 in big and 900 not in big and 902 in big
    if modality == "neardup":
        assert 901 not in big and {903, 904} <= set(big)


def test_maintenance_refuses_inflight_write(spark, tmp_path):
    """r9 verdict task 7: a Spark ``_temporary`` dir under a store
    table means a live (or crashed) writer — compaction and cluster
    refresh must refuse the maintenance window instead of racing the
    directory swap."""
    from file_appender_spark.operators.pairstore import (
        _sigs_dir,
        build_pair_graph,
        compact_pairstore,
        refresh_clusters,
    )

    store = str(tmp_path / "busy")
    build_pair_graph(spark, _corpus(spark, 20), store, threshold=0.2)
    os.makedirs(os.path.join(_sigs_dir(store), "batch=9", "_temporary"))
    with pytest.raises(RuntimeError, match="in-flight"):
        compact_pairstore(spark, store)
    os.rmdir(os.path.join(_sigs_dir(store), "batch=9", "_temporary"))
    os.rmdir(os.path.join(_sigs_dir(store), "batch=9"))

    # signature store: same guard on compact_store
    sstore = str(tmp_path / "busy_sig")
    textdup_ingest_batch(spark, _corpus(spark, 15), sstore)
    os.makedirs(os.path.join(sstore, "_temporary"))
    with pytest.raises(RuntimeError, match="in-flight"):
        compact_store(spark, sstore, id_col="doc_id")
    os.rmdir(os.path.join(sstore, "_temporary"))
    assert compact_store(spark, sstore, id_col="doc_id") >= 1
    assert refresh_clusters(spark, store) in ("fresh", "incremental", "full")


def test_curate_graph_dir_coverage_guard(spark, tmp_path):
    """r9 ADVICE (medium): a pair store built from a PARTIAL corpus
    must be refused by curate(graph_dir=...) instead of silently
    skipping the missing docs' near-dup edges."""
    from file_appender_spark.curate import curate
    from file_appender_spark.operators.pairstore import (
        build_pair_graph,
        store_missing_ids,
    )

    docs = _corpus(spark, 40, seed_tag="gamma")
    partial = docs.filter(F.col("doc_id") < 20)
    gd = str(tmp_path / "partial_graph")
    build_pair_graph(spark, partial, gd, threshold=0.2)

    missing = store_missing_ids(spark, gd, docs.select("doc_id"))
    assert missing.count() == 20

    with pytest.raises(ValueError, match="does not cover this corpus"):
        curate(
            spark, docs, str(tmp_path / "out"),
            near_threshold=0.2, graph_dir=gd,
        )

    # a covering store passes and the funnel matches the recompute
    gd_full = str(tmp_path / "full_graph")
    build_pair_graph(spark, docs, gd_full, threshold=0.2)
    f_store = curate(
        spark, docs, str(tmp_path / "out2"), near_threshold=0.2,
        graph_dir=gd_full,
    )
    f_plain = curate(spark, docs, str(tmp_path / "out3"), near_threshold=0.2)
    for k in ("input", "after_exact_dedup", "after_near_dedup",
              "after_quality", "written"):
        assert f_store[k] == f_plain[k], k


def test_use_band_index_gate_from_measured_bytes():
    """r10 verdict task 6, recalibrated r12: the use-index decision
    derives from the byte facts the build stamped into the meta plus
    a per-touched-bucket overhead term (0.5 MiB scan-equivalents) —
    the model that reproduces all eight measured prune/wide outcomes
    of MINIBATCH_INDEX_PROBE_r11 (5.2M rows) and _r12 (50M rows,
    forced-prune runs). The pinned shapes below are those two REAL
    stores, so the gate can never silently drift from the probes
    that calibrated it."""
    from file_appender_spark.operators.neardup_ingest import _use_band_index

    # the r11 probe's 5.2M-row store: idx 444.7MB / wide 234.8MB /
    # 4096 buckets. Measured: 64-doc epochs (<=256 touched) pruned
    # 1.08x; 128-doc (<=512) and 256-doc (<=1024) LOSE pruned.
    small = {
        "buckets": 4096,
        "index_bytes": 444_699_317,
        "wide_narrow_bytes": 234_752_548,
    }
    assert _use_band_index(small, 256)  # 64-doc epoch: prune
    assert not _use_band_index(small, 512)  # 128-doc: wide
    assert not _use_band_index(small, 1024)  # 256-doc: wide
    # the r12 probe's 50M-row store: idx 4.37GB / wide 2.25GB / 4096
    # buckets. Measured (forced-prune): 64/128/256-doc epochs pruned
    # 2.6/2.2/2.1x; 1024-doc epochs (all buckets touched, index bytes
    # exceed wide bytes) lose pruned 0.79x.
    big = {
        "buckets": 4096,
        "index_bytes": 4_368_993_766,
        "wide_narrow_bytes": 2_249_325_842,
    }
    assert _use_band_index(big, 256)  # 64-doc: prune
    assert _use_band_index(big, 512)  # 128-doc: prune (r11 gate said wide)
    assert _use_band_index(big, 1024)  # 256-doc: prune (ditto)
    assert not _use_band_index(big, 4096)  # 1024-doc: wide
    # an index that came out FAT relative to a tiny narrow wide scan:
    # overhead term alone confines pruning to single-bucket touches
    fat = {
        "buckets": 256,
        "index_bytes": 8_000_000,
        "wide_narrow_bytes": 1_000_000,
    }
    assert _use_band_index(fat, 1)
    assert not _use_band_index(fat, 4)
    # legacy r10 meta without byte facts: strict NB/16 fallback
    legacy = {"buckets": 1024}
    assert _use_band_index(legacy, 64)
    assert not _use_band_index(legacy, 65)


def test_band_index_rows_are_id_only_and_meta_has_bytes(spark, tmp_path):
    """r10 verdict task 2: index rows carry NO payload copy — exactly
    (band, bh, id, fh) under the bucket partition — and the meta
    records the byte facts the gate reads. The pruned epoch then
    fetches payloads from the WIDE store (decision equality is pinned
    by test_band_index_pruned_epoch_equals_fullscan)."""
    store = str(tmp_path / "idonly")
    textdup_ingest_batch(spark, _corpus(spark, 30), store)
    compact_store(spark, store, id_col="doc_id", index_buckets=64)
    idx = spark.read.parquet(os.path.join(store, _INDEX_DIR, "data"))
    assert sorted(idx.columns) == ["band", "bh", "bucket", "doc_id", "fh"]
    meta = json.loads(
        open(os.path.join(store, _INDEX_DIR, _INDEX_META)).read()
    )
    assert meta["version"] == 2
    assert meta["index_bytes"] > 0 and meta["wide_narrow_bytes"] > 0
    assert meta["banded_rows"] == 4 * spark.read.parquet(store).select(
        "doc_id"
    ).count()


def test_pruned_epoch_sets_history_path_diagnostic(spark, tmp_path):
    """The q269 lifecycle oracle asserts the pruned path was really
    taken; this pins the diagnostic it reads (_LAST_HISTORY_PATH) and
    the explicit override it uses (_FORCE_HISTORY_PATH — the r12
    recalibrated byte gate correctly refuses to prune fixture-sized
    stores, so certification drives force the path)."""
    from file_appender_spark.operators.neardup_ingest import (
        _FORCE_HISTORY_PATH,
        _LAST_HISTORY_PATH,
    )

    store = str(tmp_path / "diag")
    docs = _corpus(spark, 40, seed_tag="diag")
    textdup_ingest_batch(spark, docs, store)
    compact_store(spark, store, id_col="doc_id", index_buckets=1024)
    ep = _docs(spark, [(900, "fresh words entirely unshared x y z")])
    # unforced at fixture scale: the gate routes wide (tiny store)
    textdup_ingest_batch(spark, ep, store)
    assert _LAST_HISTORY_PATH[store] == "wide"
    _FORCE_HISTORY_PATH[store] = "pruned"
    try:
        ep2 = _docs(spark, [(901, "more fresh unshared words p q r")])
        textdup_ingest_batch(spark, ep2, store)
    finally:
        _FORCE_HISTORY_PATH.pop(store, None)
    assert _LAST_HISTORY_PATH[store] == "pruned"
    # a batch touching most buckets (the whole corpus re-ingested)
    # falls back to the wide scan under the byte gate
    textdup_ingest_batch(spark, _corpus(spark, 300, seed_tag="wide"), store)
    assert _LAST_HISTORY_PATH[store] == "wide"


def test_unforced_gate_routes_pruned_end_to_end(spark, tmp_path):
    """r12 ADVICE (low): q269 certifies the pruned READ via the
    explicit override, so a production regression where the byte gate
    never prunes would only be caught by the synthetic-meta unit
    test. This drives the UNFORCED decision end-to-end: a real
    store + index whose meta byte facts are rewritten to the
    50M-row-regime values (the gate reads FACTS from the sidecar —
    doctoring the fact file reproduces the MINIBATCH_INDEX_PROBE_r12
    regime without building 50M rows), an epoch with NO
    _FORCE_HISTORY_PATH entry, and the assertion that the gate itself
    routed it through the index — with admits equal to a wide-routed
    twin store."""
    from file_appender_spark.operators.neardup_ingest import (
        _INDEX_META,
        _LAST_HISTORY_PATH,
    )

    docs = _corpus(spark, 40, seed_tag="unforced")
    ep = _corpus(spark, 60, seed_tag="unforced").filter(
        F.col("doc_id") >= 40
    ).unionByName(_docs(spark, [(990, "totally novel epoch words a b c")]))

    admitted = {}
    for tag in ("gated", "wide"):
        store = str(tmp_path / f"store_{tag}")
        textdup_ingest_batch(spark, docs, store)
        compact_store(spark, store, id_col="doc_id", index_buckets=1024)
        if tag == "gated":
            meta_path = os.path.join(store, _INDEX_DIR, _INDEX_META)
            meta = json.loads(open(meta_path).read())
            # the probe-measured big-store regime: wide scan far past
            # the touched buckets' fixed cost + index fraction
            meta["wide_narrow_bytes"] = 10**10
            with open(meta_path, "w") as f:
                f.write(json.dumps(meta, sort_keys=True))
        out = textdup_ingest_batch(spark, ep, store)
        admitted[tag] = sorted(r["doc_id"] for r in out.collect())
        # the gate alone (no _FORCE_HISTORY_PATH) must pick the path
        assert _LAST_HISTORY_PATH[store] == (
            "pruned" if tag == "gated" else "wide"
        )
    assert admitted["gated"] == admitted["wide"] and admitted["gated"]
