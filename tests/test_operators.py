"""Operator-level tests: as-of join, dedup, top-k, sessionize,
similarity tiers (blocked exact == brute force; IVF plumbing),
multimodal decode pipeline, text stats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_appender_spark.operators.asof import asof_join
from file_appender_spark.operators.dedup import exact_dedup, keep_min_representative
from file_appender_spark.operators.multimodal import decode_features, frame_payload
from file_appender_spark.operators.sessionize import sessionize
from file_appender_spark.operators.similarity import blocked_topk, brute_force_topk, ivf_topk
from file_appender_spark.operators.textstats import ngrams, tf_idf
from file_appender_spark.operators.topk import top_k_per_group
from file_appender_spark.sources.catalog import load_table


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (2, 5, "l3")], "k int, ts int, tag string"
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 9, 900.0)], "k int, ts int, px double"
    )
    out = asof_join(left, right, on="k", ts="ts", value_cols=["px"])
    got = {(r["k"], r["ts"], r["tag"], r["px"]) for r in out.collect()}
    # inclusive: left ts=10 sees right ts=10; left ts=20 sees ts=15;
    # left (2,5) has no prior right -> null
    assert got == {(1, 10, "l1", 100.0), (1, 20, "l2", 150.0), (2, 5, "l3", None)}


def test_asof_join_exclusive(spark):
    left = spark.createDataFrame([(1, 10, "l1")], "k int, ts int, tag string")
    right = spark.createDataFrame([(1, 10, 100.0)], "k int, ts int, px double")
    out = asof_join(left, right, on="k", ts="ts", value_cols=["px"], inclusive=False)
    assert out.collect()[0]["px"] is None


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "same"), (1, "same"), (2, "other")], "id long, txt string"
    )
    out = exact_dedup(df, "txt", "id")
    assert {(r["id"], r["txt"]) for r in out.collect()} == {(1, "same"), (2, "other")}


def test_keep_min_representative(spark):
    df = spark.createDataFrame(
        [(3, "a", 1.0), (1, "a", 2.0), (2, "b", 3.0)], "id long, g string, v double"
    )
    out = keep_min_representative(df, ["g"], "id")
    assert {(r["g"], r["id"]) for r in out.collect()} == {("a", 1), ("b", 2)}


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g", i, float(i)) for i in range(10)], "g string, id int, v double"
    )
    out = top_k_per_group(df, ["g"], [F.desc("v"), F.asc("id")], 3)
    assert sorted(r["id"] for r in out.collect()) == [7, 8, 9]


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00", 1), (1, "2020-01-01 00:10:00", 2),
         (1, "2020-01-01 02:00:00", 3)],
        "user int, ts_s string, eid int",
    ).select("user", F.col("ts_s").cast("timestamp").alias("ts"), "eid")
    out = sessionize(df, key="user", ts="ts", gap_seconds=1800, order_tiebreak="eid")
    idx = {r["eid"]: r["session_idx"] for r in out.collect()}
    assert idx == {1: 0, 2: 0, 3: 1}


def test_blocked_topk_equals_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    bf = brute_force_topk(emb, queries, k=5)
    bl = blocked_topk(spark, emb, queries, k=5)
    a = {(r["qid"], r["vec_id"], r["cos_sim"]) for r in bf.collect()}
    b = {(r["qid"], r["vec_id"], r["cos_sim"]) for r in bl.collect()}
    assert a == b


def test_ivf_topk_runs_and_probes_subset(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = ivf_topk(spark, emb, queries, k=5, n_centroids=4, nprobe=2)
    rows = out.collect()
    assert len(rows) == 5
    assert all(r["qid"] == 0 and r["vec_id"] != 0 for r in rows)


def test_multimodal_decode_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    framed = frame_payload(
        docs, "doc_id", F.encode("text", "UTF-8"), "text/plain", "source"
    )
    feats = decode_features(framed, decode_stub="fake", feat_dim=8)
    rows = feats.collect()
    assert len(rows) == 20
    r = rows[0]
    assert len(r["content_hash"]) == 64
    assert len(r["feat"]) == 8
    assert all(0.0 <= x <= 1.0 for x in r["feat"])
    assert r["mime"] == "text/plain"
    # deterministic: run twice, same features
    again = {x["doc_id"]: x["feat"] for x in decode_features(framed).collect()}
    assert again[r["doc_id"]] == r["feat"]


def test_multimodal_decode_raise_stub(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(1)
    framed = frame_payload(
        docs, "doc_id", F.encode("text", "UTF-8"), "image/png", "source"
    )
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        decode_features(framed, decode_stub="raise").collect()


def test_ngrams_expression(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    out = df.select(ngrams(F.split("text", r"\s+"), 2).alias("g")).collect()[0]["g"]
    assert out == ["a b", "b c", "c d"]


def test_ngrams_short_input_yields_empty(spark):
    # regression: sequence(1, 0) descends in Spark -> used to crash
    df = spark.createDataFrame([("solo",), ("a b",)], "text string")
    out = [
        r["g"] for r in df.select(ngrams(F.split("text", r"\s+"), 3).alias("g")).collect()
    ]
    assert out == [[], []]  # 1 and 2 tokens < n=3
    out2 = [
        r["g"] for r in df.select(ngrams(F.split("text", r"\s+"), 2).alias("g")).collect()
    ]
    assert out2 == [[], ["a b"]]


def test_asof_join_carries_genuine_null_value(spark):
    # regression: a right row whose VALUE is null must win over an
    # older non-null row, not be skipped
    left = spark.createDataFrame([(1, 30, "l")], "k int, ts int, tag string")
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, None)], "k int, ts int, px double"
    )
    out = asof_join(left, right, on="k", ts="ts", value_cols=["px"]).collect()
    assert out[0]["px"] is None


def test_blocked_topk_respects_round_dp(spark, sf_dir):
    from file_appender_spark.operators.similarity import blocked_topk, brute_force_topk
    from file_appender_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    bf = brute_force_topk(emb, queries, k=5, round_dp=2)
    bl = blocked_topk(spark, emb, queries, k=5, round_dp=2)
    assert sorted(map(tuple, bf.collect())) == sorted(map(tuple, bl.collect()))


def test_tf_idf_values(spark):
    df = spark.createDataFrame(
        [(1, "x y"), (2, "x z")], "doc_id long, text string"
    )
    out = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"])
        for r in tf_idf(df, "doc_id", "text").collect()
    }
    assert out[(1, "x")] == (1, 2)
    assert out[(1, "y")] == (1, 1)


def test_multimodal_frame_sampling(spark, sf_dir):
    """1->N frame fan-out: deterministic count, content-derived
    hashes, no shuffle in the plan."""
    from file_appender_spark.operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    framed = frame_payload(
        d, "doc_id", F.encode("text", "UTF-8"), "video/fake", "source"
    )
    frames = sample_frames(framed, n_frames=4)
    rows = frames.collect()
    assert len(rows) == 80  # 20 inputs x 4 frames
    assert {r.frame_idx for r in rows} == {0, 1, 2, 3}
    plan = frames._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # determinism: re-running yields identical hashes
    again = {(r.doc_id, r.frame_idx): r.frame_hash for r in frames.collect()}
    assert all(again[(r.doc_id, r.frame_idx)] == r.frame_hash for r in rows)


def test_multimodal_resize_readdresses_content(spark, sf_dir):
    from file_appender_spark.operators.multimodal import resize_payload

    d = load_table(spark, sf_dir, "documents").limit(5)
    framed = frame_payload(
        d, "doc_id", F.encode("text", "UTF-8"), "image/fake", "source"
    )
    resized = resize_payload(framed, width=8, height=8)
    rows = resized.collect()
    assert all(r.meta.n_bytes == 8 * 8 * 3 for r in rows)
    assert all(r.meta.width == 8 and r.meta.height == 8 for r in rows)
    old = {r.doc_id: r.content_hash for r in framed.collect()}
    assert all(r.content_hash != old[r.doc_id] for r in rows)  # re-addressed
    # composition: resized frames feed the decode stage unchanged
    feats = decode_features(resized)
    assert feats.count() == 5


# --------------------------------------------------------------------------
# SRP-banded near-dup + parameterized sign-IVF (the q62 / q74 scale paths)
# --------------------------------------------------------------------------


def test_srp_neardup_finds_exact_duplicates(spark, sf_dir):
    """Identical vectors have identical signatures in every band, so
    recall on exact duplicates is 1 by construction."""
    from file_appender_spark.operators.similarity import srp_neardup

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    dup = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    pairs = srp_neardup(corpus, threshold=0.999)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    want = {(r["vec_id"], r["vec_id"] + 1_000_000) for r in emb.collect()}
    assert want <= got
    assert all(r["cos_sim"] >= 0.999 for r in pairs.collect())


def test_srp_neardup_subset_of_exact_with_same_values(spark, sf_dir):
    """Every banded pair appears in the exact all-pairs result with
    the identical rounded cosine (precision = 1: exact verify)."""
    from file_appender_spark.operators.similarity import srp_neardup

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    banded = {
        (r["id1"], r["id2"]): r["cos_sim"]
        for r in srp_neardup(emb, threshold=0.4).collect()
    }
    # exact all-pairs reference (the q62 form)
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
        )

    v = v.withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e"))))
    a = v.select(F.col("vec_id").alias("id1"), F.col("e").alias("e1"), F.col("nrm").alias("n1"))
    b = v.select(F.col("vec_id").alias("id2"), F.col("e").alias("e2"), F.col("nrm").alias("n2"))
    exact = {
        (r["id1"], r["id2"]): r["cos_sim"]
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.round(dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2")), 6).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= 0.4)
        .collect()
    }
    assert set(banded) <= set(exact)
    assert all(exact[p] == banded[p] for p in banded)


def test_ivf_bits_for_scales_with_corpus():
    from file_appender_spark.operators.similarity import ivf_bits_for

    assert ivf_bits_for(8_000, 1_000) == 3  # floor: 8 cells
    assert ivf_bits_for(80_000, 1_000) == 7  # 80 cells -> 128
    assert ivf_bits_for(800_000, 1_000) == 10  # 800 -> 1024
    assert ivf_bits_for(0, 1_000) == 3
    # 10x the corpus adds ~log2(10) bits: cell size stays ~flat
    assert ivf_bits_for(1_000_000, 1_000) - ivf_bits_for(100_000, 1_000) in (3, 4)


def test_ann_sign_ivf_finds_identical_vector(spark, sf_dir):
    """A query identical to a corpus vector lands in the same cell
    (deterministic quantizer) and must surface it at cos 1.0."""
    from file_appender_spark.operators.similarity import ann_sign_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("qid"), "embedding"
    )
    out = ann_sign_ivf(emb, queries, k=3, target_cell_size=64)
    top = {
        r["qid"] - 1_000_000: (r["vec_id"], r["cos_sim"])
        for r in out.collect()
        if r["cos_sim"] >= 0.999999
    }
    for r in queries.collect():
        orig = r["qid"] - 1_000_000
        assert top[orig][0] == orig


def test_ann_sign_ivf_multiprobe_never_worse(spark, sf_dir):
    """nprobe>1 probes a superset of cells, so each query's top-k
    similarity sum is monotonically non-decreasing."""
    from file_appender_spark.operators.similarity import ann_sign_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    def per_query_sum(df):
        rows = df.groupBy("qid").agg(F.sum("cos_sim").alias("s")).collect()
        return {r["qid"]: r["s"] for r in rows}

    one = per_query_sum(ann_sign_ivf(emb, queries, k=3, target_cell_size=64, nprobe=1))
    three = per_query_sum(ann_sign_ivf(emb, queries, k=3, target_cell_size=64, nprobe=3))
    for qid, s in one.items():
        assert three[qid] >= s - 1e-9


# --------------------------------------------------------------------------
# Real-codec seam (PIL): tests SKIP (not stub) when Pillow is absent
# --------------------------------------------------------------------------


def test_multimodal_pil_missing_fails_at_plan_time(spark, sf_dir):
    """With Pillow absent, decode_stub='pil' must raise ImportError on
    the DRIVER when the plan is built — never mid-job on executors."""
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present: the real-decode test covers this path")
    except ImportError:
        pass
    from file_appender_spark.operators.multimodal import resize_payload

    d = load_table(spark, sf_dir, "documents").limit(1)
    framed = frame_payload(
        d, "doc_id", F.encode("text", "UTF-8"), "image/png", "source"
    )
    with pytest.raises(ImportError, match="Pillow"):
        decode_features(framed, decode_stub="pil")
    with pytest.raises(ImportError, match="Pillow"):
        resize_payload(framed, width=4, height=4, decode_stub="pil")


def test_multimodal_pil_real_decode(spark, sf_dir):
    """The real image path: PNG in, codec-read geometry + mean-pooled
    features out; resize re-encodes and re-addresses."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from file_appender_spark.operators.multimodal import resize_payload

    def png_bytes(w, h, color):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), color).save(buf, format="PNG")
        return buf.getvalue()

    rows = [(1, png_bytes(16, 12, (255, 255, 255))), (2, png_bytes(8, 8, (0, 0, 0)))]
    df = spark.createDataFrame(rows, "doc_id long, img binary").withColumn(
        "source", F.lit("test")
    )
    framed = frame_payload(df, "doc_id", F.col("img"), "image/png", "source")
    feats = {r.doc_id: r for r in decode_features(framed, decode_stub="pil").collect()}
    assert (feats[1].width, feats[1].height) == (16, 12)
    assert all(x > 0.99 for x in feats[1].feat)  # white image
    assert all(x < 0.01 for x in feats[2].feat)  # black image
    resized = resize_payload(framed, width=4, height=4, decode_stub="pil")
    out = {r.doc_id: r for r in resized.collect()}
    assert all(r.meta.width == 4 and r.meta.height == 4 for r in out.values())
    # round-trip: the resized payload is a real decodable 4x4 PNG
    img = Image.open(io.BytesIO(bytes(out[1].payload)))
    assert img.size == (4, 4)


def test_srp_params_policy():
    """Banding policy: candidate volume stays linear in the corpus
    (bits/band grow with log n) while recall at the threshold meets
    the target (bands grow until it does)."""
    from file_appender_spark.operators.similarity import srp_params_for, srp_recall

    for n in (1_000, 100_000, 10_000_000):
        bits, bands = srp_params_for(n, threshold=0.95, min_recall=0.9)
        r = bits // bands
        # precision constraint: expected random candidates per row <= ~4
        assert bands * 0.5**r * n <= 4.0 * 1.01
        # recall constraint met
        assert srp_recall(0.95, bits, bands) >= 0.9
    # near-exact duplicates need few bands even at 1e9 rows
    bits, bands = srp_params_for(1_000_000_000, threshold=0.99)
    assert bands <= 64
    assert srp_recall(0.99, bits, bands) >= 0.9
    # recall is ~1 for identical vectors under any returned banding
    assert srp_recall(1.0, bits, bands) == 1.0


def test_srp_neardup_with_policy_params(spark, sf_dir):
    """The policy output drives the operator end to end: planted
    exact duplicates are always recovered (equal signatures in every
    band), junk candidates stay bounded."""
    from file_appender_spark.operators.similarity import srp_neardup, srp_params_for

    emb = load_table(spark, sf_dir, "embeddings").limit(150)
    dup = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    bits, bands = srp_params_for(300, threshold=0.999)
    pairs = srp_neardup(corpus, threshold=0.999, n_bits=bits, n_bands=bands)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    want = {(r["vec_id"], r["vec_id"] + 1_000_000) for r in emb.collect()}
    assert want <= got


# --------------------------------------------------------------------------
# Incremental near-dup ingest (the LSH analog of q89)
# --------------------------------------------------------------------------


def _synth_vecs(spark, ids, dim=16, offset=0):
    """Hash-derived distinct unit-ish vectors, deterministic per id."""
    rows = spark.createDataFrame([(i,) for i in ids], "vec_id long")
    return rows.select(
        "vec_id",
        F.array(
            *[
                (F.hash(F.col("vec_id") + offset, F.lit(d)).cast("double") / 2147483648.0)
                for d in range(dim)
            ]
        ).alias("embedding"),
    )


def test_neardup_ingest_across_batches(spark, tmp_path):
    from file_appender_spark.operators.neardup_ingest import neardup_ingest_batch

    store = str(tmp_path / "sigstore")
    b1 = _synth_vecs(spark, [1, 2, 3, 4, 5])
    a1 = neardup_ingest_batch(spark, b1, store, threshold=0.999)
    assert sorted(r["vec_id"] for r in a1.collect()) == [1, 2, 3, 4, 5]

    # batch 2: id 101 duplicates historical id 3 (same hash seed via
    # offset arithmetic -> identical vector), ids 102/103 are an
    # internal duplicate pair, id 104 is genuinely new
    dup_hist = _synth_vecs(spark, [3]).select(
        F.lit(101).cast("long").alias("vec_id"), "embedding"
    )
    internal = _synth_vecs(spark, [7000])
    dup_internal = internal.select(
        F.lit(103).cast("long").alias("vec_id"), "embedding"
    )
    internal = internal.select(F.lit(102).cast("long").alias("vec_id"), "embedding")
    fresh = _synth_vecs(spark, [104], offset=50_000)
    b2 = dup_hist.unionByName(internal).unionByName(dup_internal).unionByName(fresh)
    a2 = neardup_ingest_batch(spark, b2, store, threshold=0.999)
    assert sorted(r["vec_id"] for r in a2.collect()) == [102, 104]

    # retry after successful append: at-least-once — the identical
    # admitted set is recomputed and re-emitted (own already-appended
    # rows are excluded from the history match by id), never an empty
    # downstream batch
    a2_retry = neardup_ingest_batch(spark, b2, store, threshold=0.999)
    assert sorted(r["vec_id"] for r in a2_retry.collect()) == [102, 104]


def test_neardup_ingest_null_first_vector(spark, tmp_path):
    """A NULL vector in the FIRST row must not change the signature
    stage: the dim probe skips NULL rows, and the batch admits the
    same set as with the NULL row last (the NULL row has no cosine, so
    it is always admitted; id 9 duplicates id 2 exactly)."""
    from file_appender_spark.operators.neardup_ingest import neardup_ingest_batch
    from file_appender_spark.operators.similarity import _vec_dim

    base = _synth_vecs(spark, [1, 2, 3, 4]).unionByName(
        _synth_vecs(spark, [2]).select(
            F.lit(9).cast("long").alias("vec_id"), "embedding"
        )
    )
    null_row = spark.createDataFrame(
        [(77, None)], "vec_id long, embedding array<double>"
    )
    first = null_row.unionByName(base).coalesce(1)
    last = base.unionByName(null_row).coalesce(1)
    assert first.first()["embedding"] is None
    assert _vec_dim(first, F.col("embedding")) == 16
    got = {
        name: sorted(
            r["vec_id"]
            for r in neardup_ingest_batch(
                spark, b, str(tmp_path / name), threshold=0.999
            ).collect()
        )
        for name, b in (("first", first), ("last", last))
    }
    assert got["first"] == got["last"] == [1, 2, 3, 4, 77]


def test_neardup_ingest_plan_has_no_cross_join(spark, tmp_path):
    from file_appender_spark.operators.neardup_ingest import neardup_ingest_batch

    store = str(tmp_path / "sigstore")
    neardup_ingest_batch(spark, _synth_vecs(spark, [1, 2, 3]), store, threshold=0.999)
    b2 = _synth_vecs(spark, [10, 11, 12])
    # the admitted frame against a NON-EMPTY store exercises the
    # batch-x-history signature join
    plan_df = neardup_ingest_batch(spark, b2, store, threshold=0.999)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_neardup_ingest_via_streaming_foreachbatch(spark, tmp_path):
    """End-to-end streaming wiring: a parquet file stream drives
    neardup_ingest_batch through foreachBatch (one micro-batch per
    file), admitted rows land in the output sink, near-dups of
    earlier batches are suppressed."""
    from file_appender_spark.operators.neardup_ingest import neardup_ingest_batch

    src = tmp_path / "incoming"
    src.mkdir()
    store = str(tmp_path / "sigstore")
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")

    # file 1: ids 1-3; file 2: id 201 = duplicate of id 2, id 202 new
    # (flat part files copied into the stream dir, one micro-batch each)
    import glob
    import shutil

    def add_file(df, name):
        tmp = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], str(src / name))

    add_file(_synth_vecs(spark, [1, 2, 3]), "b1.parquet")
    dup = _synth_vecs(spark, [2]).select(
        F.lit(201).cast("long").alias("vec_id"), "embedding"
    )
    b2 = dup.unionByName(_synth_vecs(spark, [202], offset=90_000))
    add_file(b2, "b2.parquet")

    schema = _synth_vecs(spark, [0]).schema

    def absorb(batch, batch_id):
        admitted = neardup_ingest_batch(spark, batch, store, threshold=0.999)
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

    admitted_ids = {r["vec_id"] for r in spark.read.parquet(out).collect()}
    # 201 suppressed as a near-dup of 2 — whichever file order the
    # stream picked, the duplicate pair admits exactly one member
    assert len({2, 201} & admitted_ids) == 1
    assert {1, 3, 202} <= admitted_ids
    assert len(admitted_ids) == 4


def test_asof_join_tolerance_nulls_stale_matches(spark):
    """merge_asof tolerance semantics: a match older than the
    tolerance yields nulls, the left row itself is never dropped."""
    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (2, 50, "c")], "k int, ts int, tag string"
    )
    right = spark.createDataFrame(
        [(1, 95, 9.5), (1, 120, 1.2)], "k int, ts int, px double"
    )
    out = {
        (r["k"], r["ts"]): r["px"]
        for r in asof_join(
            left, right, on="k", ts="ts", value_cols=["px"], tolerance=10
        ).collect()
    }
    assert out[(1, 100)] == 9.5   # match at 95, age 5 <= 10
    assert out[(1, 200)] is None  # last match at 120, age 80 > 10
    assert out[(2, 50)] is None   # no match at all
    # without tolerance the stale match is carried
    out2 = {
        (r["k"], r["ts"]): r["px"]
        for r in asof_join(left, right, on="k", ts="ts", value_cols=["px"]).collect()
    }
    assert out2[(1, 200)] == 1.2


def test_neardup_store_compaction(spark, tmp_path):
    """Many small batch appends -> one compacted store with retry
    duplicates collapsed; ingest keeps working against it."""
    import glob

    from file_appender_spark.operators.neardup_ingest import (
        compact_store,
        neardup_ingest_batch,
    )

    store = str(tmp_path / "sigstore")
    for lo in range(0, 40, 10):
        batch = _synth_vecs(spark, list(range(lo, lo + 10)))
        neardup_ingest_batch(spark, batch, store, threshold=0.999)
    # simulate a successful-append retry: duplicate store rows
    neardup_ingest_batch(spark, _synth_vecs(spark, list(range(0, 10))), store,
                         threshold=0.999)
    files_before = len(glob.glob(f"{store}/part-*.parquet"))
    compact_store(spark, store)
    files_after = len(glob.glob(f"{store}/part-*.parquet"))
    assert files_after < files_before
    df = spark.read.parquet(store)
    assert df.count() == 40  # retry duplicates collapsed
    assert df.select("vec_id").distinct().count() == 40
    # ingest continues against the compacted store
    nxt = neardup_ingest_batch(spark, _synth_vecs(spark, [500]), store,
                               threshold=0.999)
    assert nxt.count() == 1


def test_neardup_store_crash_recovery(spark, tmp_path):
    """A crash between compact_store's two renames leaves only the
    .old backup; the next ingest (or compaction) restores it instead
    of silently starting dedup history from scratch."""
    import os

    from file_appender_spark.operators.neardup_ingest import neardup_ingest_batch

    store = str(tmp_path / "sigstore")
    neardup_ingest_batch(spark, _synth_vecs(spark, [1, 2, 3]), store, threshold=0.999)
    # simulate the mid-swap crash: store renamed away, new one not yet in place
    os.rename(store, store + ".old")
    # next batch recovers the history: a duplicate of id 2 is suppressed
    dup = _synth_vecs(spark, [2]).select(
        F.lit(99).cast("long").alias("vec_id"), "embedding"
    )
    admitted = neardup_ingest_batch(spark, dup, store, threshold=0.999)
    assert admitted.count() == 0
    assert not os.path.exists(store + ".old")


def test_ann_sign_ivf_exclude_self_flag(spark):
    """exclude_self=True (the q74 self-query contract) drops the
    corpus row whose id equals the qid; False (independent id spaces)
    lets an id-colliding corpus vector be returned."""
    from file_appender_spark.operators.similarity import ann_sign_ivf

    corpus = _synth_vecs(spark, [1, 2, 3])
    # query vector IDENTICAL to corpus id 2, and its qid collides: 2
    queries = corpus.filter(F.col("vec_id") == 2).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    hits_excl = ann_sign_ivf(corpus, queries, k=3, target_cell_size=64)
    assert all(r["vec_id"] != 2 for r in hits_excl.collect())
    hits_incl = ann_sign_ivf(
        corpus, queries, k=3, target_cell_size=64, exclude_self=False
    )
    best = {r["vec_id"]: r["cos_sim"] for r in hits_incl.collect()}
    assert best.get(2) == 1.0  # the identical colliding row IS returned


def test_textdup_ingest_across_batches(spark, sf_dir, tmp_path):
    """MinHash text ingest: exact-duplicate text of an earlier batch
    is suppressed, fresh text admitted, short docs pass through,
    retry re-emits (at-least-once)."""
    from file_appender_spark.operators.neardup_ingest import textdup_ingest_batch

    store = str(tmp_path / "txtstore")
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(F.split("text", r"\s+")) >= 3)
        .orderBy("doc_id")
        .limit(6)
        .select("doc_id", "text")
    )
    a1 = textdup_ingest_batch(spark, docs, store, threshold=0.9)
    assert a1.count() == 6

    # batch 2: one exact copy of an admitted doc (new id), one short
    # doc (cannot shingle), one genuinely new text
    first_row = docs.orderBy("doc_id").collect()[0]
    copy = spark.createDataFrame(
        [(first_row["doc_id"] + 10_000, first_row["text"])],
        "doc_id long, text string",
    )
    short = spark.createDataFrame([(20_000, "tiny doc")], "doc_id long, text string")
    fresh = spark.createDataFrame(
        [(30_000, "completely different words about moose migration patterns "
                  "in northern latitudes during early spring thaw")],
        "doc_id long, text string",
    )
    b2 = copy.unionByName(short).unionByName(fresh)
    a2 = textdup_ingest_batch(spark, b2, store, threshold=0.9)
    got = sorted(r["doc_id"] for r in a2.collect())
    assert got == [20_000, 30_000]  # copy suppressed, short + fresh admitted

    # retry: identical admitted set re-emitted
    a2_retry = textdup_ingest_batch(spark, b2, store, threshold=0.9)
    assert sorted(r["doc_id"] for r in a2_retry.collect()) == [20_000, 30_000]


def test_neardup_store_params_mismatch_fails_fast(spark, tmp_path):
    """A store built under one (n_bits, n_bands) must refuse batches
    computed under another — mismatched band signatures are
    incomparable and would silently admit historical near-dups."""
    import pytest as _pytest

    from file_appender_spark.operators.neardup_ingest import neardup_ingest_batch

    store = str(tmp_path / "sigstore_params")
    neardup_ingest_batch(
        spark, _synth_vecs(spark, [1, 2]), store, threshold=0.999, n_bits=16, n_bands=4
    )
    with _pytest.raises(ValueError, match="LSH params"):
        neardup_ingest_batch(
            spark, _synth_vecs(spark, [3]), store, threshold=0.999,
            n_bits=32, n_bands=8,
        )
    # same params keep working, and the stamp survives compaction
    from file_appender_spark.operators.neardup_ingest import compact_store

    compact_store(spark, store)
    neardup_ingest_batch(
        spark, _synth_vecs(spark, [4]), store, threshold=0.999, n_bits=16, n_bands=4
    )
    with _pytest.raises(ValueError, match="LSH params"):
        neardup_ingest_batch(
            spark, _synth_vecs(spark, [5]), store, threshold=0.999,
            n_bits=32, n_bands=8,
        )


def test_neardup_store_rejects_wrong_modality(spark, tmp_path):
    """An embedding (SRP) store cannot be fed to the text (MinHash)
    ingest — the stamp records the modality too."""
    import pytest as _pytest

    from file_appender_spark.operators.neardup_ingest import (
        neardup_ingest_batch,
        textdup_ingest_batch,
    )

    store = str(tmp_path / "sigstore_modality")
    neardup_ingest_batch(spark, _synth_vecs(spark, [1]), store, threshold=0.999)
    docs = spark.createDataFrame(
        [(1, "three word doc right here")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="LSH params"):
        textdup_ingest_batch(spark, docs, store)


def test_asof_join_rejects_reserved_rts_and_bad_interval(spark):
    import pytest as _pytest

    from file_appender_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, 0)], "k int, ts int, x int")
    right = spark.createDataFrame([(1, 9, 7)], "k int, ts int, _rts int")
    with _pytest.raises(ValueError, match="_rts"):
        asof_join(left, right, on="k", ts="ts", value_cols=["_rts"])
    right2 = spark.createDataFrame([(1, 9, 7)], "k int, ts int, v int")
    with _pytest.raises(ValueError, match="interval"):
        asof_join(
            left, right2, on="k", ts="ts", value_cols=["v"],
            tolerance="not an interval at all",
        )


def test_srp_hoisted_coefs_bit_identical(spark, sf_dir):
    """The hoisted-coefficient projection must produce BIT-IDENTICAL
    band signatures to the inline-hash path (same multiplies, same
    fold order) — signature stores written under either are
    comparable."""
    from file_appender_spark.operators.similarity import (
        _as_double,
        _srp_band_sigs,
        _srp_band_sigs_sql,
        _srp_coefs,
    )
    from file_appender_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    base = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    dim = base.select(F.size("v").alias("d")).first()["d"]
    coefs = _srp_coefs(spark, 16, dim)
    inline = base.select(
        "vec_id",
        *[
            s.alias(f"b{i}")
            for i, s in enumerate(_srp_band_sigs(F.col("v"), 16, 4))
        ],
    )
    hoisted = base.select(
        "vec_id",
        *[
            s.alias(f"b{i}")
            for i, s in enumerate(_srp_band_sigs_sql("v", 16, 4, coefs))
        ],
    )
    assert sorted(map(tuple, inline.collect())) == sorted(map(tuple, hoisted.collect()))


def test_srp_sigs_arrow_bit_identical(spark, sf_dir):
    """The vectorized Arrow SRP signature stage (r12 hot path under
    srp_neardup and the embedding ingest) must be BIT-IDENTICAL to
    the SQL-fold spelling — v, nrm AND every band signature, because
    stores persist these values and q265's oracle mirrors the
    protocol over them. Also pins the degenerate-row semantics
    (NULL vector, NULL element, ragged length) against the
    zip_with-vs-literal reference behavior."""
    from file_appender_spark.operators.similarity import (
        _as_double,
        _dot,
        _srp_band_sigs_sql,
        _srp_coefs,
        srp_sigs_arrow,
    )
    from file_appender_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    base = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    dim = base.select(F.size("v").alias("d")).first()["d"]
    coefs = _srp_coefs(spark, 16, dim)
    sql_sigs = _srp_band_sigs_sql("v", 16, 4, coefs)
    ref = base.select(
        "vec_id",
        "v",
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"),
        *[sql_sigs[i].alias(f"b{i}") for i in range(4)],
    )
    got = srp_sigs_arrow(emb, "vec_id", "embedding", 16, 4, coefs)
    assert got.columns == ref.columns
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0

    # degenerate rows: NULL vector / NULL element / ragged lengths
    rows = [
        (1, [1.0] * dim),
        (2, None),
        (3, [1.0] * (dim - 1)),          # ragged: nrm valid, bands NULL
        (4, [None] + [1.0] * (dim - 1)),  # NULL element: nrm+bands NULL
        (5, []),                          # empty: nrm 0.0, bands NULL
    ]
    adv = spark.createDataFrame(rows, f"vec_id long, embedding array<double>")
    ref2 = adv.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
    ).select(
        "vec_id",
        "v",
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"),
        *[s.alias(f"b{i}") for i, s in enumerate(_srp_band_sigs_sql("v", 16, 4, coefs))],
    )
    got2 = srp_sigs_arrow(adv, "vec_id", "embedding", 16, 4, coefs)
    assert sorted(map(tuple, ref2.collect())) == sorted(map(tuple, got2.collect()))

    # NaN rows (r12 ADVICE, medium): Spark evaluates NaN >= 0 as TRUE
    # (NaN-as-largest ordering), so a NaN-poisoned projection's sign
    # bit must be 1 in the Arrow spelling too — both the vectorized
    # fast path (fixed-width batch) and the per-row replica (ragged
    # batch forces the slow path). Band values are compared against
    # the SQL reference directly; nrm is NaN on both sides (tuple
    # equality can't see that, NaN != NaN, so bands are checked alone).
    import math

    nan = float("nan")
    for extra in ([], [(99, [1.0] * (dim - 1))]):  # fast path / slow path
        nrows = [(1, [nan] + [1.0] * (dim - 1)), (2, [nan] * dim)] + extra
        ndf = spark.createDataFrame(nrows, "vec_id long, embedding array<double>")
        nsel = ndf.select("vec_id", _as_double(F.col("embedding")).alias("v"))
        nref = {
            r["vec_id"]: tuple(r[f"b{i}"] for i in range(4))
            for r in nsel.select(
                "vec_id",
                *[
                    s.alias(f"b{i}")
                    for i, s in enumerate(_srp_band_sigs_sql("v", 16, 4, coefs))
                ],
            ).collect()
        }
        ngot = srp_sigs_arrow(ndf, "vec_id", "embedding", 16, 4, coefs)
        for r in ngot.collect():
            if r["vec_id"] == 99:
                continue  # the ragged row only forces the slow path
            assert tuple(r[f"b{i}"] for i in range(4)) == nref[r["vec_id"]], (
                r["vec_id"]
            )
            assert math.isnan(r["nrm"])


def test_neardup_store_legacy_without_stamp_requires_migration(spark, tmp_path):
    """A store holding parquet data but NO params sidecar (legacy /
    lost stamp) must not be silently blessed with the current batch's
    params — that is exactly the incomparable-signature failure the
    stamp guards against. stamp_store_params is the explicit
    migration hook."""
    import os

    import pytest as _pytest

    from file_appender_spark.operators.neardup_ingest import (
        _PARAMS_FILE,
        neardup_ingest_batch,
        stamp_store_params,
    )

    store = str(tmp_path / "sigstore_legacy")
    neardup_ingest_batch(
        spark, _synth_vecs(spark, [1, 2]), store, threshold=0.999, n_bits=16, n_bands=4
    )
    # simulate a legacy store: data present, sidecar gone
    params_path = os.path.join(store, _PARAMS_FILE)
    with open(params_path) as f:
        original_stamp = f.read()
    os.remove(params_path)
    with _pytest.raises(ValueError, match="no _LSH_PARAMS"):
        neardup_ingest_batch(
            spark, _synth_vecs(spark, [3]), store, threshold=0.999,
            n_bits=16, n_bands=4,
        )
    # explicit migration: re-stamp with the known-correct params
    import json

    stamp_store_params(store, json.loads(original_stamp))
    a = neardup_ingest_batch(
        spark, _synth_vecs(spark, [9001], offset=70_000), store,
        threshold=0.999, n_bits=16, n_bands=4,
    )
    assert [r["vec_id"] for r in a.collect()] == [9001]


def test_textdup_ingest_band_bucket_cap_admits_hot_family(spark, tmp_path):
    """Opt-in hot-bucket guard on the TEXT ingest: a boilerplate
    template family (distinct texts, shared MinHash bands) is
    suppressed to its min id uncapped; with a binding cap the
    family's bucket drops out of candidate generation and its
    members are admitted — EXCEPT identical-full-signature dups,
    which the r8 signature-equality shortcut suppresses with no pair
    join (estimated Jaccard exactly 1.0 needs no candidates). So the
    capped run admits exactly one doc per distinct signature."""
    from file_appender_spark.operators.neardup_ingest import (
        _minhash_sig_frame,
        textdup_ingest_batch,
    )

    base = " ".join(f"tmpl{w}" for w in range(40))
    rows = [(i, f"{base} unique{i}") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    plain = textdup_ingest_batch(
        spark, docs, str(tmp_path / "td_plain"), threshold=0.5
    )
    assert plain.count() < 12  # family suppressed to representatives

    n_distinct_sigs = (
        _minhash_sig_frame(docs, "doc_id", "text")
        .select("b0", "b1", "b2", "b3")
        .distinct()
        .count()
    )
    capped = textdup_ingest_batch(
        spark, docs, str(tmp_path / "td_capped"), threshold=0.5,
        band_bucket_cap=1,
    )
    # guard binds -> one admit per distinct signature (> plain)
    assert capped.count() == n_distinct_sigs
    assert capped.count() > plain.count()


def test_textdup_ingest_auto_cap_and_sig_shortcut(spark, tmp_path):
    """r7 verdict task 5 + the TEXTCAP_PROBE_r8 lesson: the TEXT
    ingest's hot-bucket guard DEFAULTS to the sized policy
    (ingest_band_bucket_cap_for: 65 for 4 bands at the default
    budget), and an 80-member template family — DISTINCT texts with
    identical shingle SETS, hence identical MinHash signatures — is
    now suppressed to its min id under the capped default TOO: the
    signature-equality shortcut catches estimated-Jaccard-1.0 dups
    with no pair join, so the cap never has to trade the exact-dup
    class away. The store keeps ONE family representative (the hot
    bucket never accumulates); cross-batch members match it by
    signature and are suppressed."""
    import pytest as _pytest

    from file_appender_spark.operators.neardup_ingest import (
        _store_row_count,
        ingest_band_bucket_cap_for,
        store_hot_buckets,
        textdup_ingest_batch,
    )

    assert ingest_band_bucket_cap_for(10_000) == 65

    base = " ".join(f"tmpl{w}" for w in range(40))
    rows = [(i, " ".join([base] * (i + 2))) for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    auto = textdup_ingest_batch(spark, docs, str(tmp_path / "td_auto"))
    assert sorted(r["doc_id"] for r in auto.collect()) == [0]

    plain = textdup_ingest_batch(
        spark, docs, str(tmp_path / "td_none"), band_bucket_cap=None
    )
    assert sorted(r["doc_id"] for r in plain.collect()) == [0]

    with _pytest.raises(ValueError, match="band_bucket_cap"):
        textdup_ingest_batch(
            spark, docs, str(tmp_path / "td_bad"), band_bucket_cap="nope"
        )

    # the store holds exactly the one representative's signature, so
    # no hot bucket ever accumulates and the diagnostic reads clean
    assert _store_row_count(str(tmp_path / "td_auto")) == 1
    assert (
        store_hot_buckets(spark, str(tmp_path / "td_auto"), 65).count() == 0
    )

    # cross-batch: new family members match the stored representative
    # by SIGNATURE (not through the band join) and are suppressed
    b2 = spark.createDataFrame(
        [(1000 + i, " ".join([base] * (100 + i))) for i in range(5)],
        "doc_id long, text string",
    )
    a2 = textdup_ingest_batch(spark, b2, str(tmp_path / "td_auto"))
    assert a2.count() == 0

    # retry of the FIRST batch after its successful append: the
    # stored representative sees only its own id in the sig group
    # and is re-admitted — at-least-once preserved
    r1 = textdup_ingest_batch(spark, docs, str(tmp_path / "td_auto"))
    assert sorted(r["doc_id"] for r in r1.collect()) == [0]


def test_embedding_ingest_auto_cap_admits_degenerate_family(spark, tmp_path):
    """SRP twin of the text pin: 80 positive scalar multiples of one
    vector (distinct embeddings, sign-identical -> one band bucket
    per band, cosine exactly 1.0) are admitted whole under the sized
    default and suppressed to min id under explicit None."""
    from file_appender_spark.operators.neardup_ingest import neardup_ingest_batch

    v0 = [0.3, -1.2, 0.7, 2.2, -0.5, 1.1, -2.0, 0.9]
    rows = [(i, [float((i + 1)) * x for x in v0]) for i in range(80)]
    docs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    auto = neardup_ingest_batch(
        spark, docs, str(tmp_path / "nd_auto"), threshold=0.9
    )
    assert auto.count() == 80

    plain = neardup_ingest_batch(
        spark, docs, str(tmp_path / "nd_none"), threshold=0.9,
        band_bucket_cap=None,
    )
    assert sorted(r["vec_id"] for r in plain.collect()) == [0]


def test_ingest_band_bucket_cap_policy():
    """Policy arithmetic: budget cap = 2*target/bands + 1; the
    expected-population floor only lifts it when the band space is
    small enough for honest collisions (8x margin, imagehash's)."""
    import pytest as _pytest

    from file_appender_spark.operators.neardup_ingest import (
        ingest_band_bucket_cap_for,
    )

    assert ingest_band_bucket_cap_for(100, n_bands=4) == 65
    assert ingest_band_bucket_cap_for(100, n_bands=8) == 33
    # SRP 16-bit bands: floor binds only at huge n
    assert ingest_band_bucket_cap_for(10**6, bucket_space_bits=16) == max(
        65, -(-8 * 10**6 // 2**16)
    )
    assert ingest_band_bucket_cap_for(100, bucket_space_bits=16) == 65
    with _pytest.raises(ValueError, match="n_items"):
        ingest_band_bucket_cap_for(0)
    with _pytest.raises(ValueError, match="n_bands"):
        ingest_band_bucket_cap_for(10, n_bands=0)
    with _pytest.raises(ValueError, match="target_pairs_per_item"):
        ingest_band_bucket_cap_for(10, target_pairs_per_item=1)


def test_store_hot_buckets_report(spark, tmp_path):
    """The long-lived stores' truncation report: store_hot_buckets
    names the over-cap (band, sig) buckets whose candidates the guard
    drops. Since the r8 signature-equality shortcut, a DEDUP store
    accumulates a hot bucket only from distinct-signature band
    collisions (identical-sig families store one representative), so
    the positive case here writes the sig layout directly — the
    pairstore case (which stores every doc) is pinned in
    tests/test_pairstore.py; an organic text store reads clean."""
    from file_appender_spark.operators.neardup_ingest import (
        store_hot_buckets,
        textdup_ingest_batch,
    )

    # 80 distinct signatures sharing band 0's value: the
    # distinct-sig hot bucket the cap exists for post-shortcut
    store = str(tmp_path / "hot_store")
    spark.createDataFrame(
        [(i, "HOT", f"u{i}a", f"u{i}b", f"u{i}c") for i in range(80)],
        "doc_id long, b0 string, b1 string, b2 string, b3 string",
    ).write.parquet(store)
    rep = store_hot_buckets(spark, store, band_bucket_cap=65).collect()
    assert [(r["band"], r["sig"], r["n_in_bucket"]) for r in rep] == [
        (0, "HOT", 80)
    ]

    organic = spark.createDataFrame(
        [(100 + i, f"totally distinct words {i} " + " ".join(
            f"u{i}w{j}" for j in range(10))) for i in range(12)],
        "doc_id long, text string",
    )
    store2 = str(tmp_path / "organic_store")
    textdup_ingest_batch(spark, organic, store2)
    assert store_hot_buckets(spark, store2, band_bucket_cap=65).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="band_bucket_cap"):
        store_hot_buckets(spark, store, band_bucket_cap=0)


def test_sig_shortcut_retry_on_legacy_multi_id_store(spark, tmp_path):
    """Review finding (3rd pass): stores written under the pre-
    shortcut cap hold identical-signature groups with MANY ids
    (admitted whole families). A replayed batch must re-emit every
    row that IS stored (own-row membership), not just the group min —
    and still suppress genuinely new members of the family."""
    from file_appender_spark.operators.neardup_ingest import (
        _minhash_sig_frame,
        stamp_store_params,
        textdup_ingest_batch,
    )

    base = " ".join(f"tmpl{w}" for w in range(40))
    rows = [(i, " ".join([base] * (i + 2))) for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # fabricate the legacy state: all 80 identical-sig rows stored
    store = str(tmp_path / "legacy_store")
    _minhash_sig_frame(docs, "doc_id", "text").write.parquet(store)
    stamp_store_params(
        store, {"modality": "minhash", "n_slots": 16, "n_bands": 4}
    )

    # replay of the batch that produced the legacy rows: every stored
    # row re-emitted (at-least-once), none silently swallowed
    replay = textdup_ingest_batch(spark, docs, store)
    assert sorted(r["doc_id"] for r in replay.collect()) == list(range(80))

    # a genuinely NEW family member is still suppressed by signature
    b2 = spark.createDataFrame(
        [(999, " ".join([base] * 95))], "doc_id long, text string"
    )
    assert textdup_ingest_batch(spark, b2, store).count() == 0


def test_band_pairs_slice_equivalence(spark):
    """r8 verdict task 1: the history-path broadcast-semi slice (the
    O(batch)-per-epoch fix) must change NOTHING about the candidate
    set — over-cap counts for every batch-touched bucket are computed
    on whole buckets (semi keeps them intact), and untouched buckets
    could never produce a candidate. Pin _band_pairs against an
    inline unsliced reference spelling, capped and uncapped, on a
    history with a hot bucket, a cold shared bucket, and buckets the
    batch never touches."""
    from file_appender_spark.operators.neardup_ingest import _band_pairs

    # history: bucket (0,'HOT') holds ids 0..9, (1,'WARM') holds
    # 10..12, (2,'COLD') holds 20..24 (untouched by the batch)
    hist_rows = (
        [(i, 0, "HOT") for i in range(10)]
        + [(10 + i, 1, "WARM") for i in range(3)]
        + [(20 + i, 2, "COLD") for i in range(5)]
    )
    old = spark.createDataFrame(hist_rows, "doc_id long, band int, sig string")
    new = spark.createDataFrame(
        [(100, 0, "HOT"), (100, 1, "WARM"), (101, 1, "WARM"), (101, 3, "X")],
        "doc_id long, band int, sig string",
    )

    def unsliced(new_bands, old_bands, cap):
        x = new_bands.alias("x")
        if cap is not None:
            sized = old_bands.groupBy("band", "sig").agg(
                F.count("*").alias("n_in_bucket")
            )
            hot = F.broadcast(sized.filter(F.col("n_in_bucket") > cap))
            old_bands = old_bands.join(hot, ["band", "sig"], "left_anti")
            x = new_bands.join(hot, ["band", "sig"], "left_anti").alias("x")
        y = old_bands.select(
            F.col("doc_id").alias("_oid"), "band", "sig"
        ).alias("y")
        return (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.sig") == F.col("y.sig"))
                & (F.col("x.doc_id") != F.col("y._oid")),
            )
            .select(
                F.col("x.doc_id").alias("new_id"), F.col("y._oid").alias("old_id")
            )
            .distinct()
        )

    for cap in (None, 5, 2):
        got = sorted(
            (r["new_id"], r["old_id"])
            for r in _band_pairs(
                new, old, "doc_id", within_batch=False, band_bucket_cap=cap
            ).collect()
        )
        want = sorted(
            (r["new_id"], r["old_id"]) for r in unsliced(new, old, cap).collect()
        )
        assert got == want, f"cap={cap}: {got} != {want}"
    # sanity on the fixture: cap=5 drops the HOT bucket but keeps WARM
    capped = sorted(
        (r["new_id"], r["old_id"])
        for r in _band_pairs(
            new, old, "doc_id", within_batch=False, band_bucket_cap=5
        ).collect()
    )
    assert capped == [(100, 10), (100, 11), (100, 12), (101, 10), (101, 11), (101, 12)]


def test_embedding_ingest_identical_vector_shortcut(spark, tmp_path):
    """r8 ADVICE (medium): an over-cap family of IDENTICAL embeddings
    must dedup under the default sized cap — exact vector equality
    implies cosine 1.0, so the SRP path now has the same exact-dup
    shortcut as text/image, keyed on the vector itself. Distinct
    scalar multiples (cosine 1.0 but unequal vectors) remain the
    cap's documented admit-wholesale trade
    (test_embedding_ingest_auto_cap_admits_degenerate_family)."""
    from file_appender_spark.operators.neardup_ingest import (
        _store_row_count,
        neardup_ingest_batch,
    )

    v0 = [0.3, -1.2, 0.7, 2.2, -0.5, 1.1, -2.0, 0.9]
    docs = spark.createDataFrame(
        [(i, list(v0)) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    store = str(tmp_path / "ident_store")
    auto = neardup_ingest_batch(spark, docs, store, threshold=0.9)
    assert sorted(r["vec_id"] for r in auto.collect()) == [0]
    # ONE stored representative: the hot bucket never accumulates
    assert _store_row_count(store) == 1

    # cross-batch: a new identical vector matches the stored rep by
    # vector equality (no pair join needed) and is suppressed
    b2 = spark.createDataFrame(
        [(500, list(v0))], "vec_id long, embedding array<double>"
    )
    assert neardup_ingest_batch(spark, b2, store, threshold=0.9).count() == 0

    # replay of the first batch re-emits the stored representative
    # (at-least-once, own-id override)
    r1 = neardup_ingest_batch(spark, docs, store, threshold=0.9)
    assert sorted(r["vec_id"] for r in r1.collect()) == [0]

    # zero vectors: cosine undefined -> the verifier never suppresses
    # them, so neither may the shortcut (all admitted)
    zdocs = spark.createDataFrame(
        [(i, [0.0] * 8) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    z = neardup_ingest_batch(
        spark, zdocs, str(tmp_path / "zero_store"), threshold=0.9
    )
    assert z.count() == 5


def test_textdup_replay_on_legacy_under_cap_group(spark, tmp_path):
    """r8 ADVICE (low): a legacy store whose identical-signature
    group is UNDER the cap pairs a replayed row with its stored twins
    through the banded history join at estimated Jaccard 1.0 — the
    own-id override must still re-emit every stored row instead of
    swallowing the batch (at-least-once)."""
    from file_appender_spark.operators.neardup_ingest import (
        _minhash_sig_frame,
        stamp_store_params,
        textdup_ingest_batch,
    )

    base = " ".join(f"tmpl{w}" for w in range(40))
    rows = [(i, " ".join([base] * (i + 2))) for i in range(10)]  # 10 < cap 65
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    store = str(tmp_path / "legacy_small")
    _minhash_sig_frame(docs, "doc_id", "text").write.parquet(store)
    stamp_store_params(
        store, {"modality": "minhash", "n_slots": 16, "n_bands": 4}
    )

    replay = textdup_ingest_batch(spark, docs, store)
    assert sorted(r["doc_id"] for r in replay.collect()) == list(range(10))

    # a genuinely new family member is still suppressed
    b2 = spark.createDataFrame(
        [(999, " ".join([base] * 95))], "doc_id long, text string"
    )
    assert textdup_ingest_batch(spark, b2, store).count() == 0


def test_spark_murmur3_twin_matches_f_hash(spark):
    """q265's oracle inlines the SRP hyperplane matrix via a pure-
    Python murmur3 twin of Spark's F.hash(int, int) — pin the twin
    bit-for-bit over the full (16 x 64) coefficient grid plus edge
    values (negative results, zero)."""
    from file_appender_spark.queries.tranche22 import _spark_hash2

    rows = (
        spark.range(16).selectExpr("cast(id as int) as bit")
        .select("bit", F.explode(F.expr("sequence(0, 63)")).alias("i"))
        .select("bit", "i", F.hash(F.col("bit"), F.col("i")).alias("h"))
        .collect()
    )
    assert all(_spark_hash2(r["bit"], r["i"]) == r["h"] for r in rows)


def test_srp_banded_verifier_never_suppresses_nan_vectors(spark, tmp_path):
    """2nd r9 review pass: Spark orders NaN above every number, so an
    unguarded `cos >= threshold` would let NaN cosines PASS the
    banded verifier (NaN vectors share all-ones sign bands and
    band-collide reliably). Undefined cosine must never suppress —
    all NaN-vector rows are admitted, within a batch and vs
    history."""
    from file_appender_spark.operators.neardup_ingest import (
        neardup_ingest_batch,
    )

    nan = float("nan")
    docs = spark.createDataFrame(
        [(1, [nan, 1.0, 2.0, 3.0]), (2, [nan, 1.0, 2.0, 3.0]),
         (3, [4.0, nan, 5.0, 6.0])],
        "vec_id long, embedding array<double>",
    )
    store = str(tmp_path / "nan_store")
    a1 = neardup_ingest_batch(spark, docs, store, threshold=0.4)
    assert sorted(r["vec_id"] for r in a1.collect()) == [1, 2, 3]
    # vs history too: a fresh NaN vector is admitted, not suppressed
    b2 = spark.createDataFrame(
        [(9, [nan, 1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    assert neardup_ingest_batch(spark, b2, store, threshold=0.4).count() == 1


def test_store_fs_cache_reset():
    from file_appender_spark.storefs import (
        reset_store_fs_cache,
        store_fs_for,
    )

    a = store_fs_for("hdfs://nn-x:8020/s")
    assert store_fs_for("hdfs://nn-x:8020/t") is a
    reset_store_fs_cache()
    assert store_fs_for("hdfs://nn-x:8020/s") is not a


def test_minhash_sig_fused_bitequal(spark, sf_dir):
    """r10 verdict task 1 contract: the fused MinHash signature stage
    (one transform-hash per shingle + a single 16-slot aggregate()
    fold per row, no explode/exchange) is BIT-IDENTICAL to the
    exploded reference spelling — the literal q52 oracle shape — on
    real documents plus the short-doc edge (< 3 words yields no
    row in either spelling)."""
    from file_appender_spark.operators.neardup_ingest import (
        _minhash_sig_frame,
        _minhash_sig_frame_exploded,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(90001, "one two"), (90002, ""), (90003, "a b c"),
         (90004, "x x x x x")],
        "doc_id long, text string",
    )
    docs = docs.unionByName(edge)
    cur = _minhash_sig_frame_exploded(docs, "doc_id", "text")
    fus = _minhash_sig_frame(docs, "doc_id", "text")
    assert cur.schema.simpleString() == fus.schema.simpleString()
    assert cur.exceptAll(fus).count() == 0
    assert fus.exceptAll(cur).count() == 0
    # the guard rows: exactly the two shingle-able edge docs appear
    got = {r["doc_id"] for r in fus.filter("doc_id >= 90001").collect()}
    assert got == {90003, 90004}


def test_srp_admitted_sigs_reuse_batch_frame(spark, tmp_path):
    """r11: the SRP ingest appends the PERSISTED batch signature frame
    sliced to admitted ids instead of recomputing _sig_frame over the
    admitted rows — store contents must be identical to a recompute
    (same ids, vectors, bands, and v2 hash columns), and a follow-up
    batch against the store must still dedup correctly."""
    from file_appender_spark.operators.neardup_ingest import (
        neardup_ingest_batch,
    )

    rows = [(i, [float(i), 1.0, 2.0]) for i in range(6)]
    rows.append((100, [0.0, 1.0, 2.0]))  # near-dup of vec 0 direction
    docs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    store = str(tmp_path / "srp_reuse_store")
    admitted = neardup_ingest_batch(spark, docs, store, threshold=0.99)
    stored = spark.read.parquet(store)
    a_ids = sorted(r["vec_id"] for r in admitted.collect())
    s_ids = sorted(r["vec_id"] for r in stored.collect())
    assert s_ids == a_ids  # one stored sig row per admitted row
    for c in ("v", "nrm", "b0", "fh", "bh0"):
        assert c in stored.columns
    # replay must re-emit (own-stored override reads the reused rows)
    again = neardup_ingest_batch(spark, docs, store, threshold=0.99)
    assert sorted(r["vec_id"] for r in again.collect()) == a_ids


def test_cos_scores_arrow_bit_identical(spark, sf_dir):
    """r13: the vectorized Arrow scoring stage under ann_sign_ivf must
    be BIT-IDENTICAL to the expression spelling — the raw (pre-round)
    cosine doubles, compared both directions on a real joined
    candidate frame, plus a degenerate matrix (NULL vector, NULL
    element, ragged length mismatch, zero norm, NULL norm, NaN
    element) that forces the per-row replica of the zip_with/fold
    semantics."""
    import math

    from file_appender_spark.operators.similarity import (
        _as_double,
        _dot,
        cos_scores_arrow,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    a = emb.select(
        F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv")
    ).withColumn("qnrm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    b = emb.select(
        F.col("vec_id").alias("vid"), _as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    pairs = a.join(b, (a["qid"] % 7) == (b["vid"] % 7))
    ref = pairs.select(
        "qid",
        "vid",
        (_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))).alias(
            "cos_raw"
        ),
    )
    out = cos_scores_arrow(pairs, "qid", "vid")
    assert ref.columns == out.columns
    assert ref.exceptAll(out).count() == 0
    assert out.exceptAll(ref).count() == 0

    nan = float("nan")
    rows = [
        (1, 10, [1.0, 2.0, 3.0], [1.0, 0.5, 2.0], 3.7416573867739413, 2.29128784747792),
        (2, 20, None, [1.0, 0.5, 2.0], 1.0, 2.29128784747792),  # NULL qv
        (3, 30, [1.0, 2.0], [1.0, 0.5, 2.0], 2.23606797749979, 2.29128784747792),  # ragged
        (4, 40, [1.0, None, 3.0], [1.0, 0.5, 2.0], 1.0, 2.29128784747792),  # NULL elem
        (6, 60, [1.0, 2.0, 3.0], [1.0, 0.5, 2.0], None, 2.29128784747792),  # NULL norm
        (7, 70, [nan, 2.0, 3.0], [1.0, 0.5, 2.0], nan, 2.29128784747792),  # NaN
    ]
    adv = spark.createDataFrame(
        rows,
        "qid long, vid long, qv array<double>, v array<double>, "
        "qnrm double, nrm double",
    )
    ref2 = adv.select(
        "qid",
        "vid",
        (_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))).alias(
            "cos_raw"
        ),
    ).collect()
    out2 = cos_scores_arrow(adv, "qid", "vid").collect()

    def norm(rs):
        o = {}
        for r in sorted(rs, key=lambda r: r["qid"]):
            c = r["cos_raw"]
            o[r["qid"]] = (
                "nan" if c is not None and math.isnan(c) else c
            )
        return o

    assert norm(ref2) == norm(out2)

    # zero norm product: under ANSI (the Spark 4 default) the ENGINE
    # spelling raises DIVIDE_BY_ZERO for a non-NULL dot / 0.0 — the
    # Arrow pass must fail the same way, not emit IEEE Inf
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    zr = spark.createDataFrame(
        [(5, 50, [0.0, 0.0, 0.0], [1.0, 0.5, 2.0], 0.0, 2.29128784747792)],
        "qid long, vid long, qv array<double>, v array<double>, "
        "qnrm double, nrm double",
    )
    with pytest.raises((PySparkException, Py4JJavaError)):
        zr.select(
            (_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))).alias("c")
        ).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        cos_scores_arrow(zr, "qid", "vid").collect()

    # ANSI off: Spark's Divide returns NULL for a zero divisor (never
    # IEEE +-Inf/NaN), so a zero-norm row must score NULL — sorting
    # last in ann_sign_ivf's descending top-k, not first. Both the
    # vectorized path and the per-row replica (forced by a ragged row
    # in the same Arrow batch) are checked.
    schema = (
        "qid long, vid long, qv array<double>, v array<double>, "
        "qnrm double, nrm double"
    )
    zero_rows = [
        (5, 50, [0.0, 0.0, 0.0], [1.0, 0.5, 2.0], 0.0, 2.29128784747792),
        (9, 90, [1.0, 2.0, 3.0], [0.0, 0.0, 0.0], 3.7416573867739413, -0.0),
        (1, 10, [1.0, 2.0, 3.0], [1.0, 0.5, 2.0], 3.7416573867739413, 2.29128784747792),
    ]
    ragged = (3, 30, [1.0, 2.0], [1.0, 0.5, 2.0], 2.23606797749979, 2.29128784747792)
    old_ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        for extra in ([], [ragged]):
            z = spark.createDataFrame(zero_rows + extra, schema).coalesce(1)
            ref3 = z.select(
                "qid",
                "vid",
                (_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))).alias(
                    "cos_raw"
                ),
            ).collect()
            out3 = norm(cos_scores_arrow(z, "qid", "vid").collect())
            assert norm(ref3) == out3
            assert out3[5] is None and out3[9] is None and out3[1] is not None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old_ansi)
