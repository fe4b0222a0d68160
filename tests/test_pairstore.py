"""Materialized near-dup pair graph (operators/pairstore.py) — the
corpusstats pattern applied to the q52 prefix. Pins:

- batch build == q52's verified pair set (rows AND jaccard values)
  on the real sf0.001 corpus;
- incremental ingest == batch build (pairs and clusters), with
  exactly-once epoch retries;
- the cluster staleness stamp (read refuses uncovered epochs);
- consumer equivalence: q116/q245/q213 with graph_dir reproduce
  their default spellings;
- compaction preserves the merged view; crash recovery restores a
  half-swapped store; params guard refuses a foreign threshold.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re

import pytest
from pyspark.sql import functions as F

from file_appender_spark.obs import records
from file_appender_spark.operators.pairstore import (
    build_pair_graph,
    compact_pairstore,
    pairstore_ingest_batch,
    read_cluster_assignment,
    read_pairs,
    refresh_clusters,
)
from file_appender_spark.sources.catalog import load_table


def _pair_rows(df):
    return sorted(tuple(r) for r in df.select("d1", "d2", "jaccard").collect())


def _cluster_rows(df):
    return sorted(tuple(r) for r in df.select("doc", "cluster").collect())


@pytest.fixture(scope="module")
def built_store(spark, sf_dir, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("pairstore") / "store")
    docs = load_table(spark, sf_dir, "documents")
    build_pair_graph(spark, docs, store)
    return store


def test_build_matches_q52(spark, sf_dir, built_store):
    """The store's base epoch must reproduce q52's verified pairs —
    values included (the sh32 verifier equals the raw-string verify
    on this corpus; a 32-bit shingle collision would surface here)."""
    from file_appender_spark.queries.llm import q52_minhash_lsh

    want = _pair_rows(q52_minhash_lsh(spark, sf_dir))
    got = _pair_rows(read_pairs(spark, built_store))
    assert got == want
    assert len(got) > 0  # the sf corpus has planted near-dups


def test_consumers_graph_dir_equivalence(spark, sf_dir, built_store):
    from file_appender_spark.queries.llm import q116_dedup_clusters
    from file_appender_spark.queries.tranche8 import q213_clustering_coefficient
    from file_appender_spark.queries.tranche17 import q245_effective_tokens

    want116 = sorted(
        tuple(r) for r in q116_dedup_clusters(spark, sf_dir).collect()
    )
    got116 = sorted(
        tuple(r)
        for r in q116_dedup_clusters(
            spark, sf_dir, graph_dir=built_store
        ).collect()
    )
    assert got116 == want116

    want245 = q245_effective_tokens(spark, sf_dir).collect()[0]
    got245 = q245_effective_tokens(
        spark, sf_dir, graph_dir=built_store
    ).collect()[0]
    assert tuple(got245) == tuple(want245)

    want213 = sorted(
        tuple(r) for r in q213_clustering_coefficient(spark, sf_dir).collect()
    )
    got213 = sorted(
        tuple(r)
        for r in q213_clustering_coefficient(
            spark, sf_dir, graph_dir=built_store
        ).collect()
    )
    assert got213 == want213
    # the full production shape: store edges + capped enumeration
    got_capped = sorted(
        tuple(r)
        for r in q213_clustering_coefficient(
            spark, sf_dir, graph_dir=built_store, max_degree="auto"
        ).collect()
    )
    assert got_capped == want213  # auto cap > this graph's max out-degree


def test_incremental_matches_batch(spark, sf_dir, tmp_path):
    """Three epochs ingested sequentially == one batch build: pairs,
    clusters, and the q116 consumer all agree. Epochs split by
    doc_id % 3, so near-dup pairs cross epoch boundaries."""
    docs = load_table(spark, sf_dir, "documents")

    batch_store = str(tmp_path / "batch")
    build_pair_graph(spark, docs, batch_store)

    inc_store = str(tmp_path / "inc")
    build_pair_graph(spark, docs.filter(F.col("doc_id") % 3 == 0), inc_store)
    for i in (1, 2):
        pairstore_ingest_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), inc_store, batch_id=i
        )
    refresh_clusters(spark, inc_store)

    assert _pair_rows(read_pairs(spark, inc_store)) == _pair_rows(
        read_pairs(spark, batch_store)
    )
    assert _cluster_rows(read_cluster_assignment(spark, inc_store)) == (
        _cluster_rows(read_cluster_assignment(spark, batch_store))
    )

    # retry of epoch 2 (successful-write retry): output is IDENTICAL
    # — overwrite epochs + self-epoch-excluded history reads
    before = _pair_rows(read_pairs(spark, inc_store))
    pairstore_ingest_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 2), inc_store, batch_id=2
    )
    assert _pair_rows(read_pairs(spark, inc_store)) == before

    # compaction folds epochs without changing the merged view
    compact_pairstore(spark, inc_store)
    assert _pair_rows(read_pairs(spark, inc_store)) == before
    assert _cluster_rows(read_cluster_assignment(spark, inc_store)) == (
        _cluster_rows(read_cluster_assignment(spark, batch_store))
    )


def test_stale_clusters_guard(spark, tmp_path):
    store = str(tmp_path / "stale")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    build_pair_graph(spark, docs, store)
    read_cluster_assignment(spark, store)  # fresh: fine
    pairstore_ingest_batch(
        spark,
        spark.createDataFrame(
            [(3, "alpha beta gamma delta zeta")], "doc_id long, text string"
        ),
        store,
        batch_id=1,
    )
    with pytest.raises(ValueError, match="STALE"):
        read_cluster_assignment(spark, store)
    stale = read_cluster_assignment(spark, store, allow_stale=True)
    assert stale.count() >= 0  # readable under the explicit opt-in
    refresh_clusters(spark, store)
    fresh = read_cluster_assignment(spark, store)
    assert {r["doc"] for r in fresh.collect()} == {1, 2, 3}
    assert {r["cluster"] for r in fresh.collect()} == {1}


def test_params_guard_and_reserved_epoch(spark, tmp_path):
    store = str(tmp_path / "guard")
    docs = spark.createDataFrame(
        [(1, "one two three four")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="not a pair store"):
        read_pairs(spark, store + "_missing")
    build_pair_graph(spark, docs, store, threshold=0.5)
    with open(os.path.join(store, "_PAIRSTORE_PARAMS.json")) as f:
        assert json.load(f)["threshold"] == 0.5
    # a rebuild under a new threshold RE-STAMPS (build's prerogative)
    build_pair_graph(spark, docs, store, threshold=0.2)
    with open(os.path.join(store, "_PAIRSTORE_PARAMS.json")) as f:
        assert json.load(f)["threshold"] == 0.2
    with pytest.raises(ValueError, match="reserved"):
        pairstore_ingest_batch(spark, docs, store, batch_id="base")


def test_params_guard_checks_full_stamp_without_threshold(spark, tmp_path):
    """With no threshold passed, the params guard still compares the
    whole stamp — the stamped threshold with this code's hash params.
    A store stamped with other LSH params (here n_bands 8) is a
    different graph: ingest, default-threshold reads, refresh and
    compaction all refuse it instead of folding into it."""
    store = str(tmp_path / "foreign_bands")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    build_pair_graph(spark, docs, store)
    path = os.path.join(store, "_PAIRSTORE_PARAMS.json")
    with open(path) as f:
        stamp = json.load(f)
    stamp["n_bands"] = 8
    with open(path, "w") as f:
        json.dump(stamp, f)
    with pytest.raises(ValueError, match="different graphs"):
        pairstore_ingest_batch(spark, docs, store, batch_id=1)
    with pytest.raises(ValueError, match="different graphs"):
        read_pairs(spark, store)
    with pytest.raises(ValueError, match="different graphs"):
        refresh_clusters(spark, store)
    with pytest.raises(ValueError, match="different graphs"):
        compact_pairstore(spark, store)
    assert not os.path.exists(os.path.join(store, "pairs", "batch=1"))


def test_crash_recovery_restores_half_swapped_store(spark, tmp_path):
    store = str(tmp_path / "crash")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    build_pair_graph(spark, docs, store)
    want = _cluster_rows(read_cluster_assignment(spark, store))
    # simulate a refresh crash between the two renames
    cdir = os.path.join(store, "clusters")
    os.rename(cdir, cdir + ".old")
    assert _cluster_rows(read_cluster_assignment(spark, store)) == want


def test_short_and_empty_docs(spark, tmp_path):
    """Docs too short to shingle produce no signature row and no
    pairs (q52's own contract); an empty corpus builds an empty but
    readable store."""
    store = str(tmp_path / "short")
    docs = spark.createDataFrame(
        [(1, "too short"), (2, "also tiny"), (3, None)],
        "doc_id long, text string",
    )
    build_pair_graph(spark, docs, store)
    assert read_pairs(spark, store).count() == 0
    assert read_cluster_assignment(spark, store).count() == 0

    empty_store = str(tmp_path / "empty")
    build_pair_graph(
        spark,
        spark.createDataFrame([], "doc_id long, text string"),
        empty_store,
    )
    assert read_pairs(spark, empty_store).count() == 0


def test_ingest_hot_bucket_cap_is_sized_and_overridable(spark, tmp_path):
    """The ingest default guards template families (missing edges,
    never wrong ones); cap=None restores exactness; a bad string
    refuses. 80-member identical-shingle-set family: under 'auto'
    (cap 65) the bucket drops out, so the family contributes no
    edges; under None the family is a clique."""
    base = " ".join(f"tok{w}" for w in range(40))
    fam = spark.createDataFrame(
        [(i, " ".join([base] * (i + 2))) for i in range(80)],
        "doc_id long, text string",
    )
    seed = spark.createDataFrame(
        [(1000, "completely unrelated seed document text here")],
        "doc_id long, text string",
    )

    store_auto = str(tmp_path / "cap_auto")
    build_pair_graph(spark, seed, store_auto)
    pairstore_ingest_batch(spark, fam, store_auto, batch_id=1)
    assert read_pairs(spark, store_auto).count() == 0

    store_none = str(tmp_path / "cap_none")
    build_pair_graph(spark, seed, store_none)
    pairstore_ingest_batch(
        spark, fam, store_none, batch_id=1, band_bucket_cap=None
    )
    assert read_pairs(spark, store_none).count() == 80 * 79 // 2

    with pytest.raises(ValueError, match="band_bucket_cap"):
        pairstore_ingest_batch(
            spark, fam, store_auto, batch_id=2, band_bucket_cap="nope"
        )


def test_q183_graph_dir_equivalence(spark, sf_dir, built_store):
    from file_appender_spark.queries.tranche5 import q183_neardup_triangles

    want = tuple(q183_neardup_triangles(spark, sf_dir).collect()[0])
    got = tuple(
        q183_neardup_triangles(spark, sf_dir, graph_dir=built_store).collect()[0]
    )
    got_capped = tuple(
        q183_neardup_triangles(
            spark, sf_dir, graph_dir=built_store, max_degree="auto"
        ).collect()[0]
    )
    assert got == want
    assert got_capped == want


def test_signature_plan_is_shuffle_free_and_joins_are_equi(spark):
    """The store's scale contract, plan-asserted: the signature
    projection (the pair store's and the text ingest's standalone
    stage) hashes each shingle once and its ONLY exchange is the
    deliberate batch spread (_spread's round-robin repartition —
    everything expensive is map-side after it), and the
    candidate+verify plan contains no cartesian/nested-loop join."""
    from file_appender_spark.operators.lsh import band_pairs, band_stack
    from file_appender_spark.operators.neardup_ingest import minhash_signatures
    from file_appender_spark.operators.pairstore import (
        _new_side,
        _old_side,
        _verified_pairs,
        pair_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon token{i}") for i in range(50)],
        "doc_id long, text string",
    )
    sigs = pair_signatures(docs)
    # the text ingest's standalone stage too; in both the hash array is
    # bound once (one md5 in the optimized plan, not one per slot)
    for df in (sigs, minhash_signatures(docs, "doc_id", "text")):
        qe = df._jdf.queryExecution()
        assert qe.optimizedPlan().toString().count("md5(") == 1, qe.optimizedPlan()
        plan = qe.executedPlan().toString()
        assert plan.count("Exchange") == 1, plan  # the _spread only
        assert "SortAggregate" not in plan and "HashAggregate" not in plan

    bands = sigs.select("doc_id", band_stack([f"b{bi}" for bi in range(4)]))
    cand = band_pairs(bands, "doc_id").select(
        F.col("d2").alias("new_id"), F.col("d1").alias("old_id")
    )
    pairs = _verified_pairs(
        cand, _new_side(sigs, "doc_id"), _old_side(sigs, "doc_id"), 0.2
    )
    pplan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in pplan
    assert "BroadcastNestedLoopJoin" not in pplan


def test_pairstore_via_streaming_foreachbatch(spark, tmp_path):
    """End-to-end streaming wiring: a parquet file stream drives
    pairstore_ingest_batch through foreachBatch with the REAL epoch
    ids on top of a batch-built base; after refresh, pairs and
    clusters equal the one-shot build over the union — the
    maintenance mode a 100 TB ingest actually runs."""
    import glob
    import shutil

    schema = "doc_id long, text string"
    base_txt = "alpha beta gamma delta epsilon zeta eta theta"
    seed = [(1, base_txt), (2, base_txt + " iota")]
    rows1 = [(10, base_txt + " kappa"), (11, "totally different words entirely here")]
    rows2 = [(20, base_txt + " mu nu")]

    src = tmp_path / "ps_incoming"
    src.mkdir()

    def add_file(rows, name):
        tmp = str(tmp_path / f"_psstage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], str(src / name))

    add_file(rows1, "b1.parquet")
    add_file(rows2, "b2.parquet")

    store = str(tmp_path / "ps_stream_store")
    build_pair_graph(spark, spark.createDataFrame(seed, schema), store)

    q = (
        spark.readStream.format("parquet")
        .schema(spark.createDataFrame([], schema).schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
        .writeStream.foreachBatch(
            lambda b, i: pairstore_ingest_batch(spark, b, store, batch_id=i)
        )
        .option("checkpointLocation", str(tmp_path / "ps_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    refresh_clusters(spark, store)

    oneshot = str(tmp_path / "ps_oneshot")
    build_pair_graph(
        spark, spark.createDataFrame(seed + rows1 + rows2, schema), oneshot
    )
    assert _pair_rows(read_pairs(spark, store)) == _pair_rows(
        read_pairs(spark, oneshot)
    )
    assert _cluster_rows(read_cluster_assignment(spark, store)) == (
        _cluster_rows(read_cluster_assignment(spark, oneshot))
    )


def test_compaction_never_launders_staleness(spark, tmp_path):
    """Review finding r8: folding epochs into base must not turn a
    STALE cluster assignment into a fresh-looking one — after
    build -> ingest (stale) -> compact, the read still refuses until
    refresh_clusters runs."""
    store = str(tmp_path / "launder")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    build_pair_graph(spark, docs, store)
    pairstore_ingest_batch(
        spark,
        spark.createDataFrame(
            [(3, "alpha beta gamma delta zeta")], "doc_id long, text string"
        ),
        store,
        batch_id=1,
    )
    compact_pairstore(spark, store)
    with pytest.raises(ValueError, match="STALE"):
        read_cluster_assignment(spark, store)
    refresh_clusters(spark, store)
    assert {r["doc"] for r in read_cluster_assignment(spark, store).collect()} == {
        1,
        2,
        3,
    }


def test_crash_mid_rebuild_fails_loudly(spark, tmp_path):
    """Review finding r8: the params stamp is written only after the
    tables it describes exist, so a store caught mid-rebuild (no
    stamp) refuses reads and ingest instead of serving old-threshold
    pairs under a new-threshold stamp."""
    store = str(tmp_path / "midbuild")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    build_pair_graph(spark, docs, store)
    os.remove(os.path.join(store, "_PAIRSTORE_PARAMS.json"))  # the crash window
    with pytest.raises(ValueError, match="not a pair store"):
        read_pairs(spark, store)
    with pytest.raises(ValueError, match="not a pair store"):
        pairstore_ingest_batch(spark, docs, store, batch_id=1)


def test_consumers_refuse_foreign_threshold_store(spark, sf_dir, tmp_path):
    """Review finding r8: the graph_dir paths pass q52's 0.2 to the
    params guard — a store built at another threshold is a DIFFERENT
    graph and must refuse loudly, not silently serve."""
    from file_appender_spark.queries.llm import q116_dedup_clusters
    from file_appender_spark.queries.tranche8 import q213_clustering_coefficient

    store = str(tmp_path / "foreign")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    build_pair_graph(spark, docs, store, threshold=0.7)
    with pytest.raises(ValueError, match="different graphs"):
        q116_dedup_clusters(spark, sf_dir, graph_dir=store).collect()
    with pytest.raises(ValueError, match="different graphs"):
        q213_clustering_coefficient(spark, sf_dir, graph_dir=store).collect()


def test_store_hot_buckets_works_on_pairstore_sigs(spark, tmp_path):
    """The shared truncation diagnostic reads the pair store's
    partitioned sigs table too (same b0..b3 layout; partition column
    ignored)."""
    from file_appender_spark.operators.neardup_ingest import store_hot_buckets

    base = " ".join(f"tok{w}" for w in range(40))
    fam = spark.createDataFrame(
        [(i, " ".join([base] * (i + 2))) for i in range(80)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "ps_hot")
    build_pair_graph(spark, fam, store)  # exact build stores everyone
    rep = store_hot_buckets(
        spark, os.path.join(store, "sigs"), band_bucket_cap=65
    ).collect()
    assert len(rep) == 4
    assert all(r["n_in_bucket"] == 80 for r in rep)


def _rows_of(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "modname, fname",
    [
        ("file_appender_spark.queries.llm", "q144_cluster_sizes"),
        ("file_appender_spark.queries.pipeline", "q122_retention_funnel"),
        ("file_appender_spark.queries.tranche5", "q164_cluster_representatives"),
        ("file_appender_spark.queries.tranche9", "q219_cluster_size_histogram"),
        ("file_appender_spark.queries.tranche10", "q226_degree_powerlaw"),
        ("file_appender_spark.queries.tranche13", "q235_cluster_purity"),
        ("file_appender_spark.queries.tranche13", "q236_degree_assortativity"),
        ("file_appender_spark.queries.tranche15", "q241_threshold_sweep"),
        ("file_appender_spark.queries.tranche21", "q254_source_dup_exposure"),
    ],
)
def test_every_graph_dir_consumer_matches_default(
    spark, sf_dir, built_store, modname, fname
):
    """Every q52-prefix consumer now routes through the shared
    q52_edges/q52_clusters dispatch: graph_dir == default spelling,
    row-for-row, for all nine additional consumers (q116/q183/q213/
    q245 are pinned in their own tests)."""
    import importlib

    fn = getattr(importlib.import_module(modname), fname)
    assert _rows_of(fn(spark, sf_dir, graph_dir=built_store)) == _rows_of(
        fn(spark, sf_dir)
    )


# Java's \s (the tokenizer regex runs in the JVM; Python's \s also
# matches Unicode spaces)
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _ref_minhash(text):
    """q52's signature without Spark: (sorted distinct 32-bit shingle
    hashes, 16 slots, 4 band strings), or None for a doc that cannot
    shingle. The hash is md5's first 8 hex digits read as an int."""
    from file_appender_spark.queries.llm import _MH_P, _MH_PARAMS

    w = [] if text is None else _JAVA_WS.split(text)
    if len(w) < 3:
        return None
    hs = sorted(
        {
            int(hashlib.md5(" ".join(w[i : i + 3]).encode()).hexdigest()[:8], 16)
            for i in range(len(w) - 2)
        }
    )
    mh = [min((a * h + b) % _MH_P for h in hs) for a, b in _MH_PARAMS]
    return hs, mh, [",".join(map(str, mh[4 * i : 4 * i + 4])) for i in range(4)]


def _minhash_spelling(spelling, docs):
    from file_appender_spark.operators.neardup_ingest import (
        _shingled,
        minhash_signatures,
    )
    from file_appender_spark.operators.pairstore import pair_signatures

    if spelling == "standalone":
        return minhash_signatures(docs, "doc_id", "text")
    if spelling == "pair_store":
        return pair_signatures(docs)
    shingled = _shingled(docs, "doc_id", "text")
    return minhash_signatures(None, "doc_id", shingled=shingled)


def _assert_minhash_matches_reference(spelling, docs):
    want = {r["doc_id"]: _ref_minhash(r["text"]) for r in docs.collect()}
    want = {k: v for k, v in want.items() if v is not None}
    sigs = _minhash_spelling(spelling, docs)
    id_type = docs.schema["doc_id"].dataType.simpleString()
    extra = "sh32:array<bigint>,n_sh:bigint," if spelling == "pair_store" else ""
    assert sigs.schema.simpleString() == (
        f"struct<doc_id:{id_type},{extra}mh:array<bigint>,"
        "b0:string,b1:string,b2:string,b3:string>"
    )
    rows = sigs.collect()
    got = {}
    for r in rows:
        hs = want[r["doc_id"]][0]
        if spelling == "pair_store":
            assert (list(r["sh32"]), r["n_sh"]) == (hs, len(hs)), r["doc_id"]
        got[r["doc_id"]] = (hs, list(r["mh"]), [r[f"b{i}"] for i in range(4)])
    assert len(rows) == len(got) and got == want


_MH_SPELLINGS = ["standalone", "pair_store", "reuse"]


@pytest.mark.parametrize("spelling", _MH_SPELLINGS)
def test_minhash_signatures_bit_identical(spark, ansi, spelling):
    """Each MinHash spelling — the standalone slot builder, the pair
    store's slots over sh32, the exploded tail over a shingled frame —
    equals a Spark-free reference: random text with repeated tokens,
    minimum-length docs, docs of fewer than 3 words, an empty and a
    NULL doc (no row), and two shingles of one doc whose md5 prefixes
    collide in 32 bits (one hash, the same slots everywhere)."""
    rng = random.Random(42)
    rows = [
        (i, " ".join(f"w{rng.randint(0, 40)}" for _ in range(rng.randint(3, 80))))
        for i in range(60)
    ]
    rows += [
        (1000, "a b c"),
        (1001, "x x x x x"),
        (1002, "one two"),
        (1003, "solo"),
        (1004, ""),
        (1005, None),
        (1006, "c7796 q r c37754 q r"),
    ]
    collide = ("c7796 q r", "c37754 q r")
    assert len({hashlib.md5(t.encode()).hexdigest()[:8] for t in collide}) == 1
    assert len(_ref_minhash(rows[-1][1])[0]) == 3  # 4 shingles, 3 hashes
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _assert_minhash_matches_reference(spelling, docs)


@pytest.mark.parametrize("spelling", _MH_SPELLINGS)
def test_minhash_signatures_bit_identical_sf(spark, sf_dir, spelling):
    """The same pin over the sf0.01 documents (next to the smoke
    data; skipped when that scale is not generated)."""
    sf = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.01")
    if not os.path.isdir(sf):
        pytest.skip(f"{sf} not generated")
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    _assert_minhash_matches_reference(spelling, docs)


def test_compaction_crash_never_reads_spuriously_fresh(
    spark, tmp_path, monkeypatch
):
    """Review finding r8 (2nd pass): the coverage stamp is written
    with its POST-fold value BEFORE the folds, so a crash mid-
    compaction reads as (at worst spuriously) STALE — never as
    spuriously fresh. Fault injection: plan_file_count raises on its
    first call, killing compact after the state write but before any
    table swap."""
    from file_appender_spark.operators import layout, pairstore

    store = str(tmp_path / "crashfold")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    build_pair_graph(spark, docs, store)
    pairstore_ingest_batch(
        spark,
        spark.createDataFrame(
            [(3, "alpha beta gamma delta zeta")], "doc_id long, text string"
        ),
        store,
        batch_id=1,
    )  # assignment now stale (covers=[base], live={base,1})

    real = layout.plan_file_count

    def boom(*a, **k):
        raise RuntimeError("injected compaction crash")

    monkeypatch.setattr(layout, "plan_file_count", boom)
    with pytest.raises(RuntimeError, match="injected"):
        compact_pairstore(spark, store)
    monkeypatch.setattr(layout, "plan_file_count", real)

    # the half-compacted store must still read as STALE
    with pytest.raises(ValueError, match="STALE"):
        read_cluster_assignment(spark, store)
    # and recovery is the documented path: finish compaction, refresh
    compact_pairstore(spark, store)
    refresh_clusters(spark, store)
    assert {r["doc"] for r in read_cluster_assignment(spark, store).collect()} == {
        1,
        2,
        3,
    }


def test_q52_threshold_single_constant(spark):
    """The pair definition's threshold exists exactly once: the llm
    constant feeds the oracle SQL, the Spark filter, the store build
    default, and the dispatch guards."""
    from file_appender_spark.operators.pairstore import _params, _q52_threshold
    from file_appender_spark.queries.llm import _Q52_FINAL, _Q52_THRESHOLD

    assert _q52_threshold() == _Q52_THRESHOLD
    assert f">= {_Q52_THRESHOLD}" in _Q52_FINAL
    assert _params(_Q52_THRESHOLD)["threshold"] == _Q52_THRESHOLD


def test_read_pairs_dedups_out_of_order_replay(spark, tmp_path):
    """r8 ADVICE: a replay of epoch N AFTER epoch N+1 committed
    violates the serialized-ingest contract — the replayed epoch's
    history now includes N+1, so each cross-epoch pair lands in BOTH
    epochs' partitions. read_pairs dedups defensively, so consumers
    keep seeing each unordered pair once."""
    base = " ".join(f"tmpl{w}" for w in range(10))
    # repeated template -> identical shingle SETS (Jaccard 1.0), so
    # every band agrees and all three pairs verify deterministically
    docs = spark.createDataFrame(
        [(i, " ".join([base] * (i + 1))) for i in (1, 2, 3)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "ooo")
    build_pair_graph(spark, docs.filter("doc_id = 1"), store)
    pairstore_ingest_batch(spark, docs.filter("doc_id = 2"), store, batch_id=1)
    clean = _pair_rows(read_pairs(spark, store))
    assert len(clean) == 1  # the (1, 2) pair, written by epoch 1

    pairstore_ingest_batch(spark, docs.filter("doc_id = 3"), store, batch_id=2)
    merged = _pair_rows(read_pairs(spark, store))
    assert len(merged) == 3  # (1,2), (1,3), (2,3)

    # CONTRACT VIOLATION: replay epoch 1 after epoch 2 committed —
    # its history read now includes doc 3, so (2, 3) is recomputed
    # into epoch 1's partition as well as epoch 2's
    pairstore_ingest_batch(spark, docs.filter("doc_id = 2"), store, batch_id=1)
    raw = spark.read.option(
        "basePath", os.path.join(store, "pairs")
    ).parquet(os.path.join(store, "pairs"))
    assert raw.count() == 4  # the duplicate IS on disk
    assert _pair_rows(read_pairs(spark, store)) == merged  # reader dedups

    # compaction collapses the duplicates for good
    compact_pairstore(spark, store)
    raw2 = spark.read.option(
        "basePath", os.path.join(store, "pairs")
    ).parquet(os.path.join(store, "pairs"))
    assert raw2.count() == 3
    assert _pair_rows(read_pairs(spark, store)) == merged


def test_incremental_cluster_refresh_matches_full(spark, sf_dir, tmp_path):
    """r8 verdict task 4: refresh_clusters(mode='auto') folds only
    the new epochs' edges into the existing assignment; the result
    must equal the full recompute exactly (labels are component min
    ids, and the representative-space fold preserves them). Pinned on
    the real corpus with cross-epoch near-dup pairs."""
    docs = load_table(spark, sf_dir, "documents")

    store = str(tmp_path / "inc_refresh")
    build_pair_graph(spark, docs.filter(F.col("doc_id") % 3 == 0), store)

    # epoch 1: auto must choose the INCREMENTAL fold (assignment
    # covers {'base'}, one new epoch) and match a forced full rerun
    pairstore_ingest_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 1), store, batch_id=1
    )
    assert refresh_clusters(spark, store) == "incremental"
    inc1 = _cluster_rows(read_cluster_assignment(spark, store))
    assert refresh_clusters(spark, store, mode="full") == "full"
    assert _cluster_rows(read_cluster_assignment(spark, store)) == inc1

    # epoch 2 on top: fold again, compare against one big batch build
    pairstore_ingest_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 2), store, batch_id=2
    )
    assert refresh_clusters(spark, store) == "incremental"
    ref = str(tmp_path / "ref_full")
    build_pair_graph(spark, docs, ref)
    assert _cluster_rows(read_cluster_assignment(spark, store)) == (
        _cluster_rows(read_cluster_assignment(spark, ref))
    )

    # nothing new -> no-op
    assert refresh_clusters(spark, store) == "fresh"

    # forcing incremental without a foldable assignment refuses
    bare = str(tmp_path / "bare")
    build_pair_graph(spark, docs.filter(F.col("doc_id") % 3 == 0), bare)
    import os as _os

    from file_appender_spark.operators.pairstore import _CLUSTERS_STATE

    _os.remove(_os.path.join(bare, _CLUSTERS_STATE))
    with pytest.raises(ValueError, match="foldable"):
        refresh_clusters(spark, bare, mode="incremental")


def test_capped_epoch_marker_and_exactness(spark, tmp_path):
    """r9 review finding: a store whose ingest cap BINDS is missing
    edges, and exactness consumers must be able to see it. The marker
    is written only when a bucket actually exceeds the cap, is sticky
    across further epochs, and a full rebuild (exact by default)
    clears it."""
    from file_appender_spark.operators.pairstore import pairstore_is_exact

    base = " ".join(f"tmpl{w}" for w in range(10))
    family = spark.createDataFrame(
        [(i, " ".join([base] * (i + 1))) for i in range(1, 8)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "capped")
    build_pair_graph(spark, family.filter("doc_id <= 2"), store)
    assert pairstore_is_exact(store)

    # cap 1 binds on the 5-member epoch's shared bucket
    pairstore_ingest_batch(
        spark, family.filter("doc_id > 2"), store, batch_id=1, band_bucket_cap=1
    )
    assert not pairstore_is_exact(store)

    # an uncapped rebuild restores exactness
    build_pair_graph(spark, family, store)
    assert pairstore_is_exact(store)

    # a cap that never binds leaves the store exact
    organic = spark.createDataFrame(
        [(100 + i, f"organic doc {i} " + " ".join(f"u{i}w{j}" for j in range(8)))
         for i in range(4)],
        "doc_id long, text string",
    )
    pairstore_ingest_batch(spark, organic, store, batch_id=2)  # cap 'auto'
    assert pairstore_is_exact(store)


def test_curate_reports_capped_store(spark, tmp_path):
    """curate(graph_dir=...) must surface a capped (inexact) store in
    its funnel dict instead of promising recompute equality."""
    from file_appender_spark.curate import curate
    from file_appender_spark.operators.pairstore import (
        _CAPPED_MARKER,
        build_pair_graph,
    )

    docs = spark.createDataFrame(
        [(i, f"curate words {i} " + " ".join(f"x{i}y{j}" for j in range(10)))
         for i in range(6)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "graph")
    build_pair_graph(spark, docs, store)
    r = curate(spark, docs, str(tmp_path / "out_exact"), graph_dir=store)
    assert "near_dedup_store_capped" not in r

    with open(os.path.join(store, _CAPPED_MARKER), "w") as f:
        f.write("cap bound")
    r2 = curate(spark, docs, str(tmp_path / "out_capped"), graph_dir=store)
    assert r2["near_dedup_store_capped"] is True


def test_failed_build_leaves_nothing_cached(spark, tmp_path, monkeypatch):
    """build_pair_graph caches the corpus signatures while it writes
    the tables; a write that raises must still release that cache."""
    import file_appender_spark.operators.pairstore as ps

    def fail(*args, **kwargs):
        raise RuntimeError("write failed")

    monkeypatch.setattr(ps, "write_table_epoch", fail)
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i}") for i in range(6)],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="write failed"):
        build_pair_graph(spark, docs, str(tmp_path / "s"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# Spark jobs a full cluster refresh of the tiny store below may run:
# the driver components' one Arrow collect and the clusters write
# (shuffle + write); the pairs read takes its schema from a footer.
# Measured 3; the distributed components loop ran 16. Lower it when a
# job goes away; raising it needs a stated cause.
_FULL_REFRESH_JOB_BUDGET = 3


def test_full_refresh_job_budget(spark, tmp_path):
    base = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(i, f"{base} tail{i // 3}") for i in range(12)], "doc_id long, text string"
    )
    store = str(tmp_path / "budget")
    build_pair_graph(spark, docs, store)
    before = {r["seq"] for r in records()}
    assert refresh_clusters(spark, store, mode="full") == "full"
    recs = [r for r in records() if r["seq"] not in before]
    assert {(r["op"], r["store"]) for r in recs} == {("pairstore.refresh", store)}
    jobs = [j for r in recs for j in r["jobs"]]
    assert 0 < len(jobs) <= _FULL_REFRESH_JOB_BUDGET, recs
    assert set(_cluster_rows(read_cluster_assignment(spark, store))) == {
        (i, 0) for i in range(12)
    }
