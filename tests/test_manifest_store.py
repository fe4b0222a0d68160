"""Manifest-layout signature stores (r10 verdict task 4): versioned
data dirs + one atomic ``_CURRENT`` publish replace the two-rename
directory swap, which is what makes a store legal on filesystems
WITHOUT atomic directory rename (object stores). The parity matrix
gains that backend mode here: a LocalStoreFS wrapper that REFUSES
rename/replace_file (every object-store-illegal op raises, so a green
test proves the manifest paths never attempt one) and publishes text
by direct overwrite (the atomic-PUT analog).

Spark's own parquet committer still does its _temporary dance on the
local filesystem underneath — that is Spark's committer seam (cloud
deployments configure a cloud committer), not the store-maintenance
seam these tests pin.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from file_appender_spark import storefs
from file_appender_spark.operators.neardup_ingest import (
    _INDEX_DIR,
    _band_index_state,
    compact_store,
    create_manifest_store,
    migrate_store_to_manifest,
    textdup_ingest_batch,
)
from file_appender_spark.storefs import (
    MANIFEST_CURRENT_FILE as _CURRENT_FILE,
    LocalStoreFS,
    manifest_version as _manifest_version,
    table_dir,
)


class NoDirRenameFS(LocalStoreFS):
    """The no-atomic-dir-rename backend mode: object-store semantics
    on local disk. rename/replace_file raise (proving the code under
    test never calls them); publish_text is a direct overwrite — the
    single-PUT atomicity object stores actually provide."""

    supports_atomic_dir_rename = False

    def rename(self, src: str, dst: str) -> None:  # pragma: no cover
        raise AssertionError(f"rename attempted on object-store fs: {src}")

    def replace_file(self, src: str, dst: str) -> None:  # pragma: no cover
        raise AssertionError(
            f"replace_file (rename) attempted on object-store fs: {dst}"
        )

    def publish_text(self, path: str, text: str) -> None:
        with open(path, "w") as f:
            f.write(text)


@pytest.fixture
def object_fs(monkeypatch):
    fs = NoDirRenameFS()
    monkeypatch.setitem(storefs._FS_CACHE, "posix", fs)
    yield fs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus(spark, n=30, tag="mani"):
    rows = [
        (i, " ".join(f"{tag}{i}w{j}" for j in range(10))) for i in range(n)
    ]
    # exact-text twins at i % 10 == 1: estimated Jaccard is exactly
    # 1.0, so suppression counts are deterministic (a near-twin's
    # 16-slot estimate is noisy around any threshold)
    rows = [
        (i, rows[i - 1][1]) if i % 10 == 1 else (i, t) for i, t in rows
    ]
    return _docs(spark, rows)


def test_manifest_lifecycle_on_no_dir_rename_backend(
    spark, tmp_path, object_fs
):
    """The full lifecycle — auto-created manifest layout, two epochs,
    compaction (v2 + sidecar + atomic flip), post-compaction epoch
    through the resolved dir, at-least-once replay — with every
    directory-rename-dependent op FORBIDDEN by the backend."""
    store = str(tmp_path / "obj_store")
    docs = _corpus(spark, 30)
    a1 = textdup_ingest_batch(spark, docs.filter("doc_id < 20"), store)
    # the layout was auto-created: manifest + v1 data dir
    assert _manifest_version(store) == "v1"
    assert os.path.isfile(os.path.join(store, _CURRENT_FILE))
    assert any(
        f.endswith(".parquet") for f in os.listdir(os.path.join(store, "v1"))
    )
    n1 = a1.count()
    assert n1 == 18  # exact twins 1 and 11 suppressed
    # second epoch: its own exact twin (21 of 20) suppressed vs batch
    a2 = textdup_ingest_batch(spark, docs.filter("doc_id >= 20"), store)
    assert a2.count() == 9
    # compaction: next version dir + ONE atomic publish, old dir gone
    n_files = compact_store(spark, store, id_col="doc_id", index_buckets=64)
    assert n_files >= 1
    assert _manifest_version(store) == "v2"
    assert not os.path.exists(os.path.join(store, "v1"))
    state = _band_index_state(table_dir(store, ""))
    assert state is not None and state["version"] == 2
    # post-compaction epoch resolves the new version; a replay of
    # previously-ADMITTED ids re-emits them all (at-least-once; doc 1
    # was never admitted — it is doc 0's exact twin)
    replay = textdup_ingest_batch(
        spark, docs.filter("doc_id IN (0, 2, 3, 4)"), store
    )
    assert replay.count() == 4


def test_manifest_compaction_cleans_crash_debris(spark, tmp_path, object_fs):
    """Crash simulation both directions: a stale NEXT-version dir
    (crash before the flip) and a stale OLD-version dir (crash after
    the flip, before the delete) are both cleaned by the next
    compaction; the manifest always names a complete version."""
    store = str(tmp_path / "obj_crash")
    textdup_ingest_batch(spark, _corpus(spark, 20), store)
    # crash-before-flip debris: a half-written v2
    os.makedirs(os.path.join(store, "v2"))
    open(os.path.join(store, "v2", "part-half.parquet"), "w").close()
    assert _manifest_version(store) == "v1"
    compact_store(spark, store, id_col="doc_id", index_buckets=64)
    assert _manifest_version(store) == "v2"
    assert not os.path.exists(os.path.join(store, "v1"))
    # crash-after-flip debris: recreate a stale old dir, then compact
    os.makedirs(os.path.join(store, "v1"))
    open(os.path.join(store, "v1", "part-stale.parquet"), "w").close()
    compact_store(spark, store, id_col="doc_id", index_buckets=64)
    assert _manifest_version(store) == "v3"
    assert not os.path.exists(os.path.join(store, "v1"))
    assert not os.path.exists(os.path.join(store, "v2"))
    # the store still serves: a fresh epoch dedups against history
    dup = _docs(spark, [(900, _corpus(spark, 20).collect()[0]["text"])])
    assert textdup_ingest_batch(spark, dup, store).count() == 0


def test_classic_store_refused_on_no_dir_rename_backend(
    spark, tmp_path, object_fs
):
    """A pre-existing CLASSIC store on an object filesystem is refused
    loudly at open (its compaction could never run there), and classic
    compact_store refuses through require_atomic_dir_rename."""
    store = str(tmp_path / "classic_on_obj")
    os.makedirs(store)
    _corpus(spark, 5).write.mode("overwrite").parquet(store)
    with pytest.raises(ValueError, match="classic-layout store"):
        textdup_ingest_batch(spark, _corpus(spark, 3), store)
    with pytest.raises(ValueError, match="atomic directory rename"):
        compact_store(spark, store, id_col="doc_id")


def test_classic_pairstore_refused_on_no_dir_rename_backend(
    spark, tmp_path, monkeypatch
):
    """A pre-existing CLASSIC pair store on an object filesystem is
    refused loudly at every entry point (its .old-restore recovery
    could never run there); fresh stores auto-create the manifest
    layout instead — see test_pairstore_manifest_lifecycle."""
    from file_appender_spark.operators.pairstore import (
        build_pair_graph,
        compact_pairstore,
        read_pairs,
    )

    store = str(tmp_path / "ps_classic_obj")
    build_pair_graph(spark, _corpus(spark, 10), store)  # classic, POSIX
    monkeypatch.setitem(storefs._FS_CACHE, "posix", NoDirRenameFS())
    with pytest.raises(ValueError, match="atomic directory rename"):
        compact_pairstore(spark, store)
    with pytest.raises(ValueError, match="atomic directory rename"):
        read_pairs(spark, store)


def test_manifest_layout_is_fs_agnostic_and_decision_identical(
    spark, tmp_path
):
    """The layouts must make IDENTICAL admit decisions: the same three
    epochs against a classic store and an explicitly-created manifest
    store (manifest works on POSIX too — the layout choice is
    creation-time, not scheme-bound), with a compaction wedged into
    the manifest run."""
    docs = _corpus(spark, 40, tag="agno")
    classic = str(tmp_path / "classic")
    mani = str(tmp_path / "manifest")
    create_manifest_store(mani)
    got = {}
    for store in (classic, mani):
        parts = []
        for lo, hi in ((0, 15), (15, 30), (30, 40)):
            ep = docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            parts += [
                r["doc_id"]
                for r in textdup_ingest_batch(spark, ep, store).collect()
            ]
            if store == mani and hi == 15:
                compact_store(spark, store, id_col="doc_id", index_buckets=64)
        got[store] = sorted(parts)
    assert got[classic] == got[mani]


def test_migrate_classic_store_to_manifest(spark, tmp_path):
    """In-place migration (POSIX): history survives, decisions are
    unchanged, and subsequent compactions run the manifest protocol."""
    store = str(tmp_path / "migrate")
    docs = _corpus(spark, 30, tag="migr")
    textdup_ingest_batch(spark, docs.filter("doc_id < 20"), store)
    live = migrate_store_to_manifest(store)
    assert _manifest_version(store) == "v1" and live.endswith("v1")
    # idempotent
    assert migrate_store_to_manifest(store) == live
    # post-migration epoch still dedups against the migrated history
    dup_text = docs.filter("doc_id = 0").collect()[0]["text"]
    ep = _docs(spark, [(800, dup_text), (801, "totally fresh words q z k")])
    got = sorted(
        r["doc_id"] for r in textdup_ingest_batch(spark, ep, store).collect()
    )
    assert got == [801]
    compact_store(spark, store, id_col="doc_id", index_buckets=64)
    assert _manifest_version(store) == "v2"


# --------------------------------------------------------------------------
# r11: per-TABLE manifests for the pair / corpus-stats stores (the two
# r10 deferrals). Each table (sigs/pairs/clusters; token/source/bigram
# stats) carries its own _CURRENT and flips with one atomic publish —
# the same crash-safety granularity the classic per-table two-rename
# swap had, minus the rename requirement.
# --------------------------------------------------------------------------


def _sorted_pairs(spark, store):
    from file_appender_spark.operators.pairstore import read_pairs

    return sorted(
        (min(r["d1"], r["d2"]), max(r["d1"], r["d2"]))
        for r in read_pairs(spark, store).collect()
    )


def _cluster_groups(spark, store):
    """Cluster CONTENTS (canonical member tuples), not raw labels —
    labels are representative-based and path-dependent; the contract
    is the grouping."""
    from collections import defaultdict

    from file_appender_spark.operators.pairstore import (
        read_cluster_assignment,
    )

    groups = defaultdict(set)
    for r in read_cluster_assignment(spark, store).collect():
        groups[r["cluster"]].add(r["doc"])
    # canonical tuples, not frozensets: sorted() over sets compares by
    # SUBSET (a partial order) and gives an unstable result
    return sorted(tuple(sorted(g)) for g in groups.values())


def test_pairstore_manifest_lifecycle_on_no_dir_rename_backend(
    spark, tmp_path, object_fs
):
    """Full pair-store lifecycle on the object backend: auto-created
    per-table manifests, build, ingest epoch, INCREMENTAL cluster
    refresh, compaction (sigs/pairs flip to v2), reads — with every
    rename-dependent op forbidden by the backend."""
    from file_appender_spark.operators.pairstore import (
        build_pair_graph,
        compact_pairstore,
        pairstore_ingest_batch,
        refresh_clusters,
    )

    store = str(tmp_path / "ps_obj")
    docs = _corpus(spark, 30)
    build_pair_graph(spark, docs, store)
    for t in ("sigs", "pairs", "clusters"):
        assert os.path.isfile(os.path.join(store, t, _CURRENT_FILE))
    # exact twins at i % 10 == 1; everything else is word-disjoint
    assert _sorted_pairs(spark, store) == [(0, 1), (10, 11), (20, 21)]
    base_groups = _cluster_groups(spark, store)
    assert base_groups == [(0, 1), (10, 11), (20, 21)]
    # ingest epoch: a twin of doc 0's text joins that family
    t0 = docs.filter("doc_id = 0").collect()[0]["text"]
    ep = _docs(spark, [(100, t0), (101, "entirely fresh words here now")])
    pairstore_ingest_batch(spark, ep, store, 1)
    assert refresh_clusters(spark, store) == "incremental"
    assert (0, 1, 100) in _cluster_groups(spark, store)
    compact_pairstore(spark, store)
    for t in ("sigs", "pairs"):
        cur = open(os.path.join(store, t, _CURRENT_FILE)).read().strip()
        assert cur == "v2"
        assert not os.path.exists(os.path.join(store, t, "v1"))
    assert _sorted_pairs(spark, store) == [
        (0, 1),
        (0, 100),
        (1, 100),
        (10, 11),
        (20, 21),
    ]
    assert (0, 1, 100) in _cluster_groups(spark, store)


def test_pairstore_manifest_parity_with_classic(spark, tmp_path):
    """The layouts must serve IDENTICAL pair sets and cluster
    groupings for the same build + epoch sequence (manifest works on
    POSIX too — the layout choice is creation-time), with a
    compaction wedged into the manifest run."""
    from file_appender_spark.operators.pairstore import (
        build_pair_graph,
        compact_pairstore,
        create_manifest_pairstore,
        pairstore_ingest_batch,
        refresh_clusters,
    )

    docs = _corpus(spark, 40, tag="pp")
    got = {}
    for layout in ("classic", "manifest"):
        store = str(tmp_path / layout)
        if layout == "manifest":
            create_manifest_pairstore(store)
        build_pair_graph(spark, docs.filter("doc_id < 25"), store)
        pairstore_ingest_batch(
            spark, docs.filter("doc_id >= 25"), store, 1
        )
        if layout == "manifest":
            compact_pairstore(spark, store)
        refresh_clusters(spark, store)
        got[layout] = (
            _sorted_pairs(spark, store),
            _cluster_groups(spark, store),
        )
    assert got["classic"] == got["manifest"]


def test_migrate_pairstore_to_manifest(spark, tmp_path):
    """In-place migration (POSIX): history survives byte-identically,
    idempotent re-run, and the next compaction runs the manifest
    protocol."""
    from file_appender_spark.operators.pairstore import (
        build_pair_graph,
        compact_pairstore,
        migrate_pairstore_to_manifest,
        pairstore_ingest_batch,
        refresh_clusters,
    )

    store = str(tmp_path / "ps_migrate")
    docs = _corpus(spark, 30, tag="pm")
    build_pair_graph(spark, docs.filter("doc_id < 20"), store)
    pairstore_ingest_batch(spark, docs.filter("doc_id >= 20"), store, 1)
    refresh_clusters(spark, store)
    before = (_sorted_pairs(spark, store), _cluster_groups(spark, store))
    assert migrate_pairstore_to_manifest(store) == store
    assert migrate_pairstore_to_manifest(store) == store  # idempotent
    for t in ("sigs", "pairs", "clusters"):
        cur = open(os.path.join(store, t, _CURRENT_FILE)).read().strip()
        assert cur == "v1"
    assert (_sorted_pairs(spark, store), _cluster_groups(spark, store)) == before
    compact_pairstore(spark, store)
    assert (
        open(os.path.join(store, "pairs", _CURRENT_FILE)).read().strip()
        == "v2"
    )
    assert (_sorted_pairs(spark, store), _cluster_groups(spark, store)) == before


def test_pairstore_migration_resumes_after_crash(
    spark, tmp_path, monkeypatch
):
    """A crash mid-migration leaves the marker; every entry point
    refuses until a re-run finishes the remaining tables."""
    from file_appender_spark.operators.pairstore import (
        migrate_pairstore_to_manifest,
        build_pair_graph,
        read_pairs,
    )

    store = str(tmp_path / "ps_crash")
    build_pair_graph(spark, _corpus(spark, 12, tag="pc"), store)
    want = _sorted_pairs(spark, store)

    real = LocalStoreFS.publish_text
    calls = {"n": 0}

    def flaky(self, path, text):
        if os.path.basename(path) == _CURRENT_FILE:
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated crash mid-migration")
        real(self, path, text)

    monkeypatch.setattr(LocalStoreFS, "publish_text", flaky)
    with pytest.raises(RuntimeError, match="simulated crash"):
        migrate_pairstore_to_manifest(store)
    with pytest.raises(ValueError, match="unfinished manifest migration"):
        read_pairs(spark, store)
    monkeypatch.setattr(LocalStoreFS, "publish_text", real)
    migrate_pairstore_to_manifest(store)  # resumes: finishes the rest
    for t in ("sigs", "pairs", "clusters"):
        assert os.path.isfile(os.path.join(store, t, _CURRENT_FILE))
    assert _sorted_pairs(spark, store) == want


def _cdocs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )


def test_corpusstats_manifest_lifecycle_on_no_dir_rename_backend(
    spark, tmp_path, object_fs
):
    """Corpus-stats lifecycle on the object backend: auto-created
    per-table manifests, build, ingest epoch, compaction flip, and
    merged reads equal to the from-scratch aggregation."""
    from file_appender_spark.operators.corpusstats import (
        build_corpus_stats,
        compact_corpus_stats,
        corpus_bigram_stats,
        corpus_source_stats,
        corpus_token_stats,
        corpusstats_ingest_batch,
        read_bigram_stats,
        read_source_stats,
        read_token_stats,
    )

    store = str(tmp_path / "cs_obj")
    d1 = _cdocs(
        spark,
        [(1, "a", "x y x"), (2, "a", "y z"), (3, "b", "p q p q")],
    )
    d2 = _cdocs(spark, [(4, "a", "x q"), (5, "b", "q q r")])
    build_corpus_stats(spark, d1, store)
    for t in ("token_stats", "source_stats", "bigram_stats"):
        assert os.path.isfile(os.path.join(store, t, _CURRENT_FILE))
    corpusstats_ingest_batch(spark, d2, store, 1)
    compact_corpus_stats(spark, store)
    for t in ("token_stats", "source_stats", "bigram_stats"):
        cur = open(os.path.join(store, t, _CURRENT_FILE)).read().strip()
        assert cur == "v2"
        assert not os.path.exists(os.path.join(store, t, "v1"))
    full = d1.unionByName(d2)
    for read_fn, batch_fn in (
        (read_token_stats, corpus_token_stats),
        (read_source_stats, corpus_source_stats),
        (read_bigram_stats, corpus_bigram_stats),
    ):
        got = sorted(map(tuple, read_fn(spark, store).collect()))
        want = sorted(map(tuple, batch_fn(full).collect()))
        assert got == want


def test_migrate_corpusstats_to_manifest(spark, tmp_path):
    """In-place migration (POSIX): counts survive, idempotent, and the
    next compaction flips instead of renaming."""
    from file_appender_spark.operators.corpusstats import (
        build_corpus_stats,
        compact_corpus_stats,
        corpusstats_ingest_batch,
        migrate_corpusstats_to_manifest,
        read_token_stats,
    )

    store = str(tmp_path / "cs_migrate")
    build_corpus_stats(
        spark, _cdocs(spark, [(1, "a", "m n m"), (2, "b", "n o")]), store
    )
    corpusstats_ingest_batch(
        spark, _cdocs(spark, [(3, "a", "m o o")]), store, 1
    )
    before = sorted(map(tuple, read_token_stats(spark, store).collect()))
    assert migrate_corpusstats_to_manifest(store) == store
    assert migrate_corpusstats_to_manifest(store) == store  # idempotent
    assert (
        sorted(map(tuple, read_token_stats(spark, store).collect()))
        == before
    )
    compact_corpus_stats(spark, store)
    cur = open(
        os.path.join(store, "token_stats", _CURRENT_FILE)
    ).read().strip()
    assert cur == "v2"
    assert (
        sorted(map(tuple, read_token_stats(spark, store).collect()))
        == before
    )


def test_classic_corpusstats_refused_on_no_dir_rename_backend(
    spark, tmp_path, monkeypatch
):
    """A pre-existing CLASSIC corpus-stats store on an object
    filesystem is refused loudly (its .old recovery could never run
    there); fresh stores auto-create the manifest layout."""
    from file_appender_spark.operators.corpusstats import (
        build_corpus_stats,
        compact_corpus_stats,
        read_token_stats,
    )

    store = str(tmp_path / "cs_classic_obj")
    build_corpus_stats(
        spark, _cdocs(spark, [(1, "a", "u v")]), store
    )  # classic, POSIX
    monkeypatch.setitem(storefs._FS_CACHE, "posix", NoDirRenameFS())
    with pytest.raises(ValueError, match="atomic directory rename"):
        read_token_stats(spark, store)
    with pytest.raises(ValueError, match="atomic directory rename"):
        compact_corpus_stats(spark, store)


def _sig_rows(spark, store):
    """The signature store's live rows, opened through its read entry
    point (crash recovery, migration refusal, params guard)."""
    from file_appender_spark.operators.neardup_ingest import store_hot_buckets

    store_hot_buckets(spark, store, band_bucket_cap=1)
    return spark.read.parquet(table_dir(store, ""))


def _table_store(kind):
    """One store's lifecycle entry points, so the shared lifecycle
    tests run against all three stores: (spec, build(spark, docs,
    store), ingest(spark, docs, store), create(store), migrate(store),
    compact(spark, store), read(spark, store) -> frame, rows the read
    serves for _corpus(spark, 10))."""
    from types import SimpleNamespace

    if kind == "pair":
        from file_appender_spark.operators import pairstore as m

        return SimpleNamespace(
            spec=m._STORE,
            build=m.build_pair_graph,
            ingest=lambda spark, docs, store: m.pairstore_ingest_batch(
                spark, docs, store, 1
            ),
            create=m.create_manifest_pairstore,
            migrate=m.migrate_pairstore_to_manifest,
            compact=m.compact_pairstore,
            read=m.read_pairs,
            n_rows=1,  # the one exact twin pair (0, 1)
        )
    if kind == "signature":
        from file_appender_spark.operators import neardup_ingest as m

        return SimpleNamespace(
            spec=m._STORE,
            build=m.textdup_ingest_batch,
            ingest=m.textdup_ingest_batch,
            create=m.create_manifest_store,
            migrate=m.migrate_store_to_manifest,
            compact=lambda spark, store: m.compact_store(
                spark, store, id_col="doc_id"
            ),
            read=_sig_rows,
            n_rows=9,  # 10 docs, doc 1 is doc 0's exact twin
        )
    from file_appender_spark.operators import corpusstats as m

    def with_source(docs):
        return docs.withColumn("source", F.lit("web"))

    return SimpleNamespace(
        spec=m._STORE,
        build=lambda spark, docs, store: m.build_corpus_stats(
            spark, with_source(docs), store
        ),
        ingest=lambda spark, docs, store: m.corpusstats_ingest_batch(
            spark, with_source(docs), store, 1
        ),
        create=m.create_manifest_corpusstats,
        migrate=m.migrate_corpusstats_to_manifest,
        compact=m.compact_corpus_stats,
        read=m.read_token_stats,
        n_rows=90,  # 9 distinct texts x 10 distinct words, one source
    )


_TABLE_STORES = pytest.mark.parametrize("kind", ["pair", "corpusstats", "signature"])


@_TABLE_STORES
def test_migration_marker_crash_after_last_publish(spark, tmp_path, kind):
    """Review finding: a crash BETWEEN the last table publish and the
    marker removal used to wedge the store forever (the re-run's
    all-published early return skipped the removal). With every
    manifest published the store is fully consistent, so a re-run of
    the migration finishes up, and entry points SELF-HEAL: the marker
    is recognized as completed-migration debris and removed
    (storefs.refuse_mid_migration), no manual re-run needed. A
    genuinely half-moved store is refused by every entry point —
    read, ingest and compaction — until a re-run finishes the move,
    with the history intact."""
    ts = _table_store(kind)
    store = str(tmp_path / "marker")
    marker = os.path.join(store, ts.spec.migrating_marker)
    ts.build(spark, _corpus(spark, 12, tag="mk"), store)
    want = ts.read(spark, store).count()
    live = ts.migrate(store)
    # simulate the crash: every table published, marker back on disk
    open(marker, "w").write("crash")
    assert ts.migrate(store) == live  # the re-run's early return
    assert not os.path.exists(marker)
    open(marker, "w").write("crash")
    assert ts.read(spark, store).count() == want  # self-heals
    assert not os.path.exists(marker)
    # a genuinely half-moved store (some manifest missing) still
    # refuses: recreate the marker and unpublish one table's manifest
    open(marker, "w").write("crash")
    os.remove(os.path.join(store, ts.spec.tables[-1], _CURRENT_FILE))
    for entry in (
        lambda: ts.read(spark, store),
        lambda: ts.ingest(spark, _corpus(spark, 3, tag="x"), store),
        lambda: ts.compact(spark, store),
    ):
        with pytest.raises(ValueError, match="unfinished manifest migration"):
            entry()
    # the re-run republishes the missing manifest and clears the marker
    ts.migrate(store)
    assert not os.path.exists(marker)
    assert ts.read(spark, store).count() == want


@_TABLE_STORES
def test_create_manifest_resumes_and_refuses_debris(
    spark, tmp_path, object_fs, kind
):
    """Review findings on create_manifest_* crash windows: a lone
    EMPTY version dir without _CURRENT (create's own crash debris) is
    finished by a retry, not misread as classic data; a classic .old
    backup refuses loudly instead of being silently orphaned under an
    empty manifest."""
    ts = _table_store(kind)
    first, last = ts.spec.tables[0], ts.spec.tables[-1]
    store = str(tmp_path / "create_resume")
    # crash between makedirs(v1) and the _CURRENT publish
    os.makedirs(os.path.join(store, first, "v1"))
    ts.create(store)  # retry completes the layout
    ts.build(spark, _corpus(spark, 10, tag="cr"), store)
    assert ts.read(spark, store).count() == ts.n_rows
    # a .old sibling is recoverable classic data — never orphan it
    store2 = str(tmp_path / "create_old")
    old = os.path.join(store2, last).rstrip("/") + ".old"
    os.makedirs(old)
    open(os.path.join(old, "part-x.parquet"), "w").close()
    with pytest.raises(ValueError, match="classic crash debris"):
        ts.create(store2)


@_TABLE_STORES
def test_migration_sweeps_classic_debris(spark, tmp_path, kind):
    """Review finding: classic debris siblings (a stale .old backup
    next to a live table, interrupted .compacting/.refreshing swap
    outputs) would never be cleaned again after migration — the
    classic passes that cleaned them stop running. Migration sweeps
    them."""
    ts = _table_store(kind)
    store = str(tmp_path / "debris")
    ts.build(spark, _corpus(spark, 12, tag="db"), store)
    want = ts.read(spark, store).count()
    # stale backups NEXT TO live tables + interrupted swap outputs
    debris = [
        os.path.join(store, t).rstrip("/") + suffix
        for t in ts.spec.tables
        for suffix in ts.spec.classic_debris
    ]
    for d in debris:
        os.makedirs(d)
        open(os.path.join(d, "stale.parquet"), "w").close()
    ts.migrate(store)
    for d in debris:
        assert not os.path.exists(d), d
    assert ts.read(spark, store).count() == want


def test_migration_sweeps_base_level_write_artifacts(spark, tmp_path):
    """r11 ADVICE: a table root written directly by Spark leaves
    _SUCCESS and Hadoop .part-*.crc siblings at the table base, and
    clean_stale_manifest_versions only removes directories — a file
    the migration left at the base would sit there forever. The
    migration moves them into v1 with the data they describe: after
    it each table base holds only version dirs and the manifest
    file."""
    from file_appender_spark.operators.pairstore import (
        build_pair_graph,
        migrate_pairstore_to_manifest,
        read_pairs,
    )
    from file_appender_spark.storefs import MANIFEST_CURRENT_FILE

    store = str(tmp_path / "ps_base_debris")
    build_pair_graph(spark, _corpus(spark, 12, tag="bd"), store)
    want = read_pairs(spark, store).count()
    # Spark/Hadoop write artifacts at two table bases
    open(os.path.join(store, "sigs", "_SUCCESS"), "w").close()
    open(os.path.join(store, "sigs", ".part-00000.crc"), "w").close()
    open(os.path.join(store, "pairs", "_SUCCESS"), "w").close()
    migrate_pairstore_to_manifest(store)
    for t in ("sigs", "pairs", "clusters"):
        base = os.path.join(store, t)
        for name in os.listdir(base):
            p = os.path.join(base, name)
            assert os.path.isdir(p) or name == MANIFEST_CURRENT_FILE, (t, name)
    assert read_pairs(spark, store).count() == want


def test_refuse_mid_migration_self_heal_tolerates_lost_race(tmp_path):
    """r11 ADVICE: two concurrent read-only entry points recovering
    the same post-crash store can both pass the marker exists() check;
    the loser's remove must not raise — the store is fully published
    and the read should succeed."""
    from file_appender_spark.storefs import (
        refuse_mid_migration,
        store_fs_for,
    )

    store = str(tmp_path / "heal")
    tdir = os.path.join(store, "t")
    os.makedirs(os.path.join(tdir, "v1"))
    fs = store_fs_for(store)
    fs.publish_text(os.path.join(tdir, "_CURRENT"), "v1")
    marker = os.path.join(store, "_MIG")
    fs.write_text(marker, "x")

    class RacyFS:
        """Delegates to the real fs but removes the marker between the
        exists() check and the remove() call — the losing reader."""

        def __init__(self, inner):
            self._inner = inner

        def exists(self, path):
            ok = self._inner.exists(path)
            if ok and path == marker:
                os.remove(marker)  # the other reader wins the race
            return ok

        def __getattr__(self, name):
            return getattr(self._inner, name)

    import file_appender_spark.storefs as sfs

    orig = sfs.store_fs_for
    sfs.store_fs_for = lambda p: RacyFS(orig(p))
    try:
        refuse_mid_migration(
            store, "_MIG", "pair", "migrate", manifest_dirs=[tdir]
        )  # must not raise
    finally:
        sfs.store_fs_for = orig
    assert not os.path.exists(marker)


def test_create_manifest_store_refuses_old_debris(tmp_path, object_fs):
    """create_manifest_store must not orphan a classic .old backup
    (possibly the only data copy) under a fresh empty manifest."""
    store = str(tmp_path / "sig_old")
    os.makedirs(store + ".old")
    open(os.path.join(store + ".old", "part-x.parquet"), "w").close()
    with pytest.raises(ValueError, match="classic crash debris"):
        create_manifest_store(store)
