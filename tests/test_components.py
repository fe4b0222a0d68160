"""Connected-components / dedup-cluster tests.

Every component case runs with the driver-path edge bound forced below
0 (the distributed min-label loop) and to infinity (the driver path),
and both sides of the size dispatch must give the same output."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from file_appender_spark.operators import components
from file_appender_spark.operators.components import (
    connected_components,
    dedup_clusters,
)


def _on_both_paths(monkeypatch, fn):
    """[fn() on the distributed loop, fn() on the driver path]. The
    loop's bound is -1, not 0, so that an empty graph takes it too."""
    out = []
    for bound in (-1, math.inf):
        monkeypatch.setattr(components, "_DRIVER_EDGE_BOUND", bound)
        out.append(fn())
    return out


def _labels(edges):
    return {tuple(r) for r in connected_components(edges).collect()}


def test_components_basic_chain_and_islands(spark, monkeypatch):
    # {1-2-3} via chain, {10-11}, {20-21-22} via triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20), (22, 20)}
    assert _on_both_paths(monkeypatch, lambda: _labels(edges)) == [want, want]


def test_components_long_path_needs_iterations(spark, monkeypatch):
    # path 0-1-2-...-9: diameter forces multiple propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    want = {(i, 0) for i in range(10)}
    assert _on_both_paths(monkeypatch, lambda: _labels(edges)) == [want, want]


def test_components_distributed_path_converges_on_chain(spark, monkeypatch):
    # path 0-1-...-199: plain min-label propagation needs ~199 rounds,
    # pointer jumping about log2(199); 25 must be enough on both paths
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "src long, dst long"
    )

    def run():
        labels = connected_components(edges, max_iterations=25).collect()
        return {tuple(r) for r in labels}

    want = {(i, 0) for i in range(200)}
    assert _on_both_paths(monkeypatch, run) == [want, want]


def test_components_deterministic(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(5, 3), (3, 8), (2, 9), (7, 2)], "src long, dst long"
    )

    def twice():
        a = sorted(map(tuple, connected_components(edges).collect()))
        b = sorted(map(tuple, connected_components(edges).collect()))
        assert a == b
        return a

    want = [(2, 2), (3, 3), (5, 3), (7, 2), (8, 3), (9, 2)]
    assert _on_both_paths(monkeypatch, twice) == [want, want]


def test_components_nonconvergence_raises(spark, monkeypatch):
    # max_iterations bounds the distributed rounds only
    monkeypatch.setattr(components, "_DRIVER_EDGE_BOUND", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=2)
    # the failed loop left its symmetric edge frame uncached
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_components_failed_round_leaves_nothing_cached(spark, monkeypatch):
    from pyspark.sql import Observation

    class FailingRound(Observation):
        @property
        def get(self):
            raise RuntimeError("round job failed")

    monkeypatch.setattr(components, "_DRIVER_EDGE_BOUND", 0)
    monkeypatch.setattr(components, "Observation", FailingRound)
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="round job failed"):
        connected_components(edges)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_components_string_ids(spark, monkeypatch):
    edges = spark.createDataFrame(
        [("b", "c"), ("x", "a"), ("c", "d"), ("é", "z")], "src string, dst string"
    )

    def run():
        out = connected_components(edges)
        assert out.schema["node"].dataType.simpleString() == "string"
        return _labels(edges)

    want = {
        ("a", "a"), ("x", "a"), ("b", "b"), ("c", "b"), ("d", "b"),
        ("z", "z"), ("é", "z"),
    }
    assert _on_both_paths(monkeypatch, run) == [want, want]


def test_components_null_endpoint(spark, monkeypatch):
    """A NULL endpoint connects nothing: the NULL is one node labelled
    NULL and the other endpoint is still a node."""
    edges = spark.createDataFrame(
        [(1, 2), (3, None), (None, 2), (None, None)], "src long, dst long"
    )
    want = {(1, 1), (2, 1), (3, 3), (None, None)}
    assert _on_both_paths(monkeypatch, lambda: _labels(edges)) == [want, want]


def test_components_empty_edges_keep_schema(spark, monkeypatch, tmp_path):
    """An empty graph gives an empty, typed frame that still writes a
    footer-bearing file (an empty cluster refresh reads back)."""
    edges = spark.createDataFrame([], "d1 long, d2 long")

    def run():
        out = dedup_clusters(edges)
        path = str(tmp_path / f"empty{components._DRIVER_EDGE_BOUND}")
        out.repartition(1).write.parquet(path)
        back = spark.read.parquet(path)
        assert back.count() == 0
        return [(f.name, f.dataType.simpleString()) for f in back.schema]

    want = [("doc", "bigint"), ("cluster", "bigint"), ("keep", "boolean")]
    assert _on_both_paths(monkeypatch, run) == [want, want]


def test_components_random_graph_paths_agree(spark, monkeypatch):
    """A seeded ~100k-edge random graph: the driver path's labels equal
    the distributed loop's, compared with exceptAll both ways."""
    n_nodes = 1_000_000
    edges = (
        spark.range(100_000)
        .select(
            (F.rand(11) * n_nodes).cast("long").alias("src"),
            (F.rand(12) * n_nodes).cast("long").alias("dst"),
        )
        .localCheckpoint(eager=True)
    )
    distributed, driver = _on_both_paths(
        monkeypatch, lambda: connected_components(edges).localCheckpoint(eager=True)
    )
    assert driver.count() > 100_000
    assert driver.exceptAll(distributed).count() == 0
    assert distributed.exceptAll(driver).count() == 0


def test_dedup_clusters_from_jaccard_pairs(spark, sf_dir, monkeypatch):
    """End-to-end: near-dup pairs from the q51 inverted-index jaccard
    -> transitive clusters -> one kept representative per cluster."""
    from file_appender_spark.queries import QUERIES

    pairs = QUERIES["q51_jaccard_pairs"].spark_fn(spark, sf_dir)
    if pairs.count() == 0:  # tiny SF may have no pairs >= threshold
        return
    distributed, driver = _on_both_paths(
        monkeypatch, lambda: sorted(map(tuple, dedup_clusters(pairs).collect()))
    )
    assert distributed == driver
    by_cluster = {}
    for doc, cluster, keep in driver:
        by_cluster.setdefault(cluster, []).append((doc, keep))
    for cluster, members in by_cluster.items():
        keeps = [doc for doc, keep in members if keep]
        assert keeps == [min(doc for doc, _ in members)] == [cluster]
