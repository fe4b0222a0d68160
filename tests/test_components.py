"""Connected-components / dedup-cluster tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from file_appender_spark.operators.components import (
    connected_components,
    dedup_clusters,
)


def test_components_basic_chain_and_islands(spark):
    # {1-2-3} via chain, {10-11}, {20-21-22} via triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_components_long_path_needs_iterations(spark):
    # path 0-1-2-...-9: diameter forces multiple propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(out.values()) == {0}
    assert len(out) == 10


def test_components_deterministic(spark):
    edges = spark.createDataFrame(
        [(5, 3), (3, 8), (2, 9), (7, 2)], "src long, dst long"
    )
    a = sorted(map(tuple, connected_components(edges).collect()))
    b = sorted(map(tuple, connected_components(edges).collect()))
    assert a == b


def test_components_nonconvergence_raises(spark):
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=2)


def test_dedup_clusters_from_jaccard_pairs(spark, sf_dir):
    """End-to-end: near-dup pairs from the q51 inverted-index jaccard
    -> transitive clusters -> one kept representative per cluster."""
    from file_appender_spark.queries import QUERIES

    pairs = QUERIES["q51_jaccard_pairs"].spark_fn(spark, sf_dir)
    if pairs.count() == 0:  # tiny SF may have no pairs >= threshold
        return
    clusters = dedup_clusters(pairs)
    rows = clusters.collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for cluster, members in by_cluster.items():
        keeps = [m for m in members if m["keep"]]
        assert len(keeps) == 1
        assert keeps[0]["doc"] == min(m["doc"] for m in members) == cluster
