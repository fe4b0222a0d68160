"""Degree-bounded triangle enumeration (operators/graph.py) — the
q183/q213 scale twin. Pins:

- exact-parity vs the oracle two-join spelling on random graphs and
  on the real sf0.001 q52 near-dup graph (uncapped AND capped-above-
  max-out-degree must be bit-identical);
- the cap semantics: bounded wedges, subset (lower-bound) triangles,
  capped_vertices reporting, determinism across runs;
- the end-to-end near-clique regime the cap exists for: a family of
  DISTINCT near-duplicate texts (survives exact dedup) through the
  real MinHash-LSH pair generator, then capped enumeration.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_appender_spark.operators.graph import (
    capped_vertices,
    clustering_coefficients,
    degrees,
    graph_params_for,
    oriented_edges,
    triangle_count,
    triangle_triples,
    wedge_count,
)


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "d1 long, d2 long"
    )


def _random_graph(n, p_mod, salt):
    """Deterministic pseudo-random graph: edge (i, j) present iff a
    multiplicative hash lands under p_mod (no RNG in tests)."""
    pairs = []
    for i in range(n):
        for j in range(i + 1, n):
            h = (i * 2654435761 + j * 40503 + salt) % 1000
            if h < p_mod:
                pairs.append((i, j))
    return pairs


def _oracle_triangles(spark, e):
    """The q183/q213 two-join spelling, verbatim."""
    ab = e.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    bc = e.select(F.col("d1").alias("b"), F.col("d2").alias("c"))
    ac = e.select(F.col("d1").alias("a2"), F.col("d2").alias("c2"))
    return (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .select("a", "b", "c")
    )


def _triples(df):
    return sorted((r["a"], r["b"], r["c"]) for r in df.collect())


# ---------------------------------------------------------------------------
# parity vs the oracle spelling
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("salt", [1, 7, 23])
def test_uncapped_matches_oracle_on_random_graphs(spark, salt):
    e = _edges_df(spark, _random_graph(40, 180, salt))
    got = _triples(triangle_triples(e))
    want = _triples(_oracle_triangles(spark, e))
    assert got == want and len(want) > 0


def test_cap_above_max_outdegree_is_exact(spark):
    e = _edges_df(spark, _random_graph(40, 180, 5))
    exact = _triples(triangle_triples(e))
    # the orientation bounds out-degree by sqrt(2m); any cap at or
    # above the true max out-degree must be bit-identical to exact
    max_out = (
        oriented_edges(e).groupBy("src").count().agg(F.max("count")).collect()
    )[0][0]
    assert _triples(triangle_triples(e, max_degree=int(max_out))) == exact
    assert capped_vertices(e, int(max_out)).count() == 0


def test_uncapped_matches_q183_on_real_neardup_graph(spark, sf_dir):
    from file_appender_spark.queries.llm import q52_minhash_lsh
    from file_appender_spark.queries.tranche5 import q183_neardup_triangles

    e = q52_minhash_lsh(spark, sf_dir).select("d1", "d2")
    got = triangle_count(e).collect()[0]
    want = q183_neardup_triangles(spark, sf_dir).collect()[0]
    assert got["n_triangles"] == want["n_triangles"]
    assert got["n_apex_docs"] == want["n_apex_docs"]


def test_clustering_coefficients_match_q213_on_real_graph(spark, sf_dir):
    from file_appender_spark.queries.llm import q52_minhash_lsh
    from file_appender_spark.queries.tranche8 import q213_clustering_coefficient

    e = q52_minhash_lsh(spark, sf_dir).select("d1", "d2")
    got = {
        r["doc_id"]: (r["degree"], r["triangles"], r["coeff"])
        for r in clustering_coefficients(e).collect()
    }
    want = {
        r["doc_id"]: (r["degree"], r["triangles"], r["coeff"])
        for r in q213_clustering_coefficient(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


# ---------------------------------------------------------------------------
# cap semantics
# ---------------------------------------------------------------------------


def _clique(n, base=0):
    return [(base + i, base + j) for i in range(n) for j in range(i + 1, n)]


def test_capped_is_bounded_subset_and_reports(spark):
    # a 30-clique (435 edges, 4060 triangles) + a sparse organic tail
    pairs = _clique(30) + [(100 + i, 101 + i) for i in range(20)]
    e = _edges_df(spark, pairs)
    cap = 5
    tri_capped = _triples(triangle_triples(e, max_degree=cap))
    tri_exact = set(_triples(triangle_triples(e)))
    assert set(tri_capped) <= tri_exact
    assert 0 < len(tri_capped) < len(tri_exact)
    # wedge work respects the linear bound m*(cap-1)/2
    m = 435 + 20
    assert wedge_count(e, max_degree=cap) <= m * (cap - 1) / 2
    # every truncated vertex is reported, and only clique members can be
    capped = {r["v"]: r["out_degree"] for r in capped_vertices(e, cap).collect()}
    assert capped and all(v < 30 for v in capped)
    assert all(out > cap for out in capped.values())


def test_capped_enumeration_is_deterministic(spark):
    e = _edges_df(spark, _clique(25))
    a = _triples(triangle_triples(e, max_degree=4))
    b = _triples(triangle_triples(e, max_degree=4))
    assert a == b


def test_degrees_are_true_degrees_under_cap(spark):
    e = _edges_df(spark, _clique(12))
    cc = clustering_coefficients(e, max_degree=3).collect()
    assert all(r["degree"] == 11 for r in cc)  # cap never touches degrees
    assert all(r["coeff"] <= 1.0 for r in cc)


def test_canonicalization_tolerates_dirty_edges(spark):
    # reversed duplicates and self-loops must not change the answer
    clean = _edges_df(spark, [(1, 2), (1, 3), (2, 3)])
    dirty = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 1), (2, 3), (2, 3), (4, 4)], "d1 long, d2 long"
    )
    assert _triples(triangle_triples(dirty)) == _triples(triangle_triples(clean))


def test_graph_params_policy():
    p = graph_params_for(1_000_000)
    assert p.max_degree == 129 and p.wedge_bound_per_edge == 64.0
    # the cap binds only past the orientation's own sqrt(2m) bound
    assert p.exact_below_edges == 129 * 129 // 2
    with pytest.raises(ValueError):
        graph_params_for(0)
    with pytest.raises(ValueError):
        graph_params_for(10, target_wedges_per_edge=0.1)


def test_invalid_cap_rejected(spark):
    e = _edges_df(spark, [(1, 2)])
    with pytest.raises(ValueError):
        triangle_triples(e, max_degree=0)
    with pytest.raises(ValueError):
        capped_vertices(e, 0)


# ---------------------------------------------------------------------------
# the target regime: a near-clique of DISTINCT texts through real LSH
# ---------------------------------------------------------------------------


def test_neardup_family_survives_exact_dedup_and_is_capped(spark):
    """The adjudication hole the cap closes: boilerplate template
    families are near-cliques of DISTINCT documents, so exact-dedup-
    first does NOT remove them. 60 docs sharing a 60-word template
    with 2 unique tokens each -> all distinct texts -> the real
    MinHash-LSH pair generator yields a near-clique -> the capped
    enumeration bounds wedges while reporting every hot vertex."""
    from file_appender_spark.queries.llm import _minhash_lsh

    base = " ".join(f"tmpl{w}" for w in range(60))
    rows = [(i, f"{base} unique{i}a unique{i}b") for i in range(60)]
    rows += [(1000 + i, f"organic text number {i} with words {i * 7}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # distinct texts: exact dedup keeps all of them
    assert docs.select("text").distinct().count() == docs.count()
    persisted: list = []
    e = (
        _minhash_lsh(docs, persisted=persisted)
        .filter(F.col("jac") >= 0.2)
        .select("d1", "d2")
    )
    m = e.count()
    assert m > 1000  # the family really is a near-clique
    cap = 5
    assert wedge_count(e, max_degree=cap) <= m * (cap - 1) / 2
    reported = capped_vertices(e, cap)
    assert reported.count() > 0
    tri = triangle_count(e, max_degree=cap).collect()[0]
    assert 0 < tri["n_triangles"]
    for p in persisted:
        p.unpersist()


# ---------------------------------------------------------------------------
# plan shape: the enumeration must stay equi-join-only
# ---------------------------------------------------------------------------


def test_triangle_plan_is_equi_join_only(spark):
    """The wedge self-join and the closing join are both equi-joins
    (src; (_u,_v)=(d1,d2)) — a regression to CartesianProduct or a
    nested loop would be vertex-quadratic at 100 TB. The cap's window
    is hash-partitioned by src (one linear exchange), never global."""
    e = _edges_df(spark, _random_graph(30, 200, 3))
    plan = (
        triangle_triples(e, max_degree=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_ops_survive_empty_edge_frame(spark):
    e = spark.createDataFrame([], "d1 long, d2 long")
    assert triangle_triples(e).count() == 0
    assert triangle_triples(e, max_degree=4).count() == 0
    assert capped_vertices(e, 4).count() == 0
    assert degrees(e).count() == 0
    assert wedge_count(e) == 0
    row = triangle_count(e).collect()[0]
    assert row["n_triangles"] == 0 and row["n_apex_docs"] == 0


def test_wedge_count_rejects_invalid_cap(spark):
    e = _edges_df(spark, [(1, 2)])
    with pytest.raises(ValueError):
        wedge_count(e, max_degree=0)


def test_q183_max_degree_kwarg_matches_default(spark, sf_dir):
    """r7 verdict task 6: the capped twin is a KWARG on the query, not
    just a documented re-spelling. 'auto' and a generous int cap must
    reproduce the oracle spelling exactly on the sf0.001 graph (the
    auto cap, 129, sits above this graph's max out-degree); a string
    that is not 'auto' refuses."""
    from file_appender_spark.queries.tranche5 import q183_neardup_triangles

    want = q183_neardup_triangles(spark, sf_dir).collect()[0]
    got_auto = q183_neardup_triangles(spark, sf_dir, max_degree="auto").collect()[0]
    got_int = q183_neardup_triangles(spark, sf_dir, max_degree=10_000).collect()[0]
    assert tuple(got_auto) == tuple(want)
    assert tuple(got_int) == tuple(want)
    assert list(got_auto.asDict()) == ["n_triangles", "n_apex_docs"]
    with pytest.raises(ValueError, match="max_degree"):
        q183_neardup_triangles(spark, sf_dir, max_degree="nope")


def test_q213_max_degree_kwarg_matches_default(spark, sf_dir):
    from file_appender_spark.queries.tranche8 import q213_clustering_coefficient

    want = sorted(
        tuple(r) for r in q213_clustering_coefficient(spark, sf_dir).collect()
    )
    got = sorted(
        tuple(r)
        for r in q213_clustering_coefficient(
            spark, sf_dir, max_degree="auto"
        ).collect()
    )
    assert got == want
    with pytest.raises(ValueError, match="max_degree"):
        q213_clustering_coefficient(spark, sf_dir, max_degree="nope")
