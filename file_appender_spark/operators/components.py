"""Connected components over an edge list — the transitive-closure
step of large-scale dedup: MinHash/LSH emits near-dup PAIRS (q51/q52);
collapsing them into dedup CLUSTERS requires the components of the
pair graph (a is-dup-of b, b is-dup-of c => {a,b,c} is one group).

Labels: every node's component is the MIN node id of its component,
so the output is deterministic and independent of the path taken.

Size dispatch. A graph with at most ``_DRIVER_EDGE_BOUND`` edges runs
on the driver: ONE Arrow collect of the edges, ``np.unique`` +
``np.searchsorted`` to map ids to dense indices (sorted, so the min
index is the min id), min-label propagation with ``np.minimum.at``
over both edge directions plus pointer jumping (``lab = lab[lab]``)
to a fixpoint, and ONE
``createDataFrame`` of the (node, component) Arrow table in the id's
own Arrow type. A near-dup pair graph is pair-count sized (a few
hundred edges per thousand documents), and the distributed loop below
spends a join, an aggregation and an eager checkpoint — several Spark
jobs — per round on it; the driver path spends one job in all.

The edge count must not cost a job where a caller already knows it:
the pair store passes its parquet-footer row count (full refresh) or
an ``observe`` count taken on a frame it checkpoints anyway
(incremental fold) to ``_clusters``. Callers with no count (the
public ``connected_components`` / ``dedup_clusters``) pay one count
of the persisted symmetric edge frame, which the distributed path
then reuses.

Bound sizing: the driver path peaks at about 70 B per edge in the
Python driver (the collected Arrow columns, their concatenation,
``np.unique``'s sorted copy, the two ``searchsorted`` index vectors,
the label vectors). The bound of 1,000,000 edges keeps that near
70 MB — twice that on the count-here path, which collects the
symmetric frame — and the collect far below
``spark.driver.maxResultSize``'s 1 GB default. The probe's figures
are in SCALING.md.

Above the bound: iterative min-label propagation (each node takes the
min label in its closed neighborhood until fixpoint) — a pure
DataFrame formulation of the map-reduce CC used in production dedup
pipelines (cf. the alternating small-star/large-star optimization of
Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
2014). Plain propagation needs O(diameter) rounds, so a long chain
exhausts ``max_iterations``; each round therefore also takes one
pointer-jumping step (``component := component[component]``, a
self-join of the round's labels), which brings a path down to
O(log diameter) rounds. Dedup clusters (tiny diameters) take 2-3.

Scale notes: each round is one join + one aggregation on the node
key. Labels are localCheckpoint(eager)'d every round — persist alone
is NOT enough for iterative algorithms: it caches data but keeps the
logical plan, and the optimizer re-analyzes a plan that grows
exponentially with self-referencing joins per round (observed: OOM on
a 10-node path). Checkpointing truncates the lineage so round N plans
against round N-1's materialized result only.

Convergence detection rides the SAME action (r13, guide §1.2/"don't
compute things you throw away"): labels only ever DECREASE, so
"changed" is exactly "new component < old component", an aggregate
over columns already present in the round's join — collected via
``Dataset.observe`` during the checkpoint materialization. The r12
spelling paid a second action per round (a full new-vs-old JOIN plus
a count job) for the same number; at near-dup cluster shapes (2-4
rounds of fixed overhead over small frames) that was ~half the CC
wall (PCBREAK_r13: dedup_clusters 2.15s over ~2.5k pairs before the
fusion). Labels are value-identical: the observation changes no row.

NULL endpoints: a NULL never equals anything, so an edge with a NULL
endpoint connects nothing; the NULL itself is one node labelled NULL
and the other endpoint still appears as a node. Both paths give
exactly this.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# at or below this many edges, components run on the driver (module
# docstring: ~70 B per edge at peak; SCALING.md has the probe)
_DRIVER_EDGE_BOUND = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Return (node, component) where component = min node id of the
    node's connected component. Nodes are whatever appears in the
    edge list; isolated nodes (no edges) are the caller's concern.
    ``max_iterations`` bounds the distributed rounds only; the driver
    path always runs to its fixpoint."""
    return _components(edges, src, dst, max_iterations, None)


def _components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iterations: int,
    n_edges: int | None,
) -> DataFrame:
    """The size dispatch. ``n_edges`` is an upper bound on the edge
    rows a caller already knows without a job (None: count here)."""
    if n_edges is not None and n_edges <= _DRIVER_EDGE_BOUND:
        return _driver_components(edges, src, dst)
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # the symmetric frame holds each undirected edge twice (a
        # self-loop once), so half its rows is at most the edge count
        if n_edges is None and (sym.count() + 1) // 2 <= _DRIVER_EDGE_BOUND:
            return _driver_components(sym, "a", "b")
        return _min_label_rounds(sym, max_iterations)
    finally:
        # also on a failed round: a cached frame must not outlive the call
        sym.unpersist()


def _driver_components(edges: DataFrame, src: str, dst: str) -> DataFrame:
    # the node type the distributed path's union would widen to
    typ = edges.select(src).union(edges.select(dst)).schema[0].dataType
    t = edges.select(
        F.col(src).cast(typ).alias("a"), F.col(dst).cast(typ).alias("b")
    ).toArrow()
    out = _min_labels(t.column("a").combine_chunks(), t.column("b").combine_chunks())
    return edges.sparkSession.createDataFrame(out)


def _min_labels(a, b):
    """(node, component) Arrow table for the edges ``a[i] -- b[i]``
    (two equal-length Arrow arrays of one type), in node order, with
    the ids' Arrow type. Spark-free: the driver path's whole
    computation."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ends = pa.concat_arrays([a, b])
    has_null = ends.null_count > 0
    # sorted distinct ids: a node's index order is its id order, so the
    # min index of a component is its min id
    nodes = np.unique(ends.drop_null().to_numpy(zero_copy_only=False))
    del ends
    if has_null:
        both = pc.and_(a.is_valid(), b.is_valid())
        a, b = a.filter(both), b.filter(both)
    ia = np.searchsorted(nodes, a.to_numpy(zero_copy_only=False))
    ib = np.searchsorted(nodes, b.to_numpy(zero_copy_only=False))
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        prev = lab.copy()
        np.minimum.at(lab, ia, lab[ib])
        np.minimum.at(lab, ib, lab[ia])
        # every label names a smaller-or-equal node of the same
        # component, so following labels to their fixpoint is safe
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped
        if np.array_equal(lab, prev):
            break
    node = pa.array(nodes, type=a.type)
    component = node.take(pa.array(lab))
    if has_null:
        node = pa.concat_arrays([node, pa.nulls(1, a.type)])
        component = pa.concat_arrays([component, pa.nulls(1, a.type)])
    return pa.table({"node": node, "component": component})


def _min_label_rounds(sym: DataFrame, max_iterations: int) -> DataFrame:
    """The distributed loop over the persisted symmetric edge frame."""
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("component").alias("_old"),
            F.least(
                F.col("component"), F.coalesce("nbr_min", F.col("component"))
            ).alias("component"),
        )
        # pointer jumping, component := component[component]: a label's
        # own label is a smaller-or-equal node of the same component —
        # a path converges in O(log diameter) rounds, not O(diameter)
        hop = stepped.select(
            F.col("node").alias("component"), F.col("component").alias("_hop")
        )
        jumped = F.coalesce("_hop", F.col("component"))
        # the changed count rides the checkpoint's own job: labels are
        # monotone non-increasing, so changed == strictly-decreased,
        # an aggregate over the round join's existing columns — no
        # second action, no new-vs-old join (module docstring)
        obs = Observation()
        new_labels = (
            stepped.join(hop, "component", "left")
            .observe(
                obs, F.sum((jumped < F.col("_old")).cast("long")).alias("changed")
            )
            .select("node", jumped.alias("component"))
            .localCheckpoint(eager=True)  # truncate lineage every round
        )
        changed = int(obs.get["changed"] or 0)
        labels = new_labels
        if changed == 0:
            return labels
    # exhausting the loop with labels still moving means the diameter
    # exceeded max_iterations: returning would silently split real
    # components (dup clusters would keep >1 "keep" representative) —
    # fail loudly instead
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        f"iterations ({changed} labels still changing); raise "
        "max_iterations (rounds needed grow with the graph diameter)"
    )


def dedup_clusters(
    pairs: DataFrame, id1: str = "d1", id2: str = "d2"
) -> DataFrame:
    """Collapse near-dup pairs into clusters: (doc, cluster, keep)
    where cluster = min doc id of the component and keep marks the
    kept representative (the min id — deterministic)."""
    return _clusters(pairs, id1, id2, None)


def _clusters(
    pairs: DataFrame, id1: str, id2: str, n_edges: int | None
) -> DataFrame:
    """dedup_clusters for a caller that knows an upper bound on the
    pair rows without a job (the pair store)."""
    comp = _components(pairs, id1, id2, 25, n_edges)
    return comp.select(
        F.col("node").alias("doc"),
        F.col("component").alias("cluster"),
        (F.col("node") == F.col("component")).alias("keep"),
    )
