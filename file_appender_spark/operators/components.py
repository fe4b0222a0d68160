"""Connected components over an edge list — the transitive-closure
step of large-scale dedup: MinHash/LSH emits near-dup PAIRS (q51/q52);
collapsing them into dedup CLUSTERS requires the components of the
pair graph (a is-dup-of b, b is-dup-of c => {a,b,c} is one group).

Algorithm: iterative min-label propagation (each node takes the min
label in its closed neighborhood until fixpoint) — a pure DataFrame
formulation of the map-reduce CC used in production dedup pipelines
(cf. the alternating small-star/large-star optimization of Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC 2014; min-
label propagation converges in O(diameter) rounds, which for dedup
clusters — tiny diameters — is 2-3 rounds).

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
Deterministic: min() labels, no ordering dependence.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Return (node, component) where component = min node id of the
    node's connected component. Nodes are whatever appears in the
    edge list; isolated nodes (no edges) are the caller's concern."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
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
        new_comp = F.least(
            F.col("component"), F.coalesce("nbr_min", F.col("component"))
        )
        # the changed count rides the checkpoint's own job: labels are
        # monotone non-increasing, so changed == strictly-decreased,
        # an aggregate over the round join's existing columns — no
        # second action, no new-vs-old join (module docstring)
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .observe(
                obs,
                F.sum((new_comp < F.col("component")).cast("long")).alias(
                    "changed"
                ),
            )
            .select("node", new_comp.alias("component"))
            .localCheckpoint(eager=True)  # truncate lineage every round
        )
        changed = int(obs.get["changed"] or 0)
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausting the loop with labels still moving means the
        # diameter exceeded max_iterations: returning would silently
        # split real components (dup clusters would keep >1 "keep"
        # representative) — fail loudly instead
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing); raise "
            "max_iterations (rounds needed ~ graph diameter)"
        )
    sym.unpersist()
    return labels


def dedup_clusters(
    pairs: DataFrame, id1: str = "d1", id2: str = "d2"
) -> DataFrame:
    """Collapse near-dup pairs into clusters: (doc, cluster, keep)
    where cluster = min doc id of the component and keep marks the
    kept representative (the min id — deterministic)."""
    comp = connected_components(pairs, src=id1, dst=id2)
    return comp.select(
        F.col("node").alias("doc"),
        F.col("component").alias("cluster"),
        (F.col("node") == F.col("component")).alias("keep"),
    )
