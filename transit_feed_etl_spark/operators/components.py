"""Connected components over a pair/edge relation (EXT: dedup cluster
resolution).

Near-dup detection emits PAIRS; deduplication needs CLUSTERS — the
transitive closure (A~B, B~C => {A,B,C} share one canonical id). This
is min-label propagation as pure DataFrame ops: every node starts
labeled with itself, each round takes the min of its own and its
neighbors' labels, fixpoint = component minimum.

Scale design: each round is one shuffle keyed on node id (the
groupBy-min is partial-aggregatable), rounds needed = O(component
diameter) — near-dup clusters are shallow (pairs chain through shared
content), so a handful of rounds converge. Every round persists its
label frame and drops the previous one, keeping lineage flat (without
that, round k replays rounds 1..k-1). The alternating large-star/
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014) drops in for adversarially deep
graphs; min-label is the right default for dedup workloads.

The fixpoint is engine-independent, so a DuckDB recursive CTE oracle
(`components_sql`) value-checks the whole operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transit_feed_etl_spark.caching import persist_tracked


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, label) for every node appearing in `edges`, where label is
    the smallest node id in its connected component. Deterministic;
    raises if the fixpoint isn't reached within max_iter rounds (each
    round propagates labels one hop, so max_iter bounds the supported
    component diameter)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # symmetrize: propagation must flow both directions
    e0 = persist_tracked(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    n_edges = e0.count()  # materialize ONCE to size the round width
    # Scale-ADAPTIVE round width, derived from the measured edge count
    # (guide §2 — partitioning must not be a constant tuned for either
    # local mode or the cluster): every per-round frame here is
    # key-width (two longs), so ~500k rows/partition keeps tasks in the
    # tens-of-MB range; the cap keeps large graphs at full cluster
    # parallelism. At bench scale (hundreds of edges) this is 1-2
    # partitions instead of inheriting the 32-wide static shuffle width
    # — the rounds were spending their wall time scheduling 32
    # near-empty tasks per join stage (job profile; the session-wide
    # AQE cached-plan re-sizing alternative was measured and reverted,
    # session.py). Label values are width-independent (min/least over
    # exact keys; the registry's 8/32/128-partition sweeps pin this).
    par = e0.sparkSession.sparkContext.defaultParallelism
    w = max(1, min(4 * par, -(-n_edges // 500_000)))
    e = persist_tracked(e0.repartition(w, "b"))
    labels = persist_tracked(
        e.select(F.col("a").alias("node"))
        .distinct()
        .repartition(w, "node")
        .withColumn("label", F.col("node"))
    )
    labels.count()
    # labels.count() scanned e (materializing the repartitioned cache),
    # which scanned e0 — its only reader. Drop e0 NOW instead of holding
    # both copies of the symmetrized edge list resident for the query's
    # lifetime: at the 100 TB design point the leak doubled the largest
    # cached relation in the operator. release_caches()
    # tolerates the early unpersist (double-unpersist is a no-op).
    e0.unpersist()
    for _ in range(max_iter):
        nbr_min = (
            e.join(labels, e["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        # pointer jumping: also adopt the label OF my current label
        # (label[label]); combined with the neighbor step this halves
        # the unresolved depth per round, so convergence is O(log
        # diameter) rounds instead of O(diameter) — at local scale the
        # per-round fixed cost (plan compile + shuffle setup) dominates,
        # and on a cluster fewer synchronous rounds is strictly better
        jump = labels.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        # Lineage-cut protocol (the difference between O(rounds) and a
        # superlinear blowup): eager localCheckpoint materializes the
        # round AND truncates its plan to a leaf, so round k's plan
        # never nests rounds 1..k-1 (persist+count kept the work cached
        # but the plan-compile cost still grew per round — the MMR
        # operator measured 42 s -> 8 s from the same change). The
        # convergence count then scans the already-materialized
        # partitions. For fault-tolerant multi-hour jobs swap in
        # checkpoint() with a reliable directory.
        stepped = (
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .join(jump, labels["label"] == jump["jnode"], "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"),
                    F.coalesce("nbr_min", "label"),
                    F.coalesce("jlabel", "label"),
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter(F.col("label") < F.col("old_label")).count()
        labels = stepped.select("node", "label")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(component diameter exceeds max_iter)"
    )


def components_sql(pairs_sql: str, id_col: str) -> str:
    """DuckDB reference for `connected_components`: the recursive
    reachability CTEs over the (id_a, id_b) pair query `pairs_sql`,
    ending in `cc (<id_col>, canonical_id)`, the component minimum per
    node. Callers append their own CTEs and final SELECT."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
      SELECT node, node AS label FROM nodes
      UNION
      SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node
    ),
    cc AS (SELECT node AS {id_col}, MIN(label) AS canonical_id FROM reach GROUP BY node)"""
