"""Distributed graph analytics over edge-list DataFrames: PageRank by
power iteration. Complements operators/components.py (connected
components) — together they cover the two graph primitives a curation
pipeline actually runs at scale: dedup clustering (CC) and
authority/quality scoring (PageRank, the classic web-corpus quality
prior used when weighting crawl data for pretraining).

Scale design:
- The edge relation is the big thing; it is repartitioned on `src` ONCE
  and persisted, so every power iteration's rank join reuses that
  partitioning instead of re-shuffling |E| rows per round. Per
  iteration the moving data is only the rank vector (|V| rows): one
  shuffle to co-locate ranks with edges, one to group contributions by
  dst — the canonical Spark PageRank cost model.
- Iteration count is a fixed small constant (power iteration converges
  geometrically at rate `damping`); the loop persists each rank frame
  and releases the previous one, keeping lineage and cache bounded.

Determinism (the registry's differential-oracle contract): per-edge
contributions rank/degree are cast to DECIMAL(38,30) before the SUM, so
the aggregate is exact and partition-order-independent; the only double
operations per iteration are one division (rank/degree), one multiply
(damping * sum) and one add (teleport + damped mass) — each a single
IEEE operation an unrolled SQL oracle reproduces bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transit_feed_etl_spark.caching import persist_tracked


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge list (pass a symmetrized list for
    an undirected graph). Every node must have out-degree >= 1 (true by
    construction for symmetrized edges); the node set is the distinct
    `src` set. Returns (node, rank) with full-precision double ranks.

    Iterations are SHUFFLE-FREE in the |V| << |E| regime, where the rank
    vector fits in an executor broadcast: the static (src, dst, deg)
    relation is hash-partitioned on `dst` once and persisted, the rank
    join is a broadcast map-side join that preserves that partitioning,
    and the contribution groupBy(dst) therefore needs no exchange
    (pinned by tests/test_plans.py).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # |V|-row relation referenced by every iteration's teleport anchor
    # and the initial ranks — persist so neither re-derives the
    # (potentially expensive) upstream edge build
    deg = persist_tracked(e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    # |V| as a 1-row broadcast anchor (never collected at the driver)
    nn = deg.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = persist_tracked(
        deg.crossJoin(F.broadcast(nn)).select(
            "src", (F.lit(1.0) / F.col("n")).alias("rank")
        )
    )
    # static (src, dst, deg) relation reused by every iteration,
    # pre-partitioned on the aggregation key so the per-iteration
    # groupBy(dst) never re-shuffles it
    out = persist_tracked(e.join(deg, "src").repartition("dst"))
    out.count()  # materialize ONCE so iterations read the cache
    for _ in range(iters):
        contrib = (F.col("rank") / F.col("deg")).cast("decimal(38,30)")
        new_ranks = (
            out.join(F.broadcast(ranks), "src")
            .groupBy("dst")
            .agg(F.sum(contrib).alias("mass"))
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("dst").alias("src"),
                (
                    F.lit(1.0 - damping) / F.col("n")
                    + F.lit(damping) * F.col("mass").cast("double")
                ).alias("rank"),
            )
        )
        # persist each iteration lazily: at a handful of iterations the
        # nesting stays shallow and the whole chain executes as one
        # action with every broadcast build served from cache (an eager
        # localCheckpoint per iteration measured 10x slower)
        ranks = persist_tracked(new_ranks)
    return ranks.select(F.col("src").alias("node"), "rank")


def triangle_count(
    und: DataFrame,
    a: str = "a",
    b: str = "b",
    orient: str = "degree",
) -> DataFrame:
    """Count triangles per node over an UNDIRECTED edge list (each edge
    exactly once, any endpoint order, no self-loops). Returns
    (node, n_tri); nodes in no triangle are absent.

    The algorithm is the oriented wedge join: direct every edge, build
    wedges u->v, u->w from each node's forward adjacency, and close
    them against a directed edge v->w — each triangle counted exactly
    once. The orientation decides the cost:

    - ``orient='id'``: u->v iff id(u) < id(v). Simple, but a low-id hub
      of degree d contributes d^2/2 wedges — on skewed (power-law)
      degree distributions the wedge join explodes quadratically in the
      hub degree.
    - ``orient='degree'`` (compact-forward, the production default):
      u->v iff (deg(u), id(u)) < (deg(v), id(v)). Every edge points
      toward the HIGHER-degree endpoint, so hubs have near-zero forward
      degree and wedge work moves to the low-degree fringe; forward
      degree is bounded by O(sqrt(|E|)) for any graph, making wedge
      volume O(|E|^1.5) worst-case instead of O(sum deg^2). Costs one
      extra |E|-row degree join over 'id'.

    Both orientations return identical counts (pinned by
    tests/test_graph.py); tools/triangle_probe.py measures the skew win.
    """
    e = und.select(F.col(a).alias("a"), F.col(b).alias("b"))
    if orient == "id":
        fwd = e.select(
            F.least("a", "b").alias("src"),
            F.greatest("a", "b").alias("dst"),
            F.greatest("a", "b").alias("ord_dst"),  # order key = id
        )
    elif orient == "degree":
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # (deg, id) as a two-field struct ordering key: structs compare
        # lexicographically, so this is the same total order a packed
        # deg<<32 + id BIGINT would give WITHOUT the id < 2^32 range
        # assumption — 64-bit ids (e.g. xxhash64-derived node ids) are
        # normal at the 100 TB target, and a packed key silently
        # collides for them, dropping wedges.
        key = F.struct(F.col("deg"), F.col("node").alias("id"))
        deg = deg.select("node", key.alias("ord"))
        withord = (
            e.join(deg.withColumnRenamed("node", "a").withColumnRenamed("ord", "ord_a"), "a")
            .join(deg.withColumnRenamed("node", "b").withColumnRenamed("ord", "ord_b"), "b")
        )
        fwd = withord.select(
            F.when(F.col("ord_a") < F.col("ord_b"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("src"),
            F.when(F.col("ord_a") < F.col("ord_b"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("dst"),
            F.greatest("ord_a", "ord_b").alias("ord_dst"),
        )
    else:  # pragma: no cover - guarded by callers
        raise ValueError(f"orient must be 'id' or 'degree', got {orient!r}")

    fwd = persist_tracked(fwd)
    e1 = fwd.alias("e1")
    e2 = fwd.alias("e2")
    e3 = fwd.select(F.col("src").alias("v"), F.col("dst").alias("w")).alias("e3")
    # wedge v<w in orientation order, closed by the directed edge v->w
    tri = (
        e1.join(
            e2,
            (F.col("e2.src") == F.col("e1.src"))
            & (F.col("e1.ord_dst") < F.col("e2.ord_dst")),
        )
        .join(
            e3,
            (F.col("v") == F.col("e1.dst")) & (F.col("w") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("x"),
            F.col("e1.dst").alias("y"),
            F.col("e2.dst").alias("z"),
        )
    )
    # ONE evaluation of the wedge join: the three per-endpoint node
    # streams come from an explode over the triangle row, not a 3-way
    # unionAll of tri projections — union branches are separate plan
    # subtrees and there is no exchange between the join and the union
    # for ReuseExchange to share, so a 3-branch shape would execute the
    # ENTIRE wedge join three times (3 identical multi-second join jobs
    # per pass at sf0.1). explode(array(x,y,z)) yields the identical
    # node multiset, so the per-node counts are the same.
    return (
        tri.select(
            F.explode(
                F.array(F.col("x"), F.col("y"), F.col("z"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
