"""Graph-analytics contracts beyond the differential oracle: PageRank
mass conservation and an independent numpy replay of both algorithms."""

from __future__ import annotations

import numpy as np

from transit_feed_etl_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_pagerank_mass_conserved_and_matches_numpy(spark):
    rows = QUERIES["pagerank_copurchase"].builder(spark, SF).collect()
    ranks = {
        (r["kind"], r["entity_key"]): r["rank"] for r in rows
    }
    # symmetrized graph has no dangling nodes -> total rank mass stays 1
    assert abs(sum(ranks.values()) - 1.0) < 1e-6

    # independent replay: numpy power iteration over the same edge list
    import duckdb

    raw = duckdb.connect().execute(
        f"""
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM '{SF}/orders.parquet' o JOIN '{SF}/lineitem.parquet' l
          ON l.l_orderkey = o.o_orderkey
        """
    ).fetchall()
    nodes = sorted({("customer", c) for c, _ in raw} | {("supplier", s) for _, s in raw})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for c, s in raw:
        A[idx[("customer", c)], idx[("supplier", s)]] = 1.0
        A[idx[("supplier", s)], idx[("customer", c)]] = 1.0
    P = A / A.sum(axis=1, keepdims=True)
    r = np.full(n, 1.0 / n)
    for _ in range(3):
        r = 0.15 / n + 0.85 * (P.T @ r)
    assert set(ranks) == set(idx)
    for node, i in idx.items():
        assert abs(ranks[node] - r[i]) < 1e-9, node


def test_knn_clustering_matches_numpy(spark):
    rows = QUERIES["knn_graph_clustering"].builder(spark, SF).collect()

    import duckdb

    raw = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in raw]
    M = np.array([r[1] for r in raw], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    # r12 FLOOR repin: the engine truncates scores at 4dp (portable
    # IEEE form), so the reference ranking must truncate identically
    S = np.floor(Mn @ Mn.T * 10000) / 10000
    np.fill_diagonal(S, -np.inf)
    # top-3 by (score desc, id asc): argsort on (-score, id)
    edges = set()
    for qi, qid in enumerate(ids):
        order = sorted(range(len(ids)), key=lambda j: (-S[qi, j], ids[j]))[:3]
        for j in order:
            a, b = min(qid, ids[j]), max(qid, ids[j])
            edges.add((a, b))
    A = np.zeros((len(ids), len(ids)), dtype=np.int64)
    pos = {v: i for i, v in enumerate(ids)}
    for a, b in edges:
        A[pos[a], pos[b]] = A[pos[b], pos[a]] = 1
    tri_per_node = np.diag(A @ A @ A) // 2
    deg = A.sum(axis=1)
    assert len(rows) == len(ids)
    for r in rows:
        i = pos[r["vec_id"]]
        assert r["degree"] == deg[i]
        assert r["n_triangles"] == tri_per_node[i]
        expect = 2.0 * tri_per_node[i] / (deg[i] * (deg[i] - 1))
        assert abs(r["clustering"] - np.floor(expect * 1000000) / 1000000) < 1e-9


def test_pagerank_iterations_shuffle_free(spark):
    """In the |V| << |E| regime the per-iteration plan must be: cached
    dst-partitioned edges + broadcast rank join + exchange-free
    groupBy(dst). The final iteration's executed plan (everything after
    the cached relations) may contain broadcast exchanges but NO
    hash-partitioning exchange."""
    from transit_feed_etl_spark.io import table
    from transit_feed_etl_spark.operators.graph import pagerank
    from pyspark.sql import functions as F

    o = table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, SF, "lineitem").select("l_orderkey", "l_suppkey")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = raw.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        raw.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    pr = pagerank(edges, iters=2)
    pr.collect()
    plan = pr._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    # the result is served from the iteration cache; its build plan
    # (visible through the InMemoryRelation) has broadcast joins only
    assert "InMemoryTableScan" in plan
    assert "Exchange hashpartitioning" not in plan.split("InMemoryRelation")[0]


def test_triangle_count_orientations_agree(spark):
    """Compact-forward (degree-ordered) and id-ordered triangle
    enumeration must return identical per-node counts — on a hub graph
    with a KNOWN closed form, and on a hash-scrambled graph where the
    id order correlates with nothing."""
    from pyspark.sql import functions as F

    from transit_feed_etl_spark.caching import release_caches
    from transit_feed_etl_spark.operators.graph import triangle_count

    # star + ring, hub id 0: edges (0,i) for 1<=i<=n, plus (i,i+1).
    # Triangles are exactly {0, i, i+1} for i in 1..n-1 -> n-1 total;
    # hub participates in all, ring node i in deg-limited few.
    n = 200
    star = spark.range(1, n + 1).select(
        F.lit(0).alias("a"), F.col("id").alias("b")
    )
    ring = spark.range(1, n).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    edges = star.unionAll(ring)

    def counts(orient):
        got = {
            r["node"]: r["n_tri"]
            for r in triangle_count(edges, orient=orient).collect()
        }
        release_caches()
        return got

    by_deg = counts("degree")
    by_id = counts("id")
    assert by_deg == by_id
    assert sum(by_deg.values()) == 3 * (n - 1)  # each triangle at 3 nodes
    assert by_deg[0] == n - 1  # the hub is in every triangle
    assert by_deg[1] == 1 and by_deg[n] == 1  # ring endpoints: one each

    # scrambled graph: project each node through a hash so neither
    # orientation degenerates to the other
    scram = edges.select(
        F.pmod(F.xxhash64(F.col("a") + 7), F.lit(100000)).alias("a"),
        F.pmod(F.xxhash64(F.col("b") + 7), F.lit(100000)).alias("b"),
    ).filter(F.col("a") != F.col("b"))
    def counts_of(df, orient):
        got = {
            r["node"]: r["n_tri"]
            for r in triangle_count(df, orient=orient).collect()
        }
        release_caches()
        return got

    d2 = counts_of(scram, "degree")
    i2 = counts_of(scram, "id")
    assert d2 == i2 and sum(d2.values()) > 0


def test_triangle_count_degree_orient_handles_64bit_ids(spark):
    """ids >= 2^32 must count CORRECTLY under orient='degree' (ADVICE r7:
    the former packed deg<<32+id BIGINT key collided distinct nodes above
    2^32 and silently dropped wedges; the struct (deg, id) key has no
    range assumption). Star+ring with every id shifted by 2^33 — raw
    xxhash64-derived ids, the motivating real-world case, live here too."""
    from pyspark.sql import functions as F

    from transit_feed_etl_spark.caching import release_caches
    from transit_feed_etl_spark.operators.graph import triangle_count

    n, shift = 60, 2**33
    star = spark.range(1, n + 1).select(
        F.lit(shift).alias("a"), (F.col("id") + shift).alias("b")
    )
    ring = spark.range(1, n).select(
        (F.col("id") + shift).alias("a"), (F.col("id") + 1 + shift).alias("b")
    )
    edges = star.unionAll(ring)
    got = {
        r["node"]: r["n_tri"]
        for r in triangle_count(edges, orient="degree").collect()
    }
    release_caches()
    assert sum(got.values()) == 3 * (n - 1)
    assert got[shift] == n - 1  # the hub keeps every triangle
    assert got[1 + shift] == 1 and got[n + shift] == 1

    # raw (un-pmod'ed) xxhash64 node ids — 64-bit, sign-mixed
    hashed = edges.select(
        F.xxhash64(F.col("a")).alias("a"), F.xxhash64(F.col("b")).alias("b")
    ).filter(F.col("a") != F.col("b"))
    h_deg = {
        r["node"]: r["n_tri"]
        for r in triangle_count(hashed, orient="degree").collect()
    }
    release_caches()
    h_id = {
        r["node"]: r["n_tri"]
        for r in triangle_count(hashed, orient="id").collect()
    }
    release_caches()
    assert h_deg == h_id and sum(h_deg.values()) > 0


def test_coorder_triangles_degenerate_lineitem_corpora(spark, tmp_path):
    """VERDICT r7 item 7: the registered query joins the standing edge
    corpora. Degenerate AFFINITY GRAPHS the driver corpus can't produce:
    (a) every lineitem row carries ONE identical partkey — the strict
    a < b pair build yields zero edges; (b) one giant order holding many
    distinct parts exactly once — every pair exists but support 1 < 2
    prunes all of them; (c) two orders sharing the same 4-part clique —
    support 2 everywhere, C(4,3)=4 triangles, every part at degree 3 in
    3 triangles. Spark and DuckDB must agree on all three (a/b: empty)."""
    import pyarrow as pa

    from tests.corpus_utils import make_sf_dir, sweep_queries
    from transit_feed_etl_spark.queries import QUERIES

    def lineitem(rows):  # rows: (orderkey, partkey)
        n = len(rows)
        return pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
                "l_suppkey": pa.array([1] * n, pa.int64()),
                "l_linenumber": pa.array(range(1, n + 1), pa.int32()),
                "l_quantity": pa.array([1.0] * n),
                "l_extendedprice": pa.array([10.0] * n),
                "l_discount": pa.array([0.0] * n),
                "l_tax": pa.array([0.0] * n),
                "l_returnflag": pa.array(["N"] * n),
                "l_linestatus": pa.array(["O"] * n),
                "l_shipdate": pa.array(
                    [1_500_000_000_000_000] * n, pa.timestamp("us")
                ),
            }
        )

    cases = {
        "identical_parts": [(ok, 7) for ok in range(1, 9) for _ in range(3)],
        "single_order_all_distinct": [(1, p) for p in range(1, 13)],
        "shared_clique": [(ok, p) for ok in (1, 2) for p in (11, 12, 13, 14)],
    }
    for label, rows in cases.items():
        sf = make_sf_dir(str(tmp_path / label), {"lineitem": lineitem(rows)})
        failures = sweep_queries(spark, sf, ["coorder_part_triangles"])
        assert not failures, (label, failures)

    got = QUERIES["coorder_part_triangles"].builder(
        spark, str(tmp_path / "shared_clique")
    ).collect()
    assert [(r["part"], r["degree"], r["n_triangles"]) for r in got] == [
        (p, 3, 3) for p in (11, 12, 13, 14)
    ]
