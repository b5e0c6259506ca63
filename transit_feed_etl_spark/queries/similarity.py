"""Similarity search over `embeddings` (EXT, north star): brute-force
cosine top-k (exact, oracle-checked) and hyperplane-LSH ANN (the scale
path, rows-only + recall-tested).

Determinism: cosine scores are double arithmetic with engine-identical
operation order where possible, then FLOORED to 4dp (or 6dp for
internal comparisons): FLOOR(x * 10^d) / 10^d is pure IEEE ops on the
same double in both engines and can never disagree, whereas
ROUND(double, d) is implemented differently (Spark: BigDecimal on the
binary expansion, HALF_UP; DuckDB: nearest on x * 10^d) and measurably
diverges near half boundaries — probed: 42/5000 near-boundary
doubles disagree at 6dp, 573/10000 6dp-grid values disagree at 4dp,
0/5000 under FLOOR (the same transcendental half-boundary hazard class
registry.py documents). Ranking orders by
(floored score DESC, neighbor id ASC) so ranks are stable across
engines.

Scale design: brute-force is O(Q x N x d) — correct but quadratic; it is
the verification baseline. The LSH variant buckets vectors by
sign-projection onto 8 fixed hyperplanes (256 buckets) and searches only
the query's bucket: candidate volume drops ~256x at the cost of recall,
measured in tests/test_similarity.py. At 100 TB the bucket id becomes the
shuffle/partition key, so each query touches one partition (IVF-style).

Input-domain precondition (tests/test_vector_edge_parity.py): the
embedding column must carry NONZERO-NORM vectors at the table's fixed
dimensionality (64 in the driver testdata). A zero-norm vector has no
defined cosine, and under ANSI the division fails FAST
(DIVIDE_BY_ZERO) instead of silently emitting NaN neighbors — malformed
embeddings are an upstream data-quality problem, filtered before
retrieval (`quality_filter_verdicts` is the text-side analogue). Exact
DUPLICATE vectors are fully supported: every ranking carries a
(score DESC, id ASC) total order, verified under an all-ties corpus.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from transit_feed_etl_spark.caching import persist_tracked
from transit_feed_etl_spark.io import table, table_par
from transit_feed_etl_spark.operators import vectors as V
from transit_feed_etl_spark.operators.components import (
    components_sql,
    connected_components,
)
from transit_feed_etl_spark.registry import register

_DOT_SQL = "list_sum(list_transform(range(1, LEN({a}) + 1), i -> {a}[i] * {b}[i]))"
_NORM_SQL = "SQRT(list_sum(list_transform({a}, x -> x * x)))"

# Portable decimal truncation (module docstring): FLOOR(x * 10^d) / 10^d
# is the ONLY cross-engine-stable way to pin a double to d decimals —
# the multiply by an exactly-representable power of ten, the floor, and
# the divide are each correctly-rounded IEEE ops on the same input, so
# Spark and DuckDB cannot diverge. Every fractional-scale rounding in
# this module goes through these. Round-to-INTEGER quantization keeps
# ROUND: at scale 0 neither engine multiplies, so HALF_UP (Spark) and
# half-away-from-zero (DuckDB) act on the exact double and agree for
# every value, including exact .5 halves (both go away from zero).


def _f4(c):
    return F.floor(c * 10000) / 10000.0


def _f6(c):
    return F.floor(c * 1000000) / 1000000.0


_FLOOR4_SQL = "FLOOR(({x}) * 10000) / 10000.0"
_FLOOR6_SQL = "FLOOR(({x}) * 1000000) / 1000000.0"


EMB_DIM = 64  # driver testdata contract (TESTDATA.md): fixed-width embeddings


# multi-table sign-LSH of ann_lsh_topk and its oracle: tables x planes per table
_LSH_TABLES, _LSH_PLANES = 8, 5


def _lsh_planes() -> list[list[float]]:
    """The seeded hyperplanes, table after table."""
    rng = np.random.default_rng(2024)
    return rng.standard_normal((_LSH_TABLES * _LSH_PLANES, EMB_DIM)).tolist()


_EMB_COUNT_MEMO: dict[tuple[int, str], int] = {}


def _emb_blocks(spark: SparkSession, sf_dir: str) -> int:
    """Tile count for the blocked cosine kernel, memoized per session x
    sf_dir: the sizing count runs ONCE (on the raw parquet relation —
    column-less count is near metadata-speed; counting the repartitioned
    frame would pay its shuffle per invocation, ~1s at sf0.1)."""
    key = (id(spark), sf_dir)
    if key not in _EMB_COUNT_MEMO:
        _EMB_COUNT_MEMO[key] = table(spark, sf_dir, "embeddings").count()
    return V.auto_blocks(
        _EMB_COUNT_MEMO[key],
        parallelism=spark.sparkContext.defaultParallelism,
    )


def _cosine_topk_oracle(vec_sql: str) -> str:
    """DuckDB oracle for the exact cosine top-5 of the first 10 vectors,
    each vector being `vec_sql` over the `embeddings` row."""
    return f"""
    WITH v AS (
      SELECT vec_id, CAST({vec_sql} AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
    scored AS (
      SELECT q.qid, c.vec_id AS nid,
             FLOOR(({_DOT_SQL.format(a="q.qv", b="c.v")}
                   / ({_NORM_SQL.format(a="q.qv")} * {_NORM_SQL.format(a="c.v")}))
                   * 10000) / 10000.0 AS score
      FROM q JOIN v c ON c.vec_id <> q.qid
    )
    SELECT qid, nid, score, rnk FROM (
      SELECT qid, nid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY qid, rnk
    """


def _cosine_topk(spark: SparkSession, sf_dir: str, vec: Column) -> DataFrame:
    """Exact cosine top-5 neighbors of the first 10 vectors, each vector
    being the array expression `vec` over the embeddings row: broadcast
    the query side, score all candidates with JVM-side array math, rank
    per query."""
    emb = table_par(spark, sf_dir, "embeddings")  # dense math on all cores
    v = emb.select("vec_id", vec.alias("v")).withColumn("nrm", V.l2_norm(F.col("v")))
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    pairs = v.alias("c").join(
        F.broadcast(q), F.col("vec_id") != F.col("qid")
    )
    # per-vector norms precomputed; per-pair work = one dot product
    score = _f4(V.dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")))
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        pairs.select(
            "qid", F.col("vec_id").alias("nid"), score.alias("score")
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("qid", "rnk")
    )


@register("cosine_topk_bruteforce", oracle=_cosine_topk_oracle("embedding"))
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 10 vectors over all 64
    dims. The exact baseline for the ANN variant."""
    return _cosine_topk(spark, sf_dir, V.as_double("embedding"))


# Near-dup cosine threshold.  A production corpus would use ~0.8+, but
# the synthetic testdata embeddings are near-orthogonal random vectors
# (max pairwise cosine: 0.479 at sf0.001, 0.513 at sf0.01, 0.601 at
# sf0.1), so a 0.8 cut returns the empty set at every SF and the driver
# CORRECTNESS row degenerates to a vacuous 0 == 0 compare.  0.4 yields
# a non-trivial result everywhere while exercising the identical
# thresholded pair-scan operator.
# Cross-engine stability of the FLOORed score: FLOOR eliminates the
# rounding-IMPLEMENTATION divergence (Spark and DuckDB can disagree
# when ROUNDing even the SAME double near a half boundary); the
# residual hazard is only the gram kernel's ~1e-15
# BLAS-vs-sequential-fold noise landing within ~1e-15 of a 1e-4 grid
# point.
_NEARDUP_COS_TH = 0.4
# The clusters twin uses a slightly higher cut: at 0.4 the sf0.1 pair
# graph grows a 75-node giant component whose all-reachable-pairs
# recursive-CTE oracle takes ~140 s in DuckDB; 0.42 keeps non-trivial
# transitive chains (max component 5 at sf0.01, 13 at sf0.1) with a
# sub-second oracle.
_CLUSTER_COS_TH = 0.42


@register(
    "embedding_neardup_pairs",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           FLOOR(({_DOT_SQL.format(a="a.v", b="b.v")}
                 / ({_NORM_SQL.format(a="a.v")} * {_NORM_SQL.format(a="b.v")}))
                 * 10000) / 10000.0 AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE FLOOR(({_DOT_SQL.format(a="a.v", b="b.v")}
                / ({_NORM_SQL.format(a="a.v")} * {_NORM_SQL.format(a="b.v")}))
                * 10000) / 10000.0 >= {_NEARDUP_COS_TH}
    ORDER BY id_a, id_b
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection: all pairs with cosine >=
    _NEARDUP_COS_TH (threshold-parametric; see the constant's comment
    for why the registered cut is 0.4 on this corpus).

    Runs the blocked numpy gram-matrix kernel (operators.vectors.
    blocked_cosine_pairs) as CANDIDATE GENERATION — O(n * n_blocks)
    shuffle + BLAS tile scoring instead of an O(n^2) pair join with
    interpreted per-pair folds (measured 2.6s -> ~0.5s at sf0.1; the
    pair-join baseline was itself 23.6s before per-vector norm
    precomputation) — then RESCORES the surviving candidates with the
    exact sequential fold JVM-side. The kernel's BLAS summation order
    differs from the fold by ~1e-15; under FLOOR truncation that
    noise is visible precisely at on-grid scores (an exact duplicate's
    cos sits AT 1.0, where truncating 1.0-1ulp yields 0.9999), so the
    emitted score must come from the same IEEE expression tree the
    oracle folds — candidates are output-bounded, so the rescoring join
    costs O(|pairs|), not O(n^2)."""
    return _cosine_pairs(spark, sf_dir, _NEARDUP_COS_TH).orderBy("id_a", "id_b")


def _cosine_pairs(spark: SparkSession, sf_dir: str, th: float) -> DataFrame:
    """(id_a, id_b, cos_sim), id_a < id_b, for every embedding pair whose
    FLOORed cosine is >= `th`: the blocked kernel's candidates at
    `th - 1e-4`, rescored with the exact sequential fold."""
    emb = table_par(spark, sf_dir, "embeddings")  # dense math on all cores
    cand = V.blocked_cosine_pairs(
        emb,
        "vec_id",
        "embedding",
        th - 1e-4,
        n_blocks=_emb_blocks(spark, sf_dir),
    ).select("id_a", "id_b")
    v = emb.select("vec_id", V.as_double("embedding").alias("v")).withColumn(
        "nrm", V.l2_norm(F.col("v"))
    )
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = _f4(V.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= th)
    )


def _lsh_oracle() -> str:
    """DuckDB oracle for ann_lsh_topk (multi-table sign-LSH): the
    hyperplanes are deterministic driver-side constants, so per-table
    bucket codes and the bucket-restricted top-k are fully
    SQL-expressible — the ANN path gets a value-level differential
    check, not just rows-only. repr(float) round-trips binary64, so
    both engines fold identical plane literals in identical order. The
    OR over per-table code equalities is exactly the exploded equi-join
    the Spark side runs (codes of different tables are disjoint by the
    t*256 offset)."""
    planes = _lsh_planes()
    code_cols = []
    for t in range(_LSH_TABLES):
        bits = []
        for j in range(_LSH_PLANES):
            p = planes[t * _LSH_PLANES + j]
            arr = "[" + ", ".join(repr(x) for x in p) + "]"
            bits.append(
                f"(CASE WHEN list_sum(list_transform(range(1, {EMB_DIM} + 1),"
                f" m -> v[m] * ({arr}::DOUBLE[])[m])) > 0 THEN {1 << j} ELSE 0 END)"
            )
        code_cols.append(f"({t * 256} + " + " + ".join(bits) + f") AS c{t}")
    codes = ", ".join(code_cols)
    match = " OR ".join(f"c.c{t} = q.c{t}" for t in range(_LSH_TABLES))
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    b AS (SELECT vec_id, v, {codes} FROM v),
    q AS (SELECT vec_id AS qid, v AS qv, {", ".join(f"c{t}" for t in range(_LSH_TABLES))}
          FROM b WHERE vec_id < 10),
    scored AS (
      SELECT q.qid, c.vec_id AS nid,
             FLOOR(({_DOT_SQL.format(a="q.qv", b="c.v")}
                   / ({_NORM_SQL.format(a="q.qv")} * {_NORM_SQL.format(a="c.v")}))
                   * 10000) / 10000.0 AS score
      FROM q JOIN b c ON ({match}) AND c.vec_id <> q.qid
    )
    SELECT qid, nid, score, rnk FROM (
      SELECT qid, nid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY qid, rnk
    """


@register("ann_lsh_topk", oracle=_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via MULTI-TABLE sign-LSH (8 tables x 5 planes):
    per-neighbor match probability amplifies from p^5 per table to
    1-(1-p^5)^8 across tables — the standard LSH recall boost; a single
    8-plane table measures ~2% recall@5 on this corpus, the multi-table
    construction ~50%+ (asserted against the brute-force baseline in
    tests/test_oracle_parity.py). Scale path: codes explode to 8 rows
    per vector and candidates come from an EQUI join on the code — at
    100 TB the shuffle carries (code, id) pairs, candidates are bounded
    by bucket occupancy x tables, and only candidates pay the exact
    scoring; value-level oracle (deterministic planes folded as
    literals)."""
    emb = table_par(spark, sf_dir, "embeddings")
    v = (
        emb.select("vec_id", V.as_double("embedding").alias("v"))
        .withColumn("codes", V.multitable_codes(F.col("v"), _lsh_planes(), k=_LSH_PLANES))
        .withColumn("nrm", V.l2_norm(F.col("v")))
    )
    # candidate generation on the exploded code relation (equi join)
    e = v.select("vec_id", F.explode("codes").alias("code"))
    qe = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("code").alias("qcode")
    )
    cand = (
        e.join(F.broadcast(qe), (F.col("code") == F.col("qcode")) & (F.col("vec_id") != F.col("qid")))
        .select("qid", F.col("vec_id").alias("nid"))
        .distinct()
    )
    # exact scoring on candidates only
    qv = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cv = v.select(F.col("vec_id").alias("nid"), "v", "nrm")
    score = _f4(V.dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")))
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        cand.join(F.broadcast(qv), "qid")
        .join(cv, "nid")
        .select("qid", "nid", score.alias("score"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("qid", "rnk")
    )


_COS6 = (
    "FLOOR((" + _DOT_SQL.format(a="{a}", b="{b}")
    + " / (" + _NORM_SQL.format(a="{a}") + " * " + _NORM_SQL.format(a="{b}")
    + ")) * 1000000) / 1000000.0"
)


@register(
    "ivf_ann_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    seeds AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
    asg AS (
      SELECT v.vec_id, s.cid,
             {_COS6.format(a="v.v", b="s.cv")} AS cos_c,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id
               ORDER BY {_COS6.format(a="v.v", b="s.cv")} DESC, s.cid ASC) AS rn
      FROM v CROSS JOIN seeds s
    ),
    cells AS (SELECT vec_id, cid AS cell FROM asg WHERE rn = 1),
    probes AS (
      SELECT vec_id AS qid, cid AS probe_cell FROM asg
      WHERE vec_id < 10 AND rn <= 2
    ),
    scored AS (
      SELECT p.qid, c.vec_id AS nid,
             {_COS6.format(a="q.v", b="c.v")} AS score
      FROM probes p
      JOIN v q        ON q.vec_id = p.qid
      JOIN cells ce   ON ce.cell = p.probe_cell
      JOIN v c        ON c.vec_id = ce.vec_id AND c.vec_id <> p.qid
    )
    SELECT qid, nid, FLOOR(score * 10000) / 10000.0 AS score, rnk FROM (
      SELECT qid, nid, score,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY score DESC, nid ASC) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY qid, rnk
    """,
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN, fully deterministic (hence oracle-checkable):

    - coarse quantizer: the 16 lowest-id vectors act as fixed centroids
      (a one-pass IVF; a trained k-means would drop in here unchanged);
    - every vector is assigned to its nearest centroid (broadcast the
      16-row centroid table, argmax cosine — map-side, no shuffle);
    - each query probes its nprobe=2 nearest cells and scores only the
      vectors in those cells (~n/8 of the corpus at 16 cells).

    At 100 TB the cell id is the partition key: candidate scoring
    becomes a cell-local join instead of the brute-force cross product.
    """
    emb = table_par(spark, sf_dir, "embeddings")  # dense math on all cores
    v = emb.select("vec_id", V.as_double("embedding").alias("v"))
    seeds = v.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    cos_c = _f6(V.cosine(F.col("v"), F.col("cv")))
    wa = W.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), F.col("cid").asc())
    # persist: the assignment (cross join + window) feeds both the cells
    # and probes branches — without it the whole subtree runs twice.
    # Tracked cache: released via caching.release_caches() post-action.
    asg = persist_tracked(
        v.join(F.broadcast(seeds))
        .select("vec_id", "v", "cid", cos_c.alias("cos_c"))
        .withColumn("rn", F.row_number().over(wa))
        .drop("v")
    )
    # Unique column names per relation before the joins: cells/probes/q
    # all descend from the same scan, and attribute-by-DataFrame references
    # across that shared lineage can silently resolve to the wrong side.
    cells = asg.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("member_id"), F.col("cid").alias("cell")
    )
    probes = (
        asg.filter((F.col("vec_id") < 10) & (F.col("rn") <= 2))
        .select(F.col("vec_id").alias("qid"), F.col("cid").alias("probe_cell"))
    )
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    nbrs = v.select(F.col("vec_id").alias("nid"), F.col("v").alias("nv"))
    cand = (
        probes.join(F.broadcast(q), "qid")
        .join(cells, F.col("cell") == F.col("probe_cell"))
        .join(nbrs, F.col("nid") == F.col("member_id"))
        .filter(F.col("nid") != F.col("qid"))
    )
    ws = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        cand.select(
            "qid",
            "nid",
            _f6(V.cosine(F.col("qv"), F.col("nv"))).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(ws))
        .filter(F.col("rnk") <= 5)
        .select("qid", "nid", _f4(F.col("score")).alias("score"), "rnk")
        .orderBy("qid", "rnk")
    )


@register(
    "embedding_quantization",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             127.0 / GREATEST(list_max(list_transform(embedding,
                       x -> ABS(CAST(x AS DOUBLE)))), 1e-12) AS scale
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, scale, embedding,
             list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * scale)) AS qv
      FROM s
    )
    SELECT vec_id,
           scale,
           CAST(list_max(qv) AS INTEGER) AS q_max,
           CAST(FLOOR(list_max(list_transform(range(1, LEN(qv) + 1),
                 i -> ABS(qv[i] - CAST(embedding[i] AS DOUBLE) * scale))) * 1e8)
             AS BIGINT) AS max_abs_err_q_e8
    FROM q
    ORDER BY vec_id
    """,
)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of embeddings (per-vector symmetric
    scale): 4x memory/shuffle reduction for the ANN index at 100 TB —
    the quantized vectors + one float scale replace float32 arrays, and
    the reported quantization error bounds the cosine drift.
    All higher-order Catalyst expressions; no Python, no explode — one
    narrow map stage.

    Round-6 redesign (magnitude-extreme sweep, test_vecmag_parity.py):
    the old outputs FLOOR(scale*1e6) and FLOOR(1e8*|qv/scale - x|) are
    magnitude-DEPENDENT — for embeddings with max|x| > ~2e13 (or
    < ~1.4e-11) the scaled integers exceed BIGINT, where Spark's
    floor(double)->long silently SATURATES to Long.MaxValue while
    DuckDB raises — a silent-wrong-value divergence. Replaced with
    magnitude-FREE metrics: the raw double `scale` (one division from
    one float — bit-identical across engines) and the error in QUANT
    units, |qv - x*scale| <= 0.5 by construction of ROUND, so its e8
    integer never exceeds 5e7 for ANY input magnitude. The absolute
    error remains derivable as max_abs_err_q/scale."""
    e = table_par(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    max_abs = F.array_max(F.transform("embedding", lambda x: F.abs(xd(x))))
    scale = F.lit(127.0) / F.greatest(max_abs, F.lit(1e-12))
    with_scale = e.select("vec_id", "embedding", scale.alias("scale"))
    qv = F.transform("embedding", lambda x: F.round(xd(x) * F.col("scale")))
    with_q = with_scale.withColumn("qv", qv)
    err_q = F.array_max(
        F.zip_with("embedding", "qv", lambda x, q: F.abs(q - xd(x) * F.col("scale")))
    )
    # FLOOR-scaled integers, not ROUND: round-half ties on an 8th-decimal
    # boundary resolve differently between the JVM (half-up on doubles)
    # and DuckDB (banker's rounding), so ROUND is not portable; FLOOR of
    # the identical double is tie-free on both engines.
    return with_q.select(
        "vec_id",
        "scale",
        F.array_max("qv").cast("int").alias("q_max"),
        F.floor(err_q * 1e8).cast("long").alias("max_abs_err_q_e8"),
    ).orderBy("vec_id")


_KM_ITERS = 3
_KM_CELLS = 16


def _kmeans_training_parts(
    iters: int,
    cells: int,
    src: str | None = None,
    pref: str = "c",
    seed_below: int | None = None,
) -> list[str]:
    """The unrolled Lloyd-training CTE chain shared by every oracle that
    consumes trained centroids (`_kmeans_oracle`, `_semdedup_oracle`,
    `_semdedup_sampled_oracle`). Produces CTEs {pref}0..{pref}{iters};
    the final centroid relation is {pref}{iters}. Training points come
    from `src` (a prior CTE with (vec_id, v)); the default emits the
    standard embeddings CTE `v` first. Seeds are the points with
    vec_id < seed_below (default: cells) — callers training on a modular
    SAMPLE pass seed_below = cells * mod so the sparse id space still
    yields exactly `cells` seeds."""
    cos = _COS6
    mean = (
        "CAST(SUM(CAST({v} AS DECIMAL(25,15))) AS DOUBLE) / COUNT(*)"
    )
    sb = cells if seed_below is None else seed_below
    parts = []
    if src is None:
        parts.append(
            "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
        )
        src = "v"
    parts.append(
        f"{pref}0 AS (SELECT vec_id AS cid, v AS cv FROM {src} WHERE vec_id < {sb})"
    )
    for it in range(iters):
        prev, cur = f"{pref}{it}", f"{pref}{it + 1}"
        asg = f"{pref}a{it}"
        parts.append(
            f"""{asg} AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {cos.format(a="v.v", b="c.cv")} DESC, c.cid ASC) AS rn
        FROM {src} v CROSS JOIN {prev} c
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""{cur} AS (
      SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN (
        SELECT cid, list(mean ORDER BY dim) AS cv
        FROM (
          SELECT a.cid, t.dim, {mean.format(v="v.v[t.dim]")} AS mean
          FROM {asg} a JOIN {src} v ON v.vec_id = a.vec_id
          CROSS JOIN (SELECT CAST(range AS INT) AS dim
                      FROM range(1, {EMB_DIM} + 1)) t
          GROUP BY a.cid, t.dim
        )
        GROUP BY cid
      ) m ON m.cid = p.cid
    )"""
        )
    return parts


def _kmeans_oracle() -> str:
    """DuckDB oracle for ivf_kmeans_topk with the k-means TRAINING
    unrolled as a CTE chain — the full Lloyd iteration is value-level
    differential-checked, not just the final search.

    Cross-engine determinism: centroid means go through DECIMAL(25,15)
    sums (order-independent, registry.py contract), cosine similarities
    are sequential 1..64 folds FLOOR-truncated at 6dp (portable IEEE
    ops, module docstring), and argmin ties break on cid ASC — every
    iteration is bit-identical in both engines, so the trained
    centroids (and hence the ANN result) hash-match."""
    cos = _COS6
    parts = _kmeans_training_parts(_KM_ITERS, _KM_CELLS)
    final = f"c{_KM_ITERS}"
    return f"""
    WITH {", ".join(parts)},
    asg AS (
      SELECT vec_id, cid, rn FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {cos.format(a="v.v", b="c.cv")} DESC, c.cid ASC) AS rn
        FROM v CROSS JOIN {final} c
      ) WHERE rn <= 2
    ),
    cells AS (SELECT vec_id, cid AS cell FROM asg WHERE rn = 1),
    probes AS (SELECT vec_id AS qid, cid AS probe_cell FROM asg
               WHERE vec_id < 10),
    scored AS (
      SELECT p.qid, c.vec_id AS nid,
             {cos.format(a="q.v", b="c.v")} AS score
      FROM probes p
      JOIN v q      ON q.vec_id = p.qid
      JOIN cells ce ON ce.cell = p.probe_cell
      JOIN v c      ON c.vec_id = ce.vec_id AND c.vec_id <> p.qid
    )
    SELECT qid, nid, FLOOR(score * 10000) / 10000.0 AS score, rnk FROM (
      SELECT qid, nid, score,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY score DESC, nid ASC) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY qid, rnk
    """


def _cand_array(cent: DataFrame) -> DataFrame:
    """The quantizer's one-row form from a (cid, cv) centroid table: a
    cid-ASC-sorted array `cands` of (cid, cv, cnrm) structs — the layout
    `kmeans_train` returns and the broadcast side of the map-side argmax
    (`_fold_argmax_cell`). Centroid norms are precomputed once here
    instead of per (row, candidate) pair; the floored cosine each
    candidate produces is IEEE-identical either way (same doubles, same
    multiply)."""
    return cent.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("cid"),
                    F.col("cv"),
                    V.l2_norm(F.col("cv")).alias("cnrm"),
                )
            )
        ).alias("cands")
    )


def _explode_cands(cands: DataFrame) -> DataFrame:
    """(cid, cv) table view of a one-row `_cand_array`-layout frame."""
    return cands.select(F.explode("cands").alias("c")).select(
        F.col("c.cid").alias("cid"), F.col("c.cv").alias("cv")
    )


def _fold_argmax_cell(cands, v, nrm):
    """Per-row argmax over a broadcast candidate array sorted cid ASC:
    a strictly-greater fold keeps the FIRST best, reproducing the
    oracle's ROW_NUMBER() OVER (ORDER BY cos6 DESC, cid ASC) = 1 as a
    map-side expression — no explode, no window shuffle, no
    join-the-vectors-back. -2.0 sits below every real floored cosine
    (>= -1.0), so the first candidate always beats the init.

    Input contract: scores must be non-NaN — i.e. vectors
    and candidates carry finite components and nonzero norms, the
    module-docstring embedding precondition that
    tests/test_vector_edge_parity.py pins (zero-norm inputs fail fast
    under ANSI division long before this fold). A NaN cosine never
    compares greater than the init, so a degenerate row would keep
    cid = -1 where the window shape it replaces (Spark sorts NaN
    greatest) would have picked a real candidate; inside the contract
    the two shapes are value-identical."""
    init = F.struct(
        F.lit(-1).cast("bigint").alias("cid"), F.lit(-2.0).alias("cos")
    )

    def step(acc, c):
        cos = _f6(V.dot(v, c["cv"]) / (nrm * c["cnrm"]))
        return F.when(
            cos > acc["cos"],
            F.struct(c["cid"].alias("cid"), cos.alias("cos")),
        ).otherwise(acc)

    return F.aggregate(cands, init, step)["cid"]


def _assign1(v: DataFrame, cands: DataFrame) -> DataFrame:
    """(vec_id, v, cell): nearest centroid by (floored cosine DESC, cid
    ASC) as ONE map-side fold per row over the broadcast one-row
    quantizer `cands` (`kmeans_train`'s output). Value-equivalent to
    `_ivf_assign(v, cands, nprobe=1)` (same cosine expression, same
    tie-break), but the corpus row never moves: the window shape
    shuffles an n x cells (vec_id, cid, cos) frame and then joins the
    vectors back on vec_id — a join that plans as a vector-width corpus
    exchange once the corpus outgrows the broadcast threshold.
    Consumers that need the vector after assignment read it off this
    frame instead of re-joining."""
    return (
        v.crossJoin(F.broadcast(cands))
        .withColumn("nrm", V.l2_norm(F.col("v")))
        .select(
            "vec_id",
            "v",
            _fold_argmax_cell(
                F.col("cands"), F.col("v"), F.col("nrm")
            ).alias("cell"),
        )
    )


def kmeans_train(
    v: DataFrame,
    iters: int,
    n_cells: int = _KM_CELLS,
    seed_below: int | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Deterministic Lloyd training over an embedding frame (vec_id, v),
    returning the quantizer as ONE row: `cands`, a cid-ASC array of
    (cid, cv, cnrm) structs (`_cand_array`'s layout). Seeds are the
    points with vec_id < seed_below (default n_cells — the n_cells
    lowest-id vectors of a dense id space; sample-trained callers pass
    n_cells * mod to pick n_cells seeds out of a modular sample;
    hierarchy levels pass an explicit (cid, cv) `seeds` frame), then
    `iters` Lloyd rounds; iters=0 returns the raw seeds (the untrained
    quantizer). Consumers that need a (cid, cv) table take
    `_explode_cands` of the result.

    Leaf contract: after iters >= 1 the row is an eagerly-materialized
    localCheckpoint — callers may fan out over it without a persist
    (re-references re-scan the checkpointed row, never re-run
    training). The iters = 0 row is LAZY, with no checkpoint; a caller
    that fans out over an untrained quantizer must materialize it
    itself (production call sites all pass iters >= 1).

    Scale design: each round is (a) a per-row fold over the broadcast
    candidate array — the corpus NEVER shuffles, neither the vectors
    nor a (vec_id, cid, cos) window frame — and (b) a (cid)-keyed
    partial aggregate whose shuffle carries n_cells x dim decimal sums
    per partition, not vectors. Rounds are a driver-side loop over
    DataFrames (k-means|| would drop in for larger k); the quantizer
    stays a DataFrame — nothing collects. Centroid means use
    order-independent DECIMAL sums so the training run is bit-identical
    to the unrolled-SQL oracle in _kmeans_oracle — the training itself
    is differential-tested, which a literals-folded oracle could not
    do."""
    cent = (
        seeds
        if seeds is not None
        else v.filter(
            F.col("vec_id") < (n_cells if seed_below is None else seed_below)
        ).select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    # The 2 x dim aggregate/mean Column lists are loop-invariant
    # (unbound expressions) — build them ONCE. Constructing ~130 Column
    # objects is ~260 py4j round-trips plus analyzer passes over the
    # wide agg per round, measured at ~0.2-0.3 s of driver time per
    # Lloyd round at sf0.1.
    sum_cols = [
        F.sum(F.element_at("v", i).cast("decimal(25,15)")).alias(f"s{i}")
        for i in range(1, EMB_DIM + 1)
    ]
    mean_arr = F.array(
        *[
            F.col(f"s{i}").cast("double") / F.col("cnt")
            for i in range(1, EMB_DIM + 1)
        ]
    ).alias("cv_new")
    # The loop state is the one-row candidate array itself. Each round
    # is a single eager action (localCheckpoint of one row) covering the
    # broadcast of the previous row, the per-row assignment fold, the
    # wide (cid)-keyed partial aggregate, a map_from_entries reduction,
    # and an in-array transform that applies the new means; a centroid
    # whose cell emptied keeps its previous vector (try_element_at
    # misses -> coalesce), as the oracle's LEFT JOIN + COALESCE does.
    # The array stays cid-ASC because transform preserves positions and
    # no cid is ever added or removed. The per-round checkpoint keeps
    # plans flat instead of nesting the seed subtree 2^iters deep.
    cands = _cand_array(cent)
    per_cell_means = F.map_from_entries(
        F.collect_list(F.struct(F.col("cid"), F.col("cv_new")))
    ).alias("mm")
    for _ in range(iters):
        # Per-dim means as ONE wide (cid)-keyed aggregate: dim decimal
        # sums + a count per cell in a single shuffle. Each dim's mean
        # is the same SUM(CAST(val AS DECIMAL(25,15)))::double / count
        # the oracle computes, and array(i=1..dim) preserves dim order.
        new_map = (
            _assign1(v, cands)
            .select(F.col("cell").alias("cid"), "v")
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("cnt"), *sum_cols)
            .select("cid", mean_arr)
            .agg(per_cell_means)
        )

        def _apply_means(c):
            new_cv = F.coalesce(F.try_element_at(F.col("mm"), c["cid"]), c["cv"])
            return F.struct(
                c["cid"].alias("cid"),
                new_cv.alias("cv"),
                V.l2_norm(new_cv).alias("cnrm"),
            )

        cands = (
            cands.crossJoin(new_map)
            .select(F.transform(F.col("cands"), _apply_means).alias("cands"))
            .localCheckpoint()
        )
    return cands


def _ivf_assign(v: DataFrame, cands: DataFrame, nprobe: int) -> DataFrame:
    """(vec_id, cid, rn): each vector's nprobe nearest centroids of the
    one-row quantizer `cands` by floored cosine, ties broken on cid ASC
    (both engines identical). The window ranks (vector, centroid) rows,
    so the quantizer is exploded into its (cid, cv) table here."""
    cos_c = _f6(V.cosine(F.col("v"), F.col("cv")))
    wa = W.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), F.col("cid").asc())
    return (
        v.join(F.broadcast(_explode_cands(cands)))
        .select("vec_id", "cid", cos_c.alias("cos_c"))
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= nprobe)
        .select("vec_id", "cid", "rn")
    )


def ivf_search_topk(
    v: DataFrame, cands: DataFrame, n_queries: int = 10, nprobe: int = 2
) -> DataFrame:
    """Cell-pruned top-5 search against a `kmeans_train` quantizer
    (trained or seed): assign every vector to its cell, probe each
    query's nprobe nearest cells, score candidates exactly, rank. At
    100 TB the cell id is the partition key — candidate scoring is a
    cell-local join."""
    final_asg = persist_tracked(_ivf_assign(v, cands, nprobe=nprobe))
    cells = final_asg.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("member_id"), F.col("cid").alias("cell")
    )
    probes = final_asg.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("cid").alias("probe_cell")
    )
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    nbrs = v.select(F.col("vec_id").alias("nid"), F.col("v").alias("nv"))
    cand = (
        probes.join(F.broadcast(q), "qid")
        .join(cells, F.col("cell") == F.col("probe_cell"))
        .join(nbrs, F.col("nid") == F.col("member_id"))
        .filter(F.col("nid") != F.col("qid"))
    )
    ws = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        cand.select(
            "qid", "nid", _f6(V.cosine(F.col("qv"), F.col("nv"))).alias("score")
        )
        .withColumn("rnk", F.row_number().over(ws))
        .filter(F.col("rnk") <= 5)
        .select("qid", "nid", _f4(F.col("score")).alias("score"), "rnk")
        .orderBy("qid", "rnk")
    )


@register("ivf_kmeans_topk", oracle=_kmeans_oracle())
def ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with TRAINED centroids: 3 deterministic Lloyd iterations
    from the 16 lowest-id seeds, then the nprobe=2 cell-pruned search —
    full value-level oracle including the training (the oracle unrolls
    the same Lloyd iterations as a CTE chain).

    Addresses the untrained-centroid weakness of `ivf_ann_topk`. NB the
    driver's embeddings are near-isotropic, so training cannot raise
    recall THERE (no structure to learn; both layouts are balanced) —
    the recall contract in tests/test_similarity_ops.py therefore runs
    on seeded CLUSTERED vectors, where trained centroids must beat the
    raw seeds."""
    emb = table_par(spark, sf_dir, "embeddings")
    v = persist_tracked(emb.select("vec_id", V.as_double("embedding").alias("v")))
    # no persist: the trained quantizer is a checkpointed one-row leaf
    return ivf_search_topk(v, kmeans_train(v, iters=_KM_ITERS))


@register(
    "quantized_cosine_topk",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding,
             127.0 / GREATEST(list_max(list_transform(embedding,
                       x -> ABS(CAST(x AS DOUBLE)))), 1e-12) AS scale
      FROM embeddings
    ),
    n AS (
      SELECT vec_id,
             list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * scale)) AS qv
      FROM s
    ),
    v AS (
      SELECT vec_id, qv, {_NORM_SQL.format(a="qv")} AS qnrm FROM n
    ),
    q AS (SELECT vec_id AS qid, qv AS q_qv, qnrm AS q_qnrm FROM v WHERE vec_id < 10),
    scored AS (
      SELECT q.qid, c.vec_id AS nid,
             FLOOR(({_DOT_SQL.format(a="q.q_qv", b="c.qv")}
                   / (q.q_qnrm * c.qnrm)) * 10000) / 10000.0 AS score
      FROM q JOIN v c ON c.vec_id <> q.qid
    )
    SELECT qid, nid, score, rnk FROM (
      SELECT qid, nid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY qid, rnk
    """,
)
def quantized_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-5 over int8-QUANTIZED vectors (the compressed 100 TB
    serving path pairing with `embedding_quantization`): score = integer
    dot product of quantized arrays rescaled by the two per-vector
    scales. 4x less memory/broadcast volume than float32 with ~1e-2
    score error — tests/test_oracle_parity.py asserts recall@5 >= 0.9
    against the exact `cosine_topk_bruteforce`. Oracle: the integer dot
    and integer-sum norms are bit-identical doubles on both engines and
    the score is FLOOR-truncated at 4dp (portable IEEE ops, module
    docstring), so the quantized scores are fully value-checked, not
    rows-only. The round-to-INTEGER quantization itself keeps ROUND —
    portable at scale 0 (module helper comment).

    Input-domain precondition (magnitude-extreme sweep,
    test_vecmag_parity.py): a vector whose entries are all below
    ~max|x|/254 quantizes to ALL ZEROS (denormal-scale embeddings under
    the 1e-12 scale clamp do), making qnrm zero — the engine then fails
    FAST under ANSI (DIVIDE_BY_ZERO), the quantized extension of the
    zero-norm precondition pinned in test_vector_edge_parity.py. DuckDB
    would instead emit inf-ranked garbage, so the engine's loud failure
    is the correct behavior, not a parity gap."""
    emb = table_par(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    max_abs = F.array_max(F.transform("embedding", lambda x: F.abs(xd(x))))
    scale = F.lit(127.0) / F.greatest(max_abs, F.lit(1e-12))
    qv = F.transform("embedding", lambda x: F.round(xd(x) * F.col("_scale")).cast("int"))
    v = (
        emb.withColumn("_scale", scale)
        .select("vec_id", F.col("_scale").alias("scale"), qv.alias("qv"))
        .withColumn(
            "qnrm",
            F.sqrt(F.aggregate("qv", F.lit(0.0), lambda a, x: a + xd(x) * xd(x))),
        )
    )
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("qv").alias("q_qv"),
        F.col("qnrm").alias("q_qnrm"),
    )
    pairs = v.alias("c").join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    # integer dot product, then one rescale — the scales cancel in cosine
    idot = F.aggregate(
        F.zip_with("q_qv", "qv", lambda a, b: xd(a) * xd(b)), F.lit(0.0), lambda a, x: a + x
    )
    score = _f4(idot / (F.col("q_qnrm") * F.col("qnrm")))
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        pairs.select("qid", F.col("vec_id").alias("nid"), score.alias("score"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("qid", "rnk")
    )


# --- Product quantization (IVF-PQ's compression half) -------------------
# M subspaces x K codewords, Lloyd-trained per subspace; asymmetric
# distance computation (ADC) scores a candidate from its M-byte code and
# a per-query lookup table, never touching the float vector.
_PQ_M = 4                    # subspaces
_PQ_DSUB = EMB_DIM // _PQ_M  # dims per subspace (16)
_PQ_K = 16                   # codewords per subspace
_PQ_ITERS = 2                # Lloyd iterations per subspace
_PQ_R = 100                  # ADC shortlist size fed to the exact re-rank

_L2_SQL = (
    "list_sum(list_transform(range(1, LEN({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)
_L26 = "FLOOR((" + _L2_SQL + ") * 1000000) / 1000000.0"


def _pq_l2(a, b):
    """Squared L2 distance as the same sequential fold both engines run
    (zip-square-diff then left fold) — bit-identical, so the floored
    comparator in codeword assignment never splits between engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_subvectors(v: DataFrame) -> DataFrame:
    """(m, vec_id, sv): all M subvector slices in ONE map pass —
    posexplode of the slice array, no per-subspace scan."""
    slices = F.array(
        *[F.slice("v", m * _PQ_DSUB + 1, _PQ_DSUB) for m in range(_PQ_M)]
    )
    return v.select(
        "vec_id", F.posexplode(slices).alias("m", "sv")
    ).select(F.col("m").cast("int").alias("m"), "vec_id", "sv")


def _pq_cand_map(cb: DataFrame) -> DataFrame:
    """One-row frame: m -> cid-ASC-sorted array of (cid, cv) structs —
    the broadcast side of the map-side PQ codeword argmin
    (`_fold_argmin_code`), the `_cand_array` construction restated per
    subspace."""
    return (
        cb.groupBy("m")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cid"), F.col("cv")))
            ).alias("cands")
        )
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("m"), F.col("cands")))
            ).alias("_cmap")
        )
    )


def _fold_argmin_code(cands, sv):
    """Per-row argmin over a cid-ASC-sorted codeword array: a
    strictly-less fold keeps the FIRST best, reproducing the oracle's
    ROW_NUMBER() OVER (ORDER BY d6 ASC, cid ASC) = 1 as a map-side
    expression — the `_fold_argmax_cell` construction with the
    comparison direction flipped for distances. Infinity sits above
    every real floored squared-L2, so the first candidate always beats
    the init; d6 is the identical FLOOR-at-6dp sequential-fold distance
    the window shape ordered by."""
    init = F.struct(
        F.lit(-1).cast("bigint").alias("cid"),
        F.lit(float("inf")).alias("d"),
    )

    def step(acc, c):
        d6 = _f6(_pq_l2(sv, c["cv"]))
        return F.when(
            d6 < acc["d"],
            F.struct(c["cid"].alias("cid"), d6.alias("d")),
        ).otherwise(acc)

    return F.aggregate(cands, init, step)["cid"]


def _pq_nearest_code(
    subs: DataFrame, cmap: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(m, vec_id, *keep, code): each subvector's nearest codeword in
    ITS subspace by floored squared-L2, ties on cid ASC. One map-side
    fold per row over the broadcast one-row codeword map `cmap`
    (`_pq_cand_map`'s layout, which `_pq_lloyd` returns) — the
    `_assign1` shape: no window, no exchange. `keep` lets the trainer
    ride `sv` through assignment instead of joining it back."""
    code = _fold_argmin_code(
        F.element_at(F.col("_cmap"), F.col("m")), F.col("sv")
    )
    return subs.crossJoin(F.broadcast(cmap)).select(
        "m", "vec_id", *keep, code.alias("code")
    )


def _explode_cmap(cmap: DataFrame) -> DataFrame:
    """(m, cid, cv) table view of a one-row `_pq_cand_map`-layout frame."""
    return (
        cmap.select(F.explode("_cmap").alias("m", "cands"))
        .select("m", F.explode("cands").alias("c"))
        .select("m", F.col("c.cid").alias("cid"), F.col("c.cv").alias("cv"))
    )


def _pq_lloyd(subs: DataFrame) -> DataFrame:
    """Deterministic Lloyd over ALL subspaces at once — one frame
    (m, vec_id, sv), one corpus pass per round instead of M: seeds are
    the _PQ_K lowest-id subvectors per subspace, then _PQ_ITERS rounds
    of assignment by floored squared-L2 (cid ASC ties) and means
    through order-independent DECIMAL(25,15) sums — the same training
    contract as `kmeans_train`, restated for L2 on 16-dim slices so the
    unrolled-SQL oracle hash-matches the trained codebooks themselves,
    not just the final search. Returns the codebooks as ONE row:
    `_cmap`, m -> cid-ASC array of (cid, cv) (`_pq_cand_map`'s layout);
    `_explode_cmap` gives the (m, cid, cv) table.

    Each round is one eager action (localCheckpoint of the one-row map)
    covering the broadcast of the previous map, the per-row assignment
    fold (`sv` rides the assignment row, nothing is joined back), the
    wide (m, cid)-keyed partial aggregate (dsub decimal sums + a count
    in a single shuffle), a map_from_entries reduction keyed on
    (m, cid) structs, and an in-map transform applying the new means.
    A codeword whose cell emptied keeps its previous vector
    (try_element_at miss -> coalesce), as the oracle's LEFT JOIN +
    COALESCE does; each subspace's array stays cid-ASC because
    transform preserves positions and no codeword is ever added or
    removed."""
    cent = subs.filter(F.col("vec_id") < _PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    sum_cols = [
        F.sum(F.element_at("sv", i).cast("decimal(25,15)")).alias(f"s{i}")
        for i in range(1, _PQ_DSUB + 1)
    ]
    mean_arr = F.array(
        *[
            F.col(f"s{i}").cast("double") / F.col("cnt")
            for i in range(1, _PQ_DSUB + 1)
        ]
    ).alias("cv_new")
    per_code_means = F.map_from_entries(
        F.collect_list(
            F.struct(
                F.struct(F.col("m"), F.col("cid")).alias("key"),
                F.col("cv_new").alias("val"),
            )
        )
    ).alias("mm")
    cmap = _pq_cand_map(cent)
    for _ in range(_PQ_ITERS):
        asg = _pq_nearest_code(subs, cmap, keep=("sv",)).select(
            "m", F.col("code").alias("cid"), "sv"
        )
        mm = (
            asg.groupBy("m", "cid")
            .agg(F.count(F.lit(1)).alias("cnt"), *sum_cols)
            .select("m", "cid", mean_arr)
            .agg(per_code_means)
        )

        def _apply_means(mkey, arr):
            def _one(c):
                new_cv = F.coalesce(
                    F.try_element_at(
                        F.col("mm"),
                        F.struct(mkey.alias("m"), c["cid"].alias("cid")),
                    ),
                    c["cv"],
                )
                return F.struct(c["cid"].alias("cid"), new_cv.alias("cv"))

            return F.transform(arr, _one)

        cmap = (
            cmap.crossJoin(mm)
            .select(
                F.transform_values(F.col("_cmap"), _apply_means).alias("_cmap")
            )
            .localCheckpoint()
        )
    return cmap


def _pq_oracle() -> str:
    """DuckDB oracle for pq_adc_topk with all M per-subspace Lloyd
    trainings unrolled as CTE chains (the `_kmeans_oracle` pattern on
    list_slice'd subvectors), then encoding, the per-query LUT, and the
    ADC sum — every stage value-level differential-checked."""
    parts = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
    ]
    for m in range(_PQ_M):
        lo, hi = m * _PQ_DSUB + 1, (m + 1) * _PQ_DSUB
        parts.append(
            f"s{m} AS (SELECT vec_id, list_slice(v, {lo}, {hi}) AS sv FROM v)"
        )
        parts.append(
            f"p{m}i0 AS (SELECT vec_id AS cid, sv AS cv FROM s{m}"
            f" WHERE vec_id < {_PQ_K})"
        )
        for it in range(_PQ_ITERS):
            prev, cur, asg = f"p{m}i{it}", f"p{m}i{it + 1}", f"p{m}a{it}"
            parts.append(
                f"""{asg} AS (
      SELECT vec_id, cid FROM (
        SELECT s.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                 ORDER BY {_L26.format(a="s.sv", b="c.cv")} ASC, c.cid ASC) AS rn
        FROM s{m} s CROSS JOIN {prev} c
      ) WHERE rn = 1
    )"""
            )
            parts.append(
                f"""{cur} AS (
      SELECT p.cid, COALESCE(mm.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN (
        SELECT cid, list(mean ORDER BY dim) AS cv
        FROM (
          SELECT a.cid, t.dim,
                 CAST(SUM(CAST(s.sv[t.dim] AS DECIMAL(25,15))) AS DOUBLE)
                   / COUNT(*) AS mean
          FROM {asg} a JOIN s{m} s ON s.vec_id = a.vec_id
          CROSS JOIN (SELECT CAST(range AS INT) AS dim
                      FROM range(1, {_PQ_DSUB} + 1)) t
          GROUP BY a.cid, t.dim
        ) GROUP BY cid
      ) mm ON mm.cid = p.cid
    )"""
            )
        final = f"p{m}i{_PQ_ITERS}"
        parts.append(
            f"""e{m} AS (
      SELECT vec_id, cid AS code FROM (
        SELECT s.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                 ORDER BY {_L26.format(a="s.sv", b="c.cv")} ASC, c.cid ASC) AS rn
        FROM s{m} s CROSS JOIN {final} c
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""l{m} AS (
      SELECT q.vec_id AS qid, c.cid,
             {_DOT_SQL.format(a="q.sv", b="c.cv")} AS part
      FROM s{m} q CROSS JOIN {final} c WHERE q.vec_id < 10
    )"""
        )
    codes = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, code FROM e{m}" for m in range(_PQ_M)
    )
    luts = " UNION ALL ".join(
        f"SELECT qid, {m} AS m, cid, part FROM l{m}" for m in range(_PQ_M)
    )
    return f"""
    WITH {", ".join(parts)},
    codes AS ({codes}),
    luts AS ({luts}),
    adc AS (
      SELECT l.qid, c.vec_id AS nid,
             CAST(SUM(CAST(l.part AS DECIMAL(25,15))) AS DOUBLE) AS a
      FROM codes c JOIN luts l ON l.m = c.m AND l.cid = c.code
      WHERE c.vec_id <> l.qid
      GROUP BY l.qid, c.vec_id
    ),
    shortlist AS (
      SELECT qid, nid, a FROM (
        SELECT qid, nid, a,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY FLOOR(a * 1000000) / 1000000.0 DESC, nid ASC) AS arn
        FROM adc
      ) WHERE arn <= {_PQ_R}
    ),
    rerank AS (
      SELECT s.qid, s.nid, s.a,
             {_COS6.format(a="q.v", b="c.v")} AS cs
      FROM shortlist s
      JOIN v q ON q.vec_id = s.qid
      JOIN v c ON c.vec_id = s.nid
    )
    SELECT qid, nid, FLOOR(a * 10000) / 10000.0 AS adc_score,
           FLOOR(cs * 10000) / 10000.0 AS score, rnk
    FROM (
      SELECT qid, nid, a, cs,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cs DESC, nid ASC) AS rnk
      FROM rerank
    ) WHERE rnk <= 5
    ORDER BY qid, rnk
    """


@register("pq_adc_rerank_topk", oracle=_pq_oracle())
def pq_adc_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization retrieval: ADC shortlist + exact re-rank —
    the compression half of IVF-PQ, the standard billion-scale ANN
    layout. Each vector is encoded as M=4 codeword ids (one per 16-dim
    subspace, codebooks Lloyd-trained per subspace); a query scores
    every candidate as the sum of M LUT entries (query-subvector .
    codeword dots) WITHOUT touching its float vector, keeps the ADC
    top-100 shortlist, and re-ranks only those 100 with exact cosine —
    the two-stage shape production PQ systems run (ADC scan ->
    refine). Measured recall@5 vs `cosine_topk_bruteforce` on the
    near-random driver embeddings (PQ's hardest case): 0.88 at sf0.01,
    pinned >= 0.8 in tests/test_oracle_parity.py; pure ADC without the
    re-rank measures 0.30-0.34 across (M, K) sweeps, which is why the
    registered query is the cascade, not the raw code ranking.

    Scale design: codebooks are M x K rows — broadcast; encoding is a
    per-vector argmin fold over the broadcast one-row codeword map (no
    exchange, the `_assign1` shape); the search scan reads only the
    M-small-int code columns (4 bytes/vector vs 256 for float32 — the
    64x scan-volume reduction that makes the exhaustive ADC pass
    feasible at 100 TB), joins the broadcast 10 x M x K LUT map-side,
    and the ADC sum is one narrow (qid, nid) partial aggregate; the
    exact re-rank touches float vectors for only R=100 rows per query
    via a broadcast semi-join on the shortlist. IVF cell pruning
    (`ivf_kmeans_topk`) composes orthogonally in front of the scan.

    Determinism: codeword assignment orders by FLOOR-at-6dp squared-L2
    with cid ASC ties (sequential-fold distance, bit-identical both
    engines); centroid means ride order-independent DECIMAL(25,15)
    sums; the ADC sum is a DECIMAL sum of per-subspace dots; shortlist
    and final ranks carry (floored score DESC, nid ASC) total orders —
    the trained codebooks, the codes, the shortlist, and both score
    columns all hash-match the fully-unrolled SQL oracle."""
    v = persist_tracked(
        table_par(spark, sf_dir, "embeddings").select(
            "vec_id", V.as_double("embedding").alias("v")
        )
    )
    subs = persist_tracked(_pq_subvectors(v))
    # encoding folds over the trained one-row map; the LUT build reads
    # the exploded view of the same checkpointed leaf
    cmap = _pq_lloyd(subs)
    cb = _explode_cmap(cmap)
    codes = _pq_nearest_code(subs, cmap)
    luts = (
        subs.filter(F.col("vec_id") < 10)
        .join(F.broadcast(cb), "m")
        .select(
            F.col("vec_id").alias("qid"),
            F.col("m").alias("lm"),
            "cid",
            V.dot(F.col("sv"), F.col("cv")).alias("part"),
        )
    )
    j = codes.join(
        F.broadcast(luts),
        (F.col("m") == F.col("lm"))
        & (F.col("cid") == F.col("code"))
        & (F.col("vec_id") != F.col("qid")),
    )
    adc = j.groupBy("qid", F.col("vec_id").alias("nid")).agg(
        F.sum(F.col("part").cast("decimal(25,15)")).cast("double").alias("a")
    )
    wa = W.partitionBy("qid").orderBy(_f6(F.col("a")).desc(), F.col("nid").asc())
    shortlist = (
        adc.withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") <= _PQ_R)
        .select("qid", "nid", "a")
    )
    # exact re-rank: float vectors touched only for the R-per-query
    # shortlist (broadcast), never for the full corpus
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    rerank = (
        v.join(F.broadcast(shortlist), F.col("vec_id") == F.col("nid"))
        .join(F.broadcast(q), F.col("qid") == F.col("q_id"))
        .select(
            "qid", "nid", "a",
            _f6(V.cosine(F.col("qv"), F.col("v"))).alias("cs"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("cs").desc(), F.col("nid").asc())
    return (
        rerank.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "qid",
            "nid",
            _f4(F.col("a")).alias("adc_score"),
            _f4(F.col("cs")).alias("score"),
            "rnk",
        )
        .orderBy("qid", "rnk")
    )


@register(
    "retrieval_join_docs",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 5),
    scored AS (
      SELECT q.qid, c.vec_id AS nid,
             FLOOR(({_DOT_SQL.format(a="q.qv", b="c.v")}
                   / ({_NORM_SQL.format(a="q.qv")} * {_NORM_SQL.format(a="c.v")}))
                   * 10000) / 10000.0 AS score
      FROM q JOIN v c ON c.vec_id <> q.qid
    ),
    topk AS (
      SELECT qid, nid, score, rnk FROM (
        SELECT qid, nid, score,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY score DESC, nid ASC) AS rnk
        FROM scored
      ) WHERE rnk <= 3
    )
    SELECT t.qid, t.nid, t.score, t.rnk, d.lang,
           CAST(LEN(list_filter(string_split_regex(lower(d.text), '\\W+'),
                tok -> tok <> '')) AS INT) AS n_tokens
    FROM topk t JOIN documents d ON d.doc_id = t.nid
    ORDER BY qid, rnk
    """,
)
def retrieval_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-shaped retrieval pipeline: exact cosine top-3 per query vector
    joined back to the documents table for neighbor payloads (lang,
    token count) — the ANN-hit -> document-fetch join every retrieval
    stack runs. The top-k result (5 queries x 3) is tiny, so Catalyst
    broadcast-joins it against documents: no fact-side shuffle; at
    100 TB the fetch side is a co-partitioned key lookup instead."""
    from transit_feed_etl_spark.operators import textfns as TX

    emb = table_par(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", V.as_double("embedding").alias("v")).withColumn(
        "nrm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    )
    q = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    pairs = v.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    score = _f4(dot / (F.col("qnrm") * F.col("nrm")))
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    topk = (
        pairs.select("qid", F.col("vec_id").alias("nid"), score.alias("score"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )
    docs = table_par(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(TX.tokens("text")).alias("n_tokens")
    )
    return (
        docs.join(F.broadcast(topk), F.col("doc_id") == F.col("nid"))
        .select("qid", "nid", "score", "rnk", "lang", "n_tokens")
        .orderBy("qid", "rnk")
    )


@register("truncated_cosine_topk", oracle=_cosine_topk_oracle("embedding[1:16]"))
def truncated_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style DIMENSION truncation: cosine top-5 on the first
    16 of 64 dims — 4× less compute/shuffle per comparison, the standard
    coarse-ranking stage before full-dimension re-scoring (candidate
    generation gets cheap; the re-score pass restores quality). Slice
    happens at the scan so only 16 doubles ever leave the projection."""
    return _cosine_topk(spark, sf_dir, F.slice(V.as_double("embedding"), 1, 16))


@register(
    "binary_hamming_topk",
    oracle=f"""
    WITH b AS (
      SELECT vec_id,
             list_sum(list_transform(range(1, {EMB_DIM} + 1),
               i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
                    THEN CAST(POWER(2, (i - 1) % 32) AS BIGINT) *
                         CASE WHEN i <= 32 THEN 1 ELSE 0 END ELSE 0 END)) AS w0,
             list_sum(list_transform(range(1, {EMB_DIM} + 1),
               i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
                    THEN CAST(POWER(2, (i - 1) % 32) AS BIGINT) *
                         CASE WHEN i > 32 THEN 1 ELSE 0 END ELSE 0 END)) AS w1
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, w0 AS q0, w1 AS q1 FROM b WHERE vec_id < 10),
    scored AS (
      SELECT q.qid, c.vec_id AS nid,
             CAST(bit_count(xor(q.q0, c.w0)) + bit_count(xor(q.q1, c.w1)) AS INT)
               AS hamming
      FROM q JOIN b c ON c.vec_id <> q.qid
    )
    SELECT qid, nid, hamming, rnk FROM (
      SELECT qid, nid, hamming,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY hamming ASC, nid ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    ORDER BY qid, rnk
    """,
)
def binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY quantization retrieval: each vector collapses to 64 sign
    bits packed into two 32-bit words; neighbor ranking is XOR+popcount
    Hamming distance — 32× less memory than float32 and the comparison
    is two machine instructions, the coarsest/cheapest tier of a
    multi-stage retrieval cascade (binary -> int8 -> float re-score,
    all three tiers implemented in this module). Bit packing is an
    integer-exact fold, so the oracle reproduces it verbatim."""
    emb = table_par(spark, sf_dir, "embeddings")

    def pack(lo: int, hi: int) -> F.Column:
        idx = F.sequence(F.lit(lo), F.lit(hi))
        return F.aggregate(
            idx,
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(
                F.element_at(V.as_double(F.col("embedding")), i.cast("int")) > 0,
                # pow is exact for 2^k, k <= 52 — shiftleft needs a
                # literal shift amount, which a lambda index is not
                F.pow(F.lit(2.0), ((i - 1) % 32).cast("double")).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )

    b = emb.select("vec_id", pack(1, 32).alias("w0"), pack(33, 64).alias("w1"))
    q = b.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("w0").alias("q0"), F.col("w1").alias("q1")
    )
    pairs = b.alias("c").join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    hamming = (
        F.bit_count(F.col("q0").bitwiseXOR(F.col("w0")))
        + F.bit_count(F.col("q1").bitwiseXOR(F.col("w1")))
    ).cast("int")
    w = W.partitionBy("qid").orderBy(F.col("hamming").asc(), F.col("nid").asc())
    return (
        pairs.select("qid", F.col("vec_id").alias("nid"), hamming.alias("hamming"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("qid", "rnk")
    )


_PACK_SQL = """list_sum(list_transform(range({lo}, {hi} + 1),
               i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
                    THEN CAST(POWER(2, (i - {lo}) % 32) AS BIGINT) ELSE 0 END))"""


@register(
    "cascade_retrieval_topk",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_PACK_SQL.format(lo=1, hi=32)} AS w0,
             {_PACK_SQL.format(lo=33, hi=64)} AS w1
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv, w0 AS q0, w1 AS q1 FROM b
          WHERE vec_id < 10),
    coarse AS (
      SELECT qid, nid, qv, cv FROM (
        SELECT q.qid, c.vec_id AS nid, q.qv, c.v AS cv,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY bit_count(xor(q.q0, c.w0))
                          + bit_count(xor(q.q1, c.w1)) ASC, c.vec_id ASC) AS crnk
        FROM q JOIN b c ON c.vec_id <> q.qid
      ) WHERE crnk <= 50
    ),
    rescored AS (
      SELECT qid, nid,
             FLOOR(({_DOT_SQL.format(a="qv", b="cv")}
                   / ({_NORM_SQL.format(a="qv")} * {_NORM_SQL.format(a="cv")}))
                   * 10000) / 10000.0 AS score
      FROM coarse
    )
    SELECT qid, nid, score, rnk FROM (
      SELECT qid, nid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rnk
      FROM rescored
    ) WHERE rnk <= 5
    ORDER BY qid, rnk
    """,
)
def cascade_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full retrieval CASCADE in one plan: binary sign-bit Hamming
    generates 50 coarse candidates per query (XOR+popcount over two
    packed words — 32x cheaper than float math), then ONLY those 50 get
    the exact float cosine re-score for the final top-5. At 100 TB the
    expensive stage touches 50/N of the corpus per query instead of N —
    the standard production shape (binary -> rescore; int8 and
    Matryoshka tiers slot between the same way). End-to-end value-level
    oracle: both stages, including the candidate cut, are reproduced in
    SQL."""
    emb = table_par(spark, sf_dir, "embeddings")

    def pack(lo: int, hi: int) -> F.Column:
        idx = F.sequence(F.lit(lo), F.lit(hi))
        return F.aggregate(
            idx,
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(
                F.element_at(V.as_double(F.col("embedding")), i.cast("int")) > 0,
                F.pow(F.lit(2.0), ((i - lo) % 32).cast("double")).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )

    b = emb.select(
        "vec_id",
        V.as_double("embedding").alias("v"),
        pack(1, 32).alias("w0"),
        pack(33, 64).alias("w1"),
    )
    q = b.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("w0").alias("q0"),
        F.col("w1").alias("q1"),
    )
    pairs = b.alias("c").join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    hamming = F.bit_count(F.col("q0").bitwiseXOR(F.col("w0"))) + F.bit_count(
        F.col("q1").bitwiseXOR(F.col("w1"))
    )
    wc = W.partitionBy("qid").orderBy(hamming.asc(), F.col("vec_id").asc())
    coarse = (
        pairs.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= 50)
        .select("qid", F.col("vec_id").alias("nid"), "qv", F.col("v").alias("cv"))
    )
    score = _f4(
        V.dot(F.col("qv"), F.col("cv"))
        / (V.l2_norm(F.col("qv")) * V.l2_norm(F.col("cv")))
    )
    wf = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        coarse.select("qid", "nid", score.alias("score"))
        .withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= 5)
        .orderBy("qid", "rnk")
    )


@register(
    "rrf_fusion_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST(embedding[1:16] AS DOUBLE[]) AS v16
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv, v16 AS qv16 FROM v WHERE vec_id < 10),
    full_rank AS (
      SELECT q.qid, c.vec_id AS nid,
             ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
               FLOOR(({_DOT_SQL.format(a="q.qv", b="c.v")}
                     / ({_NORM_SQL.format(a="q.qv")} * {_NORM_SQL.format(a="c.v")}))
                     * 10000) / 10000.0 DESC, c.vec_id ASC) AS r
      FROM q JOIN v c ON c.vec_id <> q.qid
    ),
    trunc_rank AS (
      SELECT q.qid, c.vec_id AS nid,
             ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
               FLOOR(({_DOT_SQL.format(a="q.qv16", b="c.v16")}
                     / ({_NORM_SQL.format(a="q.qv16")} * {_NORM_SQL.format(a="c.v16")}))
                     * 10000) / 10000.0 DESC, c.vec_id ASC) AS r
      FROM q JOIN v c ON c.vec_id <> q.qid
    ),
    fused AS (
      SELECT f.qid, f.nid,
             CAST(FLOOR((1.0 / (60 + f.r) + 1.0 / (60 + t.r)) * 1e9) AS BIGINT)
               AS rrf_e9
      FROM full_rank f JOIN trunc_rank t ON t.qid = f.qid AND t.nid = f.nid
    )
    SELECT qid, nid, rrf_e9, rnk FROM (
      SELECT qid, nid, rrf_e9,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY rrf_e9 DESC, nid ASC) AS rnk
      FROM fused
    ) WHERE rnk <= 5
    ORDER BY qid, rnk
    """,
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two retrieval tiers — the full
    64-dim cosine ranking and the Matryoshka 16-dim ranking — the
    standard hybrid-search combiner (rank-space fusion needs no score
    calibration between tiers). Each tier is a window ranking; fusion is
    an equi-join on (qid, nid) + integer-scaled reciprocal sums, so the
    result is exactly reproducible (floor-scaled e9 avoids float-tie
    drift). At scale each tier would be its own ANN service; the fusion
    join stays |q| x depth."""
    emb = table_par(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        V.as_double("embedding").alias("v"),
        F.slice(V.as_double("embedding"), 1, 16).alias("v16"),
    ).withColumn("nrm", V.l2_norm(F.col("v"))).withColumn(
        "nrm16", V.l2_norm(F.col("v16"))
    )
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("v16").alias("qv16"),
        F.col("nrm").alias("qnrm"),
        F.col("nrm16").alias("qnrm16"),
    )
    pairs = v.alias("c").join(F.broadcast(q), F.col("vec_id") != F.col("qid"))

    def tier(vec, qvec, nrm, qnrm):
        score = _f4(V.dot(F.col(qvec), F.col(vec)) / (F.col(qnrm) * F.col(nrm)))
        w = W.partitionBy("qid").orderBy(score.desc(), F.col("vec_id").asc())
        return F.row_number().over(w)

    ranked = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        tier("v", "qv", "nrm", "qnrm").alias("r_full"),
        tier("v16", "qv16", "nrm16", "qnrm16").alias("r_trunc"),
    )
    rrf = F.floor(
        (1.0 / (60 + F.col("r_full")) + 1.0 / (60 + F.col("r_trunc"))) * 1e9
    ).cast("long")
    wf = W.partitionBy("qid").orderBy(F.col("rrf_e9").desc(), F.col("nid").asc())
    return (
        ranked.withColumn("rrf_e9", rrf)
        .withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= 5)
        .select("qid", "nid", "rrf_e9", "rnk")
        .orderBy("qid", "rnk")
    )


_COSINE_PAIRS_SQL = f"""
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      )
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE FLOOR(({_DOT_SQL.format(a="a.v", b="b.v")}
                  / ({_NORM_SQL.format(a="a.v")} * {_NORM_SQL.format(a="b.v")}))
                  * 10000) / 10000.0 >= {_CLUSTER_COS_TH}
"""


@register(
    "embedding_dedup_clusters",
    oracle=components_sql(_COSINE_PAIRS_SQL, "vec_id")
    + """
    SELECT vec_id, canonical_id,
           CAST(COUNT(*) OVER (PARTITION BY canonical_id) AS INT) AS cluster_size
    FROM cc
    ORDER BY canonical_id, vec_id
    """,
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup clusters: cosine >= _CLUSTER_COS_TH near-dup
    pairs (the blocked numpy kernel as candidate generator; see the
    constants' comments for the corpus-driven cuts) resolved into
    transitive components — the embedding-space twin of the n-gram
    `dedup_clusters`, proving the component operator composes across
    similarity substrates. Same min-label-propagation fixpoint, same
    recursive-CTE oracle. The threshold cut re-evaluates the exact
    sequential fold on the kernel's candidates (same rationale as
    `embedding_neardup_pairs`: FLOOR makes BLAS fold noise visible at
    on-grid scores, so the decisive expression must be the oracle's
    own IEEE tree)."""
    pairs = persist_tracked(
        _cosine_pairs(spark, sf_dir, _CLUSTER_COS_TH).select("id_a", "id_b")
    )
    cc = connected_components(pairs, src="id_a", dst="id_b")
    w = W.partitionBy("canonical_id")
    return (
        cc.select(F.col("node").alias("vec_id"), F.col("label").alias("canonical_id"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("int"))
        .orderBy("canonical_id", "vec_id")
    )


@register(
    "embedding_mean_by_bucket",
    oracle=f"""
    WITH v AS (
      SELECT vec_id % 8 AS bucket, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT bucket, t.dim,
             CAST(SUM(CAST(v[t.dim] AS DECIMAL(25,15))) AS DOUBLE) / COUNT(*) AS mean
      FROM v CROSS JOIN (SELECT CAST(range AS INT) AS dim
                         FROM range(1, {EMB_DIM} + 1)) t
      GROUP BY bucket, t.dim
    )
    SELECT bucket, COUNT(*) AS n_dims,
           CAST(FLOOR(SQRT(CAST(SUM(CAST(mean * mean AS DECIMAL(25,18))) AS DOUBLE))
                * 1e6) AS BIGINT) AS centroid_norm_e6,
           CAST(FLOOR(MAX(mean) * 1e6) AS BIGINT) AS max_dim_mean_e6
    FROM dims
    GROUP BY bucket ORDER BY bucket
    """,
)
def embedding_mean_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pooled centroid per group (vec_id % 8 buckets): per-dimension
    decimal-exact means — the class-centroid / prototype-embedding
    aggregation (same kernel the k-means trainer uses, exposed as a
    query). posexplode + groupBy(bucket, dim) keeps the aggregation
    PARTIAL-AGGREGATABLE (a collect_list-then-fold variant would haul
    every vector of a group to one reducer — the shape that OOMs on a
    hot class at 100 TB); the shuffle carries one partial decimal sum
    per (partition, bucket, dim)."""
    emb = table_par(spark, sf_dir, "embeddings")
    d = emb.select(
        (F.col("vec_id") % 8).alias("bucket"),
        F.posexplode(V.as_double("embedding")).alias("dim0", "x"),
    )
    dims = d.groupBy("bucket", "dim0").agg(
        (
            F.sum(F.col("x").cast("decimal(25,15)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean")
    )
    return (
        dims.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            F.floor(
                F.sqrt(
                    F.sum(
                        (F.col("mean") * F.col("mean")).cast("decimal(25,18)")
                    ).cast("double")
                )
                * 1e6
            )
            .cast("long")
            .alias("centroid_norm_e6"),
            F.floor(F.max("mean") * 1e6).cast("long").alias("max_dim_mean_e6"),
        )
        .orderBy("bucket")
    )


_MMR_LAMBDA, _MMR_DEPTH, _MMR_K = 0.7, 10, 5


def _mmr_oracle() -> str:
    """MMR greedy selection unrolled as a CTE chain (same technique as
    the k-means training oracle): each of the 5 steps picks, per query,
    the candidate maximizing lambda*sim(q,c) - (1-lambda)*max_sim(c,
    selected), with FLOOR-at-6dp scores and nid tie-breaks — every pick
    is value-level differential-checked."""
    cos = (
        f"FLOOR(({_DOT_SQL.format(a='{a}', b='{b}')}"
        f" / ({_NORM_SQL.format(a='{a}')} * {_NORM_SQL.format(a='{b}')}))"
        f" * 10000) / 10000.0"
    )
    parts = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 5)""",
        f"""cand AS (
      SELECT qid, nid, simq, cv FROM (
        SELECT q.qid, c.vec_id AS nid, q.qv, c.v AS cv,
               {cos.format(a='q.qv', b='c.v')} AS simq,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {cos.format(a='q.qv', b='c.v')} DESC, c.vec_id ASC) AS rn
        FROM q JOIN v c ON c.vec_id <> q.qid
      ) WHERE rn <= {_MMR_DEPTH}
    )""",
        f"""pairsim AS (
      SELECT a.qid, a.nid AS nid1, b.nid AS nid2,
             {cos.format(a='a.cv', b='b.cv')} AS sim
      FROM cand a JOIN cand b ON b.qid = a.qid AND b.nid <> a.nid
    )""",
        """sel0 AS (SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid,
                    0 AS step WHERE FALSE)""",
    ]
    lam = _MMR_LAMBDA
    for k in range(1, _MMR_K + 1):
        prev = f"sel{k - 1}"
        parts.append(
            f"""pick{k} AS (
      SELECT qid, nid FROM (
        SELECT c.qid, c.nid,
               ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
                 FLOOR(({lam} * c.simq - {round(1 - lam, 10)} * COALESCE(p.pen, 0.0))
                   * 1000000) / 1000000.0
                   DESC, c.nid ASC) AS rn
        FROM cand c
        LEFT JOIN (
          SELECT ps.qid, ps.nid1 AS nid, MAX(ps.sim) AS pen
          FROM pairsim ps JOIN {prev} s ON s.qid = ps.qid AND s.nid = ps.nid2
          GROUP BY ps.qid, ps.nid1
        ) p ON p.qid = c.qid AND p.nid = c.nid
        WHERE NOT EXISTS (SELECT 1 FROM {prev} s2
                          WHERE s2.qid = c.qid AND s2.nid = c.nid)
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""sel{k} AS (
      SELECT * FROM {prev}
      UNION ALL
      SELECT qid, nid, {k} AS step FROM pick{k}
    )"""
        )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT qid, nid, CAST(step AS INT) AS step
    FROM sel{_MMR_K}
    ORDER BY qid, step"""
    )


@register("mmr_diversified_topk", oracle=_mmr_oracle())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: from each query's top-10
    cosine candidates, greedily select 5 balancing relevance against
    redundancy (lambda=0.7) — the diversity stage after retrieval,
    before context assembly. Greedy selection is sequential in k but
    PARALLEL ACROSS QUERIES: each of the 5 driver-side iterations is one
    distributed plan over the bounded (|q| x depth) candidate set, so at
    scale the loop cost is 5 tiny jobs regardless of corpus size. The
    oracle unrolls the identical greedy chain as CTEs — every pick
    value-checked."""
    emb = table_par(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", V.as_double("embedding").alias("v")).withColumn(
        "nrm", V.l2_norm(F.col("v"))
    )
    q = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    pairs = v.alias("c").join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    simq = _f4(V.dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")))
    wq = W.partitionBy("qid").orderBy(simq.desc(), F.col("vec_id").asc())
    # localCheckpoint, not persist: every greedy step's plan would
    # otherwise NEST the previous steps' cached adaptive subplans, and
    # plan-compile cost grows superlinearly with k (measured 42 s -> 8 s
    # for the whole query at sf0.01 from cutting lineage instead of
    # caching it). Checkpointed partitions live on executors; for a
    # fault-tolerant long-running job use checkpoint() with a reliable
    # dir instead.
    cand = (
        pairs.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _MMR_DEPTH)
        .select("qid", F.col("vec_id").alias("nid"), simq.alias("simq"), F.col("v").alias("cv"))
        .localCheckpoint()
    )
    a = cand.select("qid", F.col("nid").alias("nid1"), F.col("cv").alias("v1"))
    b = cand.select(F.col("qid").alias("qid2"), F.col("nid").alias("nid2"), F.col("cv").alias("v2"))
    psim = _f4(
        V.dot(F.col("v1"), F.col("v2")) / (V.l2_norm(F.col("v1")) * V.l2_norm(F.col("v2")))
    )
    pairsim = (
        a.join(b, (F.col("qid") == F.col("qid2")) & (F.col("nid1") != F.col("nid2")))
        .select("qid", "nid1", "nid2", psim.alias("sim"))
        .localCheckpoint()
    )
    sel = None  # DataFrame(qid, nid, step)
    lam = _MMR_LAMBDA
    # the oracle folds round(1-lam, 10) as its literal; using raw
    # (1 - lam) here would bake the 1-ulp-different Python double
    # 0.30000000000000004 into the Spark plan — same constant, same bits
    mu = round(1 - lam, 10)
    for k in range(1, _MMR_K + 1):
        if sel is None:
            pen = None
            remaining = cand
        else:
            pen = (
                pairsim.join(
                    sel.select(F.col("qid").alias("sq"), F.col("nid").alias("snid")),
                    (F.col("qid") == F.col("sq")) & (F.col("nid2") == F.col("snid")),
                )
                .groupBy("qid", "nid1")
                .agg(F.max("sim").alias("pen"))
            )
            remaining = cand.join(
                sel.select(F.col("qid").alias("xq"), F.col("nid").alias("xnid")),
                (F.col("qid") == F.col("xq")) & (F.col("nid") == F.col("xnid")),
                "left_anti",
            )
        scored = (
            remaining
            if pen is None
            else remaining.join(
                pen,
                (remaining["qid"] == pen["qid"]) & (remaining["nid"] == pen["nid1"]),
                "left",
            ).select(remaining["qid"], remaining["nid"], remaining["simq"], pen["pen"])
        )
        if pen is None:
            scored = scored.select("qid", "nid", "simq", F.lit(None).cast("double").alias("pen"))
        mmr = _f6(
            lam * F.col("simq") - mu * F.coalesce(F.col("pen"), F.lit(0.0))
        )
        wp = W.partitionBy("qid").orderBy(mmr.desc(), F.col("nid").asc())
        pick = (
            scored.withColumn("prn", F.row_number().over(wp))
            .filter(F.col("prn") == 1)
            .select("qid", "nid", F.lit(k).alias("step"))
        )
        # eager localCheckpoint materializes the step AND cuts lineage
        sel = (pick if sel is None else sel.unionByName(pick)).localCheckpoint()
    return sel.select("qid", "nid", F.col("step").cast("int").alias("step")).orderBy(
        "qid", "step"
    )


_PCA_ITERS = 3


def _pca_oracle() -> str:
    """DuckDB oracle for pca_top_component with the power iteration
    unrolled as a CTE chain — covariance accumulation, every
    matrix-vector product, the norm, and the final projection all go
    through order-independent DECIMAL sums, so the whole training is
    bit-identical in both engines (same contract as _kmeans_oracle)."""
    parts = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        f"""ex AS (
      SELECT vec_id, CAST(t.i AS INT) AS i, e[t.i] AS x
      FROM v, (SELECT CAST(range AS INT) AS i
               FROM range(1, {EMB_DIM} + 1)) t
    )""",
        """mean AS (
      SELECT i, CAST(SUM(CAST(x AS DECIMAL(25,15))) AS DOUBLE) / COUNT(*) AS m
      FROM ex GROUP BY i
    )""",
        """cx AS (
      SELECT ex.vec_id, ex.i, ex.x - mean.m AS c FROM ex JOIN mean USING (i)
    )""",
        """cov AS (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(CAST(a.c * b.c AS DECIMAL(25,15))) AS DOUBLE) AS cij
      FROM cx a JOIN cx b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    )""",
        f"""v0 AS (
      SELECT CAST(range AS INT) AS i, CAST(1.0 AS DOUBLE) AS vv
      FROM range(1, {EMB_DIM} + 1)
    )""",
    ]
    for k in range(_PCA_ITERS):
        parts.append(
            f"""w{k} AS (
      SELECT c.i, CAST(SUM(CAST(c.cij * p.vv AS DECIMAL(25,15))) AS DOUBLE) AS w
      FROM cov c JOIN v{k} p ON p.i = c.j
      GROUP BY c.i
    )"""
        )
        parts.append(
            f"""n{k} AS (
      SELECT SQRT(CAST(SUM(CAST(w * w AS DECIMAL(38,15))) AS DOUBLE)) AS nrm
      FROM w{k}
    )"""
        )
        parts.append(
            f"""v{k + 1} AS (
      SELECT i, w / (SELECT nrm FROM n{k}) AS vv FROM w{k}
    )"""
        )
    return f"""
    WITH {", ".join(parts)},
    proj AS (
      SELECT cx.vec_id,
             CAST(SUM(CAST(cx.c * p.vv AS DECIMAL(25,15))) AS DOUBLE) AS s
      FROM cx JOIN v{_PCA_ITERS} p USING (i)
      GROUP BY cx.vec_id
    ),
    sc AS (SELECT vec_id, CAST(FLOOR(s * 1e6) AS BIGINT) AS pc1_e6 FROM proj)
    SELECT * FROM (
      (SELECT 'max' AS which, vec_id, pc1_e6 FROM sc
       ORDER BY pc1_e6 DESC, vec_id LIMIT 5)
      UNION ALL
      (SELECT 'min' AS which, vec_id, pc1_e6 FROM sc
       ORDER BY pc1_e6 ASC, vec_id LIMIT 5)
    ) ORDER BY which DESC, pc1_e6, vec_id
    """


@register("pca_top_component", oracle=_pca_oracle())
def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA: top principal component of the embedding corpus
    by {_PCA_ITERS}-round power iteration over the centered scatter
    matrix, then the corpus extremes (5 highest / 5 lowest PC1 scores) —
    the diversity-axis / outlier probe a curation pipeline runs to see
    what its embedding space actually spreads along.

    Scale design: the only corpus-sized passes are (1) the per-dimension
    mean and (2) the scatter-matrix accumulation — an explode to
    (i, j, c_i*c_j) contributions that PARTIAL-AGGREGATES to d^2 = {EMB_DIM}^2
    rows per partition before the one shuffle, so no n x n (or n x d^2)
    relation ever moves. Power iteration then runs on the d^2-row scatter
    relation with a broadcast d-vector per round: corpus data is touched
    exactly twice (once more for the final projection). Determinism:
    every sum is an order-independent DECIMAL accumulation and every
    double op is a single IEEE instruction replayed by the unrolled-SQL
    oracle; scores ship as FLOOR-scaled e6 integers (tie-free, see
    embedding_quantization).

    Input-domain precondition (tests/test_vector_edge_parity.py): the
    corpus needs n >= 2 vectors with nonzero variance — a single (or
    fully constant) sample centers to the zero matrix and the power
    iteration's normalization fails fast under ANSI (0/0), the right
    answer for an undefined principal axis."""
    cxd = _pca_centered(spark, sf_dir)
    varr = _pca_power(_scatter_matrix(cxd))
    cxe = cxd.select("vec_id", F.posexplode("c").alias("pos", "cval")).select(
        "vec_id", (F.col("pos") + 1).alias("i"), "cval"
    )
    proj = (
        cxe.crossJoin(F.broadcast(varr))
        .select("vec_id", (F.col("cval") * F.element_at("vv", F.col("i"))).alias("pd"))
        .groupBy("vec_id")
        .agg(F.sum(F.col("pd").cast("decimal(25,15)")).cast("double").alias("s"))
    )
    # Single-pass two-sided extreme selection: two independent
    # TakeOrdered scans for the max and min frontiers would each re-run
    # the projection pass (measured: two ~1.1-1.2 s 32-task jobs, zero
    # exchange reuse between the branches even at runtime), and a
    # localCheckpoint of the projection measured a wash (3.00 -> 3.25 s).
    # This shape evaluates the projection ONCE: a
    # per-partition pre-selection keeps each partition's 5 best rows
    # under BOTH total orders (two row_number windows sharing one
    # narrow (vec_id, pc1_e6, pid) exchange — any global-top-5 row is
    # by definition in its partition's top 5 under the same total
    # order), then ONE global aggregation assembles both 5-row
    # frontiers from the <= 10-rows-per-partition survivors. The final
    # union branches fan out over that one-row aggregate, not over the
    # projection subtree. Value-identical: both frontiers select by the
    # exact total orders the oracle's two LIMIT 5 scans use —
    # (pc1_e6 DESC, vec_id ASC) via the negated-key ascending sort
    # (|pc1_e6| = |floor(s * 1e6)| is far below LONG_MAX, so negation
    # is exact) and (pc1_e6 ASC, vec_id ASC) directly.
    sc = proj.select(
        "vec_id", F.floor(F.col("s") * 1e6).cast("long").alias("pc1_e6")
    )
    pid_sc = sc.withColumn("pid", F.spark_partition_id())
    w_top = W.partitionBy("pid").orderBy(F.desc("pc1_e6"), F.asc("vec_id"))
    w_bot = W.partitionBy("pid").orderBy(F.asc("pc1_e6"), F.asc("vec_id"))
    cand = (
        pid_sc.withColumn("rt", F.row_number().over(w_top))
        .withColumn("rb", F.row_number().over(w_bot))
        .filter((F.col("rt") <= 5) | (F.col("rb") <= 5))
    )
    both = cand.agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("pc1_e6", "vec_id"))), 1, 5
        ).alias("bot"),
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct((-F.col("pc1_e6")).alias("neg"), F.col("vec_id"))
                )
            ),
            1,
            5,
        ).alias("top"),
    )
    rows = F.concat(
        F.transform(
            F.col("top"),
            lambda s: F.struct(
                F.lit("max").alias("which"),
                s["vec_id"].alias("vec_id"),
                (-s["neg"]).alias("pc1_e6"),
            ),
        ),
        F.transform(
            F.col("bot"),
            lambda s: F.struct(
                F.lit("min").alias("which"),
                s["vec_id"].alias("vec_id"),
                s["pc1_e6"].alias("pc1_e6"),
            ),
        ),
    )
    return (
        both.select(F.explode(rows).alias("r"))
        .select("r.which", "r.vec_id", "r.pc1_e6")
        .orderBy(F.desc("which"), "pc1_e6", "vec_id")
    )


_SEMDEDUP_TAU = 0.25


def _semdedup_oracle() -> str:
    """DuckDB oracle for semdedup_prune: the SAME unrolled Lloyd
    training as _kmeans_oracle, then the cell-local pair scan and the
    keep-lowest-id pruning decision."""
    cells_cte = f"""cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_COS6.format(a="v.v", b="c.cv")} DESC, c.cid ASC) AS rn
        FROM v CROSS JOIN c{_KM_ITERS} c
      ) WHERE rn = 1
    )"""
    return _semdedup_prune_sql(
        _kmeans_training_parts(_KM_ITERS, _KM_CELLS) + [cells_cte], _SEMDEDUP_TAU
    )


def _semdedup_prune_sql(parts: list[str], tau: float) -> str:
    """The cell-local pair scan and keep-lowest-id prune decision over
    the CTEs `parts`, which define `v (vec_id, v)` and
    `cells (vec_id, cell)`."""
    cos = _COS6
    return f"""
    WITH {", ".join(parts)},
    pairs AS (
      SELECT ca.cell, ca.vec_id AS ida, cb.vec_id AS idb,
             {cos.format(a="a.v", b="b.v")} AS cos6
      FROM cells ca
      JOIN cells cb ON cb.cell = ca.cell AND ca.vec_id < cb.vec_id
      JOIN v a ON a.vec_id = ca.vec_id
      JOIN v b ON b.vec_id = cb.vec_id
    )
    SELECT idb AS vec_id, CAST(MIN(cell) AS INT) AS cell,
           CAST(MIN(ida) AS BIGINT) AS keeper_id,
           MAX(cos6) AS max_cos6
    FROM pairs WHERE cos6 >= {tau}
    GROUP BY idb
    ORDER BY vec_id
    """


@register("semdedup_prune", oracle=_semdedup_oracle())
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): k-means
    partitions the embedding space, near-duplicate pairs are scanned
    ONLY within each cell (cosine >= {_SEMDEDUP_TAU}), and of each
    similar pair the lower vec_id survives — returns the pruned
    documents with their keeper and the max similarity that doomed
    them.

    Scale design: this is the published recipe precisely BECAUSE the
    quadratic pair scan never leaves a cell — the cell id is the
    shuffle key, per-task work is O((n/k)^2) and the corpus-level cost
    drops k-fold vs the all-pairs join. Training reuses kmeans_train
    (broadcast centroids, decimal-exact means), so the full pipeline —
    Lloyd iterations, assignment, pair scan, prune decision — is
    value-checked against the unrolled-SQL oracle."""
    emb = table_par(spark, sf_dir, "embeddings")
    v = persist_tracked(emb.select("vec_id", V.as_double("embedding").alias("v")))
    return semdedup_pairs(v, n_cells=_KM_CELLS)


def semdedup_pairs(v: DataFrame, n_cells: int = _KM_CELLS) -> DataFrame:
    """The SemDeDup pipeline over a (vec_id, v) frame with a
    parameterized cell count — the registered query pins n_cells so the
    unrolled oracle stays tractable; tools/scale_probe.py calls this
    directly with cells grown proportionally to the corpus (the
    production sizing rule, SCALE.md)."""
    # no persist: the trained quantizer is a checkpointed one-row leaf
    cells = _assign1(v, kmeans_train(v, _KM_ITERS, n_cells=n_cells))
    return _semdedup_prune_from_cells(cells, _SEMDEDUP_TAU)


def semdedup_pair_scan(
    batch: DataFrame, store: DataFrame | None, tau: float = _SEMDEDUP_TAU
) -> DataFrame:
    """SemDeDup's cell-local pair scan, the one copy every face runs:
    (cell_b, ida, idb, cos6) for every in-cell pair whose earlier side
    precedes `idb`'s arrival, filtered at cos6 >= tau. `batch` and
    `store` carry (vec_id, cell, v, nrm); the store holds
    strictly-earlier arrivals, and a whole corpus is one batch with no
    store.

    ONE cell-equijoin: the a-side is the union of the store (tagged
    pre_a = true — everything in it precedes the whole batch) and the
    batch itself (pre_a = false — in one batch, arrival order is id
    order), and the precedence residual `pre_a OR ida < idb` rides the
    equijoin. For a ∈ batch the residual reduces to ida < idb, for
    a ∈ store to true, so the one join yields the same pair multiset as
    an in-batch join unioned with a store join, with one build and one
    join stage instead of two; with no store Catalyst folds the literal
    away and the join is the plain cell + id< self-join. The score is
    dot / (nrm_a * nrm_b) over norms computed once per vector, the
    expression tree the oracles' _COS6 evaluates, FLOOR-truncated at
    6dp (module docstring)."""

    def _a(df: DataFrame, precedes: bool) -> DataFrame:
        return df.select(
            F.col("cell").alias("cell_a"),
            F.col("vec_id").alias("ida"),
            F.col("v").alias("va"),
            F.col("nrm").alias("na"),
            F.lit(precedes).alias("pre_a"),
        )

    a = _a(batch, False)
    if store is not None:
        a = _a(store, True).unionByName(a)
    y = batch.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("idb"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cand = a.join(
        y,
        (F.col("cell_a") == F.col("cell_b"))
        & (F.col("pre_a") | (F.col("ida") < F.col("idb"))),
    )
    cos6 = _f6(V.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
    return cand.select("cell_b", "ida", "idb", cos6.alias("cos6")).filter(
        F.col("cos6") >= tau
    )


def semdedup_verdicts(pairs: DataFrame) -> DataFrame:
    """Keep-lowest-id prune verdicts (vec_id, cell, keeper_id, max_cos6)
    from a similar-pair relation. Because a vector's verdict is final
    the round it arrives (its pairs are all in-batch or vs
    strictly-earlier arrivals), this aggregation distributes over
    key-disjoint unions of per-round pair scans: grouping the union of
    K rounds' pairs equals unioning K per-round groupings — the fold
    `semdedup_rounds` exploits to run ONE verdict aggregation for all
    rounds."""
    return pairs.groupBy(F.col("idb").alias("vec_id")).agg(
        F.min("cell_b").cast("int").alias("cell"),
        F.min("ida").cast("bigint").alias("keeper_id"),
        F.max("cos6").alias("max_cos6"),
    )


def _semdedup_prune_from_cells(cells: DataFrame, tau: float) -> DataFrame:
    """The whole-corpus prune over a (vec_id, v, cell) assignment (the
    map-side assigners `_assign1` / `hier_assign` keep the vector on the
    row): the corpus as one batch through `semdedup_pair_scan`, then
    `semdedup_verdicts`. The quadratic work never crosses a cell
    boundary, and the only corpus-sized exchange is the cell-keyed
    co-location shuffle feeding the pair scan, SemDeDup's intrinsic data
    movement."""
    # Norms computed ONCE before the pair join: the quadratic stage folds
    # each pair's arrays once (the dot) instead of three times.
    # PERSISTED: m feeds BOTH sides of the pair join, so without it the
    # whole assignment subtree runs twice — cheap for the flat argmax,
    # but a recomputed hierarchical routing chain measured 11.6 s
    # against 6.2 s persisted at sf0.1.
    m = persist_tracked(cells.withColumn("nrm", V.l2_norm(F.col("v"))))
    return semdedup_verdicts(semdedup_pair_scan(m, None, tau)).orderBy("vec_id")


_SD_SAMPLE_MOD = 4  # train on vec_id % 4 == 0 (portable deterministic sample)
_SD_BRANCH = 4  # hierarchy branching factor for the coarse assignment


def _sampled_assignment_parts(iters: int, cells: int, mod: int, n_super: int) -> list[str]:
    """The sampled-training + two-level-assignment CTE chain shared by
    `_semdedup_sampled_oracle` and `_incr_semdedup_oracle`: Lloyd
    training unrolled over the MODULAR SAMPLE (vec_id % mod = 0), a
    second 1-iteration chain training super-centroids over the trained
    centroids, then the two-level assignment (vector -> nearest
    super-cell -> nearest centroid within it). Produces the final CTE
    `cells` (vec_id, cell). Every stage uses the shared floored-cosine /
    cid-ASC tie-break expressions."""
    cos = _COS6
    parts = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"vsamp AS (SELECT vec_id, v FROM v WHERE vec_id % {mod} = 0)",
    ]
    parts += _kmeans_training_parts(
        iters, cells, src="vsamp", pref="c", seed_below=cells * mod
    )
    final_c = f"c{iters}"
    parts.append(f"s_v AS (SELECT cid AS vec_id, cv AS v FROM {final_c})")
    parts += _kmeans_training_parts(
        1, n_super, src="s_v", pref="s", seed_below=n_super * mod
    )
    final_s = "s1"
    parts.append(
        f"""c2s AS (
      SELECT cid, super FROM (
        SELECT p.vec_id AS cid, s.cid AS super,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                 ORDER BY {cos.format(a="p.v", b="s.cv")} DESC, s.cid ASC) AS rn
        FROM s_v p CROSS JOIN {final_s} s
      ) WHERE rn = 1
    )"""
    )
    parts.append(
        f"""va AS (
      SELECT vec_id, super FROM (
        SELECT v.vec_id, s.cid AS super,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {cos.format(a="v.v", b="s.cv")} DESC, s.cid ASC) AS rn
        FROM v v CROSS JOIN {final_s} s
      ) WHERE rn = 1
    )"""
    )
    parts.append(
        f"""cells AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {cos.format(a="v.v", b="c.cv")} DESC, c.cid ASC) AS rn
        FROM v v
        JOIN va  ON va.vec_id = v.vec_id
        JOIN c2s ON c2s.super = va.super
        JOIN {final_c} c ON c.cid = c2s.cid
      ) WHERE rn = 1
    )"""
    )
    return parts


def _semdedup_sampled_oracle() -> str:
    """DuckDB oracle for semdedup_prune_sampled: the shared sampled
    training / two-level assignment chain, then the same pair scan /
    prune decision as `_semdedup_oracle` — the full sampled pipeline is
    value-level differential-checked."""
    return _semdedup_prune_sql(
        _sampled_assignment_parts(
            _KM_ITERS, _KM_CELLS, _SD_SAMPLE_MOD, _KM_CELLS // _SD_BRANCH
        ),
        _SEMDEDUP_TAU,
    )


@register("semdedup_prune_sampled", oracle=_semdedup_sampled_oracle())
def semdedup_prune_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the PRODUCTION training/assignment plan: k-means
    trained on a fixed deterministic sample (vec_id % 4 == 0, portable
    to the oracle) instead of the full corpus, and vectors routed to
    their cell through a hierarchical coarse quantizer (`hier_assign`)
    — nearest top-level node first, then nearest child at each level
    down to the cell. Output contract is identical to `semdedup_prune`
    (pruned vec_id, cell, keeper, dooming similarity); the cell
    boundaries differ because the quantizer is the approximate one.

    Scale rationale (the SCALE.md note on `semdedup_prune
    [cells=16k]`): with cells ∝ corpus n, FULL-corpus Lloyd training is
    iters × n × cells ∝ n² — the measured 1.28→1.83 rising
    per-doubling ratio. Sample training costs iters × S × cells ∝ n
    (S fixed), and hierarchical assignment replaces the n × cells flat
    argmax with n × branch × log_branch cells ∝ n·log n — a fixed-depth
    two-level quantizer measured an n^1.5 term (4.5× at the x32 last
    doubling). At the
    registered sizing (cells=16, branch=4) the hierarchy is exactly one
    4-super level, so the unrolled two-level oracle is unchanged: the
    ENTIRE pipeline (sample, both Lloyd chains, routing, pair scan)
    still hash-matches stage by stage."""
    emb = table_par(spark, sf_dir, "embeddings")
    v = persist_tracked(emb.select("vec_id", V.as_double("embedding").alias("v")))
    return semdedup_pairs_sampled(v)


def semdedup_pairs_sampled(
    v: DataFrame,
    n_cells: int = _KM_CELLS,
    sample_mod: int = _SD_SAMPLE_MOD,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """The sampled/hierarchical SemDeDup pipeline over a (vec_id, v)
    frame with parameterized sizing — the registered query pins the
    constants so the unrolled oracle stays tractable (at cells=16,
    branch=4 the hierarchy is exactly one 4-super level, the shape the
    oracle unrolls); tools/scale_probe.py calls this directly with
    cells grown ∝ corpus (the sizing rule whose full-train cost curve
    this construction flattens, SCALE.md) and the hierarchy deepens
    automatically, keeping per-vector assignment work O(branch ·
    log_branch cells) instead of a fixed two-level quantizer's
    O(n_super + cells/n_super) = O(√cells)."""
    cells = _sampled_cells(v, n_cells, sample_mod, seeds)
    return _semdedup_prune_from_cells(cells, _SEMDEDUP_TAU)


def _sampled_cells(
    v: DataFrame, n_cells: int, mod: int, seeds: DataFrame | None
) -> DataFrame:
    """(vec_id, cell, v): k-means trained on the modular sample
    vec_id % mod == 0 (seeds: its n_cells lowest ids, unless `seeds` is
    given), then every vector routed through `hier_assign` — the
    training and assignment that `_sampled_assignment_parts` unrolls."""
    samp = v.filter(F.col("vec_id") % mod == 0)
    # no persist: the trained quantizer is a checkpointed one-row leaf
    cands = kmeans_train(
        samp, _KM_ITERS, n_cells=n_cells, seed_below=n_cells * mod, seeds=seeds
    )
    return hier_assign(v, cands, n_cells=n_cells)


def hier_assign(
    v: DataFrame,
    cands: DataFrame,
    n_cells: int,
    branch: int = _SD_BRANCH,
) -> DataFrame:
    """(vec_id, cell, v) via a hierarchical coarse quantizer over the
    one-row quantizer `cands` (`kmeans_train`'s output): build levels
    above it bottom-up (each level = 1 Lloyd iteration over the level
    below, ceil(size/branch) seeds = its lowest-cid nodes) until a level
    fits in `branch` nodes, then route each vector top-down —
    argmax-cosine over the ≤branch top nodes, then over the chosen
    node's children at each level, down to its cell. At branch=4,
    cells=16 this is exactly one 4-super level: the two-level shape the
    registered oracle unrolls, value-identical.

    Scale design:
    - per-vector assignment work is O(branch · log_branch cells) — the
      depth grows with cells (∝ corpus under the SemDeDup sizing rule)
      while each level scores only ~branch candidates, so a fixed-depth
      quantizer's measured n^1.5 assignment term flattens to n·log n;
    - the corpus NEVER shuffles during assignment AND never enters a
      join: the whole descent is ONE projection — the complete routing
      tree ((level, parent) -> sorted child-candidate array) is folded
      into a single broadcast map row, and each vector walks it with a
      nested per-row argmax fold, top node first, then map-lookup of
      the chosen node's children at each level. One broadcast-hint hash
      join per level measured 6x slower than the FLAT assigner at probe
      sizes: every level added a join boundary, a fresh broadcast
      subtree, and a whole-stage-codegen recompile, and that per-plan
      constant dominated the (tiny) fold work — the tree-map walk
      compiles once and pipelines in the scan stage
      (tests/test_exchange_audit.py pins the no-corpus-shuffle claim
      under autoBroadcastJoinThreshold=-1);
    - the broadcast tree is centroid-sized: O(cells · d) doubles
      across all levels (a geometric series over the level sizes). The
      hierarchy BUILD is Θ(cells²/branch) pairwise scorings over the
      centroid table only (corpus-independent; cells ≪ n under the
      ~3k-vectors-per-cell sizing rule), and each build-side argmax
      runs on centroid-count rows.
    Routing drops a vector only if its chosen node has zero children —
    the map lookup misses, the fold over the NULL array yields a NULL
    node, and the NULL cascades to a filtered-out NULL cell: identical
    to the unrolled oracle's inner join through c2s (parity-preserved,
    not a defect)."""
    rows = [cands]  # each level's one-row quantizer, bottom-up
    size = n_cells
    while size > branch:
        size = -(-size // branch)
        level = _explode_cands(rows[-1])
        pts = level.select(F.col("cid").alias("vec_id"), F.col("cv").alias("v"))
        seeds = level.orderBy("cid").limit(size)
        # no persist: the training output is already a checkpointed leaf
        rows.append(kmeans_train(pts, iters=1, n_cells=size, seeds=seeds))
    depth = len(rows) - 1
    top = rows[-1].select(F.col("cands").alias("top"))
    if depth == 0:
        onerow = top
    else:
        # (level, parent) -> cid-ASC-sorted candidate array, all levels
        # in one map (struct keys; field names/types must match the
        # lookup struct exactly)
        ents = []
        for k in range(depth):
            level = _explode_cands(rows[k])
            pts = level.select(F.col("cid").alias("vec_id"), F.col("cv").alias("v"))
            # fold argmax, not the window _ivf_assign: value-identical at
            # nprobe=1 (same floored cosine, same cid-ASC tie — the
            # _assign1 docstring contract) with no row_number exchange
            link = _assign1(pts, rows[k + 1]).select(
                F.col("vec_id").alias("child"), F.col("cell").alias("parent")
            )
            ents.append(
                link.join(level, link["child"] == level["cid"])
                .groupBy("parent")
                .agg(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("cid"),
                                F.col("cv"),
                                V.l2_norm(F.col("cv")).alias("cnrm"),
                            )
                        )
                    ).alias("cands")
                )
                .select(
                    F.struct(
                        F.lit(k).cast("int").alias("lvl"),
                        F.col("parent").cast("bigint").alias("node"),
                    ).alias("key"),
                    "cands",
                )
            )
        entries = ents[0]
        for e in ents[1:]:
            entries = entries.unionByName(e)
        tree = entries.agg(
            F.map_from_entries(
                F.collect_list(F.struct("key", "cands"))
            ).alias("tree")
        )
        onerow = tree.crossJoin(top)
    cur = v.crossJoin(F.broadcast(onerow)).withColumn(
        "nrm", V.l2_norm(F.col("v"))
    )
    node = _fold_argmax_cell(F.col("top"), F.col("v"), F.col("nrm"))
    for k in range(depth - 1, -1, -1):
        # try_element_at, not element_at: a zero-children node (or a
        # NULL node cascading from one) misses the map, and ANSI
        # element_at would throw where the routing contract wants a
        # NULL-propagating drop
        node = _fold_argmax_cell(
            F.try_element_at(
                F.col("tree"),
                F.struct(
                    F.lit(k).cast("int").alias("lvl"),
                    node.cast("bigint").alias("node"),
                ),
            ),
            F.col("v"),
            F.col("nrm"),
        )
    return (
        cur.select("vec_id", node.alias("cell"), "v")
        .filter(F.col("cell").isNotNull())
    )


# Incremental semantic dedup: the SemDeDup analog of
# `corpus_dedup_rounds` (exact) and `incremental_lsh_rounds` (near-dup).
# Embedding micro-batches arrive in K rounds against PERSISTENT
# state: a centroid store trained ONCE on the first snapshot and then
# frozen (retraining per increment would re-partition every historical
# cell), plus a cell-partitioned store of all prior arrivals.
_INCR_SD_K = _SD_SAMPLE_MOD  # 4: batch 0 doubles as the training snapshot


def _incr_semdedup_oracle() -> str:
    """DuckDB oracle for incremental_semdedup_rounds — deliberately a
    FROM-SCRATCH recompute, not a replay of the rounds: the shared
    sampled-training / two-level-assignment chain, then ONE global pair
    scan under the arrival-precedence order (batch_id, vec_id) and the
    keep-first prune decision. Parity proves the K incremental
    store-query+append rounds IMPLEMENT the global recompute — the
    `corpus_dedup_rounds` merge-law framing applied to semantic dedup.
    The training sample (vec_id % k = 0) is exactly batch 0, so the
    assignment CTEs are byte-identical to `_semdedup_sampled_oracle`'s
    at the registered sizing."""
    cos = _COS6
    k = _INCR_SD_K
    parts = _sampled_assignment_parts(
        _KM_ITERS, _KM_CELLS, mod=k, n_super=_KM_CELLS // _SD_BRANCH
    )
    return f"""
    WITH {", ".join(parts)},
    pairs AS (
      SELECT cb.cell, ca.vec_id AS ida, cb.vec_id AS idb,
             {cos.format(a="a.v", b="b.v")} AS cos6
      FROM cells ca
      JOIN cells cb ON cb.cell = ca.cell
        AND ((ca.vec_id % {k}) < (cb.vec_id % {k})
             OR ((ca.vec_id % {k}) = (cb.vec_id % {k})
                 AND ca.vec_id < cb.vec_id))
      JOIN v a ON a.vec_id = ca.vec_id
      JOIN v b ON b.vec_id = cb.vec_id
    )
    SELECT idb AS vec_id, CAST(idb % {k} AS INT) AS batch_id,
           CAST(MIN(cell) AS INT) AS cell,
           CAST(MIN(ida) AS BIGINT) AS keeper_id,
           MAX(cos6) AS max_cos6
    FROM pairs WHERE cos6 >= {_SEMDEDUP_TAU}
    GROUP BY idb
    ORDER BY vec_id
    """


@register("incremental_semdedup_rounds", oracle=_incr_semdedup_oracle())
def incremental_semdedup_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic dedup, unrolled: embeddings arrive in K=4
    deterministic micro-batches (vec_id % K, processed in batch order —
    the daily-crawl-increment operational mode). PERSISTENT state:

    - the CENTROID store is trained once on batch 0 (which doubles as
      `semdedup_prune_sampled`'s modular training sample) and then
      FROZEN — the production posture, since retraining per increment
      would silently re-partition every historical cell and invalidate
      the stored assignments;
    - the ARRIVAL store accumulates every prior batch's (cell, vec_id,
      v, nrm) rows — ALL arrivals, not just survivors, because the
      SemDeDup prune decision is precedence-based, not
      survivor-transitive: a new vector is pruned if ANY earlier
      arrival in its cell is cosine-similar, whether or not that
      earlier arrival was itself pruned.

    Each round: route the batch to cells via the broadcast-tree
    `hier_assign` walk (the corpus never shuffles during assignment),
    scan new-vs-store pairs with a cell-equijoin, scan in-batch pairs
    with the cell + id< self-join, then append the batch to the store.
    A vector's verdict is final the round it arrives — later batches
    can only prune themselves against it.

    The ORACLE is the from-scratch recompute (one global pair scan
    under (batch_id, vec_id) precedence), so parity proves the
    incremental rounds equal the full rebuild — the merge-law framing
    `corpus_dedup_rounds` and `incremental_lsh_rounds` established.

    Scale: the quadratic work never crosses a cell boundary (SemDeDup's
    intrinsic movement — the cell-keyed co-location shuffle); the store
    is cell-partitioned at rest, so each round's new-vs-history join
    co-partitions WITHOUT reshuffling history; per-round cost is
    O(|batch| x cell-occupancy), independent of how many rounds came
    before. Plan depth is linear in K: every per-round frame is a
    filter over ONE persisted assignment cache."""
    emb = table_par(spark, sf_dir, "embeddings")
    v = persist_tracked(emb.select("vec_id", V.as_double("embedding").alias("v")))
    return semdedup_rounds(v)


def semdedup_rounds(
    v: DataFrame,
    n_cells: int = _KM_CELLS,
    k_batches: int = _INCR_SD_K,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """The incremental SemDeDup pipeline over a (vec_id, v) frame with
    parameterized sizing — the registered query pins the constants so
    the unrolled oracle stays tractable; tools/scale_probe.py calls
    this directly with cells grown with the corpus.

    Each round is `semdedup_pair_scan` of the batch against the store,
    the same function the streaming foreachBatch body
    (streaming/semdedup.py) runs, so this query's oracle row attests
    the streaming round's plan — the `corpus_dedup_rounds` /
    `dedup_round` construction. Per-round verdicts union to the global
    recompute because a vector's verdict is final the round it arrives
    (its pairs are all in-batch or vs strictly-earlier arrivals)."""
    m = persist_tracked(
        _sampled_cells(v, n_cells, k_batches, seeds)
        .withColumn("nrm", V.l2_norm(F.col("v")))
        .withColumn("batch_id", (F.col("vec_id") % k_batches).cast("int"))
    )
    rounds: list[DataFrame] = []
    for k in range(k_batches):
        arr = m.filter(F.col("batch_id") == k)
        # The round-k store is ONE filter over the persisted assignment
        # cache, not a union of the k prior batch frames: a k-branch
        # union scans the cache k times per broadcast build (measured:
        # store-side builds growing 0.5 -> 1.4 s across rounds,
        # 64/96/128 tasks). batch_id < k selects exactly the rows such
        # a union holds; the streaming face's store is the parquet
        # read, which is already one relation.
        store = m.filter(F.col("batch_id") < k) if k else None
        rounds.append(semdedup_pair_scan(arr, store, _SEMDEDUP_TAU))
    allp = rounds[0]
    for r in rounds[1:]:
        allp = allp.unionByName(r)
    # ONE verdict aggregation over the union of the K per-round pair
    # scans, instead of K per-round groupBys + a verdict union (K
    # groupBy exchanges where one suffices). Value-identical to
    # union-of-round-verdicts: round k's pair scan only emits idb from
    # batch k, so the K pair sets are key-disjoint in idb and the
    # groupBy distributes over their union (the semdedup_verdicts
    # docstring lemma). The streaming face aggregates per batch
    # (`semdedup_round`), with the same `semdedup_verdicts`.
    verdicts = semdedup_verdicts(allp)
    return (
        verdicts.withColumn(
            "batch_id", (F.col("vec_id") % k_batches).cast("int")
        )
        .select("vec_id", "batch_id", "cell", "keeper_id", "max_cos6")
        .orderBy("vec_id")
    )


def _pca_power_sql_parts(mat: str, pref: str, iters: int) -> list[str]:
    """Unrolled power-iteration CTEs over a (i, j, cij) matrix relation:
    {pref}0 (all-ones start) .. {pref}{iters} (unit eigvec estimate)."""
    parts = [
        f"""{pref}0 AS (
      SELECT CAST(range AS INT) AS i, CAST(1.0 AS DOUBLE) AS vv
      FROM range(1, {EMB_DIM} + 1)
    )"""
    ]
    for k in range(iters):
        parts.append(
            f"""{pref}w{k} AS (
      SELECT c.i, CAST(SUM(CAST(c.cij * p.vv AS DECIMAL(25,15))) AS DOUBLE) AS w
      FROM {mat} c JOIN {pref}{k} p ON p.i = c.j
      GROUP BY c.i
    )"""
        )
        parts.append(
            f"""{pref}n{k} AS (
      SELECT SQRT(CAST(SUM(CAST(w * w AS DECIMAL(38,15))) AS DOUBLE)) AS nrm
      FROM {pref}w{k}
    )"""
        )
        parts.append(
            f"""{pref}{k + 1} AS MATERIALIZED (
      SELECT i, w / (SELECT nrm FROM {pref}n{k}) AS vv FROM {pref}w{k}
    )"""
        )
    return parts


def _pca2_oracle() -> str:
    """Oracle for pca_top2_projections: component 1 exactly as
    _pca_oracle, then Rayleigh-quotient deflation (C2 = C - l1*v1*v1^T)
    and a second unrolled power iteration — every step decimal-exact."""
    base = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        f"""ex AS (
      SELECT vec_id, CAST(t.i AS INT) AS i, e[t.i] AS x
      FROM v, (SELECT CAST(range AS INT) AS i
               FROM range(1, {EMB_DIM} + 1)) t
    )""",
        """mean AS (
      SELECT i, CAST(SUM(CAST(x AS DECIMAL(25,15))) AS DOUBLE) / COUNT(*) AS m
      FROM ex GROUP BY i
    )""",
        """cx AS MATERIALIZED (
      SELECT ex.vec_id, ex.i, ex.x - mean.m AS c FROM ex JOIN mean USING (i)
    )""",
        """cov AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(CAST(a.c * b.c AS DECIMAL(25,15))) AS DOUBLE) AS cij
      FROM cx a JOIN cx b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    )""",
    ]
    parts = base + _pca_power_sql_parts("cov", "v", _PCA_ITERS)
    v1 = f"v{_PCA_ITERS}"
    parts += [
        f"""wf AS (
      SELECT c.i, CAST(SUM(CAST(c.cij * p.vv AS DECIMAL(25,15))) AS DOUBLE) AS w
      FROM cov c JOIN {v1} p ON p.i = c.j
      GROUP BY c.i
    )""",
        f"""lam AS (
      SELECT CAST(SUM(CAST(p.vv * w.w AS DECIMAL(25,15))) AS DOUBLE) AS lam
      FROM wf w JOIN {v1} p USING (i)
    )""",
        f"""cov2 AS MATERIALIZED (
      SELECT c.i, c.j,
             c.cij - (SELECT lam FROM lam) * a.vv * b.vv AS cij
      FROM cov c JOIN {v1} a ON a.i = c.i JOIN {v1} b ON b.i = c.j
    )""",
    ]
    parts += _pca_power_sql_parts("cov2", "u", _PCA_ITERS)
    u1 = f"u{_PCA_ITERS}"
    return f"""
    WITH {", ".join(parts)},
    proj1 AS (
      SELECT cx.vec_id,
             CAST(SUM(CAST(cx.c * p.vv AS DECIMAL(25,15))) AS DOUBLE) AS s
      FROM cx JOIN {v1} p USING (i) GROUP BY cx.vec_id
    ),
    proj2 AS (
      SELECT cx.vec_id,
             CAST(SUM(CAST(cx.c * p.vv AS DECIMAL(25,15))) AS DOUBLE) AS s
      FROM cx JOIN {u1} p USING (i) GROUP BY cx.vec_id
    ),
    sc AS (
      SELECT p1.vec_id,
             CAST(FLOOR(p1.s * 1e6) AS BIGINT) AS pc1_e6,
             CAST(FLOOR(p2.s * 1e6) AS BIGINT) AS pc2_e6
      FROM proj1 p1 JOIN proj2 p2 USING (vec_id)
    )
    SELECT * FROM (
      (SELECT 'max' AS which, vec_id, pc1_e6, pc2_e6 FROM sc
       ORDER BY pc2_e6 DESC, vec_id LIMIT 5)
      UNION ALL
      (SELECT 'min' AS which, vec_id, pc1_e6, pc2_e6 FROM sc
       ORDER BY pc2_e6 ASC, vec_id LIMIT 5)
    ) ORDER BY which DESC, pc2_e6, vec_id
    """


def _pca_centered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, c): every embedding minus the per-dimension corpus mean
    (decimal-exact sums), cached — the input of the scatter-matrix pass
    and of the final projection."""
    v = table_par(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double("embedding").alias("e")
    )
    ex = v.select("vec_id", F.posexplode("e").alias("pos", "x")).select(
        "vec_id", (F.col("pos") + 1).alias("i"), "x"
    )
    means = ex.groupBy("i").agg(
        (
            F.sum(F.col("x").cast("decimal(25,15)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    marr = means.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
        ).alias("marr")
    )
    return persist_tracked(
        v.crossJoin(F.broadcast(marr)).select(
            "vec_id", F.zip_with("e", "marr", lambda x, m: x - m).alias("c")
        )
    )


def _scatter_matrix(cxd: DataFrame) -> DataFrame:
    """Full d x d scatter matrix (i, j, cij) of a centered (vec_id, c)
    frame — built from the UPPER TRIANGLE only, then mirrored.

    The matrix is symmetric, so the corpus-sized pass (explode each row
    into per-pair contributions, partial-aggregate to matrix cells
    before the one shuffle) emits only the d(d+1)/2 pairs with j >= i —
    half the explode volume, half the shuffle bytes of the naive d^2
    build. The mirror is a d^2/2-row projection over the checkpointed
    triangle, free relative to the corpus pass. Bit-exactness vs the
    full build (and hence vs the unrolled-SQL oracle): IEEE multiply is
    commutative so c_i*c_j is the identical double to c_j*c_i, and the
    per-cell DECIMAL(25,15) sums are order-independent — the mirrored
    cell is the same 8 bytes the naive build would have produced."""
    outer = F.flatten(
        F.transform(
            "c",
            lambda xi, i: F.transform(
                F.slice(F.col("c"), i + 1, F.lit(EMB_DIM) - i),
                lambda xj, k: F.struct(
                    (i + 1).alias("i"), (i + k + 1).alias("j"), (xi * xj).alias("p")
                ),
            ),
        )
    )
    upper = (
        cxd.select(F.explode(outer).alias("s"))
        .select("s.i", "s.j", "s.p")
        .groupBy("i", "j")
        .agg(F.sum(F.col("p").cast("decimal(25,15)")).cast("double").alias("cij"))
        .localCheckpoint()  # d(d+1)/2 rows; snapshot so power iterations
        # never re-run the corpus-sized accumulation
    )
    return upper.unionByName(
        upper.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cij"
        )
    )


def _pca_matvec(cov: DataFrame, varr: DataFrame) -> DataFrame:
    """(i, w) = matrix-vector product of the (i, j, cij) relation with
    the broadcast 1-row array — decimal-exact sum per output dim."""
    return (
        cov.crossJoin(F.broadcast(varr))
        .select("i", (F.col("cij") * F.element_at("vv", F.col("j"))).alias("pd"))
        .groupBy("i")
        .agg(F.sum(F.col("pd").cast("decimal(25,15)")).cast("double").alias("w"))
    )


def _pca_power(cov: DataFrame) -> DataFrame:
    """`_PCA_ITERS` rounds of power iteration over a d^2-row matrix
    relation; returns the 1-row unit-vector array frame."""
    varr = cov.sparkSession.range(1).select(
        F.array(*[F.lit(1.0)] * EMB_DIM).alias("vv")
    )
    for _ in range(_PCA_ITERS):
        w = _pca_matvec(cov, varr)
        nrm = w.agg(
            F.sqrt(
                F.sum((F.col("w") * F.col("w")).cast("decimal(38,15)")).cast("double")
            ).alias("nrm")
        )
        varr = (
            w.crossJoin(F.broadcast(nrm))
            .select("i", (F.col("w") / F.col("nrm")).alias("vv_i"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "vv_i"))),
                    lambda s: s["vv_i"],
                ).alias("vv")
            )
            .localCheckpoint()
        )
    return varr


@register("pca_top2_projections", oracle=_pca2_oracle())
def pca_top2_projections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TWO principal components via Hotelling deflation: v1 by power
    iteration (pca_top_component's construction), Rayleigh quotient
    l1 = v1·(C v1), deflate C2 = C - l1·v1·v1^T, power-iterate again for
    v2, then the corpus extremes along PC2 with both scores.

    Scale: deflation is d^2-row arithmetic against two broadcast scalars
    /vectors — NO additional corpus pass; top-m components cost the same
    two corpus passes as one component plus m d^2-row iterations. This
    is the 'deflate and repeat' claim of SCALE.md made executable and
    oracle-checked."""
    cxd = _pca_centered(spark, sf_dir)
    cov = _scatter_matrix(cxd)
    v1 = _pca_power(cov)
    wf = _pca_matvec(cov, v1)
    lam = (
        wf.crossJoin(F.broadcast(v1))
        .select(
            (F.element_at("vv", F.col("i")) * F.col("w"))
            .cast("decimal(25,15)")
            .alias("pd")
        )
        .agg(F.sum("pd").cast("double").alias("lam"))
    )
    cov2 = (
        cov.crossJoin(F.broadcast(v1))
        .crossJoin(F.broadcast(lam))
        .select(
            "i",
            "j",
            (
                F.col("cij")
                - F.col("lam")
                * F.element_at("vv", F.col("i"))
                * F.element_at("vv", F.col("j"))
            ).alias("cij"),
        )
        .localCheckpoint()
    )
    v2 = _pca_power(cov2)
    cxe = cxd.select("vec_id", F.posexplode("c").alias("pos", "cval")).select(
        "vec_id", (F.col("pos") + 1).alias("i"), "cval"
    )

    def project(varr: DataFrame, name: str) -> DataFrame:
        return (
            cxe.crossJoin(F.broadcast(varr))
            .select(
                "vec_id",
                (F.col("cval") * F.element_at("vv", F.col("i"))).alias("pd"),
            )
            .groupBy("vec_id")
            .agg(
                F.floor(
                    F.sum(F.col("pd").cast("decimal(25,15)")).cast("double") * 1e6
                )
                .cast("long")
                .alias(name)
            )
        )

    sc = project(v1, "pc1_e6").join(project(v2, "pc2_e6"), "vec_id")
    top = sc.orderBy(F.desc("pc2_e6"), "vec_id").limit(5).select(
        F.lit("max").alias("which"), "vec_id", "pc1_e6", "pc2_e6"
    )
    bot = sc.orderBy(F.asc("pc2_e6"), "vec_id").limit(5).select(
        F.lit("min").alias("which"), "vec_id", "pc1_e6", "pc2_e6"
    )
    return top.unionByName(bot).orderBy(F.desc("which"), "pc2_e6", "vec_id")


_EXPECTED_DIM = 64  # the embeddings table's contract dimensionality


@register(
    "embedding_integrity_audit",
    oracle=f"""
    SELECT vec_id,
           CAST(LEN(embedding) AS INT) AS n_dims,
           embedding IS NULL AS is_null,
           CASE WHEN embedding IS NULL THEN FALSE
                ELSE LEN(embedding) <> {_EXPECTED_DIM} END AS wrong_dim,
           CASE WHEN embedding IS NULL THEN FALSE
                ELSE LEN(list_filter(embedding, x -> x IS NULL)) > 0
           END AS has_null_elem,
           COALESCE(list_bool_or(list_transform(embedding,
                      x -> NOT isfinite(CAST(x AS DOUBLE)))), FALSE)
             AS has_nonfinite,
           CASE WHEN embedding IS NULL
                  OR LEN(list_filter(embedding, x -> x IS NULL)) > 0
                THEN FALSE
                ELSE list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
           END AS zero_norm,
           CASE WHEN embedding IS NULL THEN FALSE
                ELSE LEN(embedding) = {_EXPECTED_DIM}
                 AND LEN(list_filter(embedding, x -> x IS NULL)) = 0
                 AND NOT COALESCE(list_bool_or(list_transform(embedding,
                           x -> NOT isfinite(CAST(x AS DOUBLE)))), FALSE)
                 AND list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) <> 0
           END AS is_valid
    FROM embeddings
    ORDER BY vec_id
    """,
)
def embedding_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector integrity audit — THE enforcement tool for the
    similarity family's input-domain precondition (module docstring):
    NULL rows, wrong dimensionality, NULL elements, non-finite values,
    and zero norms are each flagged, plus an is_valid summary to filter
    on before retrieval.

    Why this exists (round-7 corrupt-embeddings probe): on vectors
    violating the precondition the similarity family's behavior is
    ENGINE-SPECIFIC — numpy kernels raise on ragged batches, zip_with
    pads with NULLs where DuckDB's range() stops short, NULL scores
    rank differently — 18 of 19 queries silently diverged or crashed on
    a corpus with one NULL row, one 32-dim vector and one NULL element.
    A 100 TB pipeline validates once with this map-only scan (one pass,
    no shuffle beyond the presentation sort) and runs retrieval on the
    is_valid subset; tests/test_corrupt_embeddings_parity.py proves the
    remediation restores full cross-engine agreement.

    Flag semantics on NULL/absent data: n_dims is NULL for a NULL row
    (both engines); the boolean flags are never NULL — element-level
    flags are FALSE for a NULL row (is_null carries it), zero_norm is
    FALSE when NULL elements make the norm undefined (has_null_elem
    carries it), and has_nonfinite coalesces the three-valued OR over
    NULL elements to FALSE."""
    v = F.col("embedding")
    vd = F.transform(v, lambda x: x.cast("double"))
    is_null = v.isNull()
    has_null_elem = F.when(is_null, F.lit(False)).otherwise(
        F.exists(v, lambda x: x.isNull())
    )
    nonfinite = F.coalesce(
        F.exists(vd, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))),
        F.lit(False),
    )
    sumsq = F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x)
    zero_norm = F.when(is_null | has_null_elem, F.lit(False)).otherwise(
        sumsq == 0.0
    )
    right_dim = F.size(v) == _EXPECTED_DIM
    return (
        table_par(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.size(v).alias("n_dims"),
            is_null.alias("is_null"),
            F.when(is_null, F.lit(False)).otherwise(~right_dim).alias("wrong_dim"),
            has_null_elem.alias("has_null_elem"),
            nonfinite.alias("has_nonfinite"),
            zero_norm.alias("zero_norm"),
            F.when(is_null, F.lit(False))
            .otherwise(
                right_dim & ~has_null_elem & ~nonfinite & (sumsq != 0.0)
            )
            .alias("is_valid"),
        )
        .orderBy("vec_id")
    )
