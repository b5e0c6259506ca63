"""Vector/embedding column builders (EXT similarity-search operators).

Two tiers:

- Per-pair scalar math (dot / l2_norm / cosine) as Spark higher-order
  array functions (zip_with / transform / aggregate) — JVM-side, no
  Python, accumulation order identical to the DuckDB oracle's
  list_sum(list_transform(...)). Right for small pair volumes
  (broadcast top-k with a handful of query vectors).
- Blocked all-pairs scoring (`blocked_cosine_pairs`) as an
  applyInPandas numpy kernel: the O(n^2) pair space is tiled into
  block-pairs, each task scores one tile with a BLAS gram matrix.
  Per-pair HOF folds are interpreted per element and materialize both
  vectors per pair; the blocked kernel ships each vector to at most
  n_blocks tasks and does the quadratic work inside matrix multiply.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double dot product (mirrors DuckDB
    list_sum(list_transform(...)) accumulation order).

    Deliberately the higher-order-function fold and NOT an unrolled
    a[1]*b[1]+...+a[d]*b[d] chain: a 64-term Add tree falls out of
    whole-stage codegen into interpreted tree-walking (measured 35s vs
    2.5s for the 2M-pair join at sf0.1 — per-element lambda dispatch is
    cheaper than per-node tree interpretation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def auto_blocks(
    n_rows: int, target_rows_per_block: int = 4096, parallelism: int = 1
) -> int:
    """Block count with two constraints:

    - memory ceiling: per-task input is ~2 blocks of n/n_blocks rows,
      so n_blocks >= n/target keeps task memory flat at any corpus
      size (dominates at 100 TB);
    - parallelism floor: n_blocks(n_blocks+1)/2 tiles must keep the
      cluster busy, so n_blocks >= sqrt(2*parallelism) gives ~1 tile
      per core (dominates on small corpora, where a memory-only split
      would starve the cluster — measured +10% at sf0.1 with the bare
      n/target rule yielding 3 tiles on 32 cores; going to ~2 tiles
      per core measurably LOSES to per-tile Python-worker overhead,
      so the floor stays at 1).

    Task count grows as n_blocks^2/2 — the shape a 1000-executor
    cluster wants. Floor of 2 keeps the self/cross tile split
    meaningful on tiny corpora."""
    mem_floor = -(-n_rows // target_rows_per_block)
    par_floor = int(-(-((2 * max(parallelism, 1)) ** 0.5) // 1))
    return max(2, mem_floor, par_floor)


def blocked_cosine_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    min_raw_score: float,
    n_blocks: int | None = None,
    target_rows_per_block: int = 4096,
) -> DataFrame:
    """All-pairs cosine >= min_raw_score as a blocked self-join:
    ``(id_a, id_b, cos_raw)`` with ``id_a < id_b``.

    Scale design (the 100 TB posture for quadratic similarity):

    - each vector is assigned a block by hashing its id; every unordered
      block pair (i, j) becomes ONE task that receives only blocks i and
      j (each row is replicated to n_blocks groups — O(n * n_blocks)
      shuffle instead of the O(n^2) row stream a pair-join materializes);
    - inside a task the tile is scored as a single float64 gram matrix
      (numpy/BLAS), so the quadratic work runs at memory bandwidth
      instead of per-pair expression interpretation;
    - per-task memory is (2n/n_blocks) vectors + one tile of scores:
      raise n_blocks ~ n/rows_per_block to bound it; task count grows as
      n_blocks^2/2, which is exactly the shape a 1000-executor cluster
      wants.

    Emits the RAW float64 score (numpy dot; differs from a sequential
    fold only by ~1e-15 summation-order noise). Callers needing oracle-
    exact decimal truncation apply the portable FLOOR-at-4dp form
    (``F.floor(c * 10000) / 10000.0`` — pure IEEE ops, identical in
    DuckDB; see queries/similarity.py) on the JVM side; truncation must
    NOT happen in the kernel, where numpy's rounding rules differ. Pass
    the threshold minus a small slack so boundary pairs survive into
    the exact truncated filter.
    """
    import numpy as np
    import pandas as pd

    if n_blocks is None:
        # one cheap count job sizes the tiling; per-task input is then
        # bounded at ~2*target_rows_per_block vectors regardless of n
        # (a fixed n_blocks=8 would mean ~n/8 rows per task at 100 TB —
        # unbounded memory)
        n_blocks = auto_blocks(
            emb.count(),
            target_rows_per_block,
            emb.sparkSession.sparkContext.defaultParallelism,
        )

    v = emb.select(
        F.col(id_col).alias("_id"),
        as_double(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_b"),
    )
    # row in block b participates in every tile {min(b,c), max(b,c)}
    tile_keys = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.least("_b", F.lit(c)).alias("i"),
                    F.greatest("_b", F.lit(c)).alias("j"),
                )
                for c in range(n_blocks)
            ]
        )
    )
    rep = v.select("_id", "_v", "_b", F.explode(tile_keys).alias("_k")).select(
        "_id", "_v", "_b", F.col("_k.i").alias("_i"), F.col("_k.j").alias("_j")
    )

    def _block(sub: pd.DataFrame):
        ids = sub["_id"].to_numpy()
        m = np.stack(sub["_v"].to_numpy()).astype(np.float64, copy=False)
        return ids, m, np.sqrt(np.einsum("ij,ij->i", m, m))

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_raw": []})
        i, j = int(pdf["_i"].iloc[0]), int(pdf["_j"].iloc[0])
        if i == j:
            ids, m, nrm = _block(pdf)
            if len(ids) < 2:
                return empty
            s = (m @ m.T) / np.outer(nrm, nrm)
            iu, ju = np.triu_indices(len(ids), k=1)
            a, b, sc = ids[iu], ids[ju], s[iu, ju]
        else:
            pa, pb = pdf[pdf["_b"] == i], pdf[pdf["_b"] == j]
            if pa.empty or pb.empty:
                return empty
            ia, ma, na = _block(pa)
            ib, mb, nb = _block(pb)
            s = (ma @ mb.T) / np.outer(na, nb)
            a = np.repeat(ia, len(ib))
            b = np.tile(ib, len(ia))
            sc = s.ravel()
        keep = sc >= min_raw_score
        a, b, sc = a[keep], b[keep], sc[keep]
        return pd.DataFrame(
            {"id_a": np.minimum(a, b), "id_b": np.maximum(a, b), "cos_raw": sc}
        )

    return rep.groupBy("_i", "_j").applyInPandas(
        score, "id_a long, id_b long, cos_raw double"
    )


def multitable_codes(vec: Column, planes: list[list[float]], k: int) -> Column:
    """Multi-table sign-LSH codes: `planes` is split into L = len/k
    tables of k hyperplanes; code t = (t << 8) | k-bit signature. A pair
    is a candidate iff ANY table code matches — boosting recall from
    p^k (single table) to 1-(1-p^k)^L, the standard LSH amplification.
    The t<<8 offset keeps codes from different tables disjoint so a flat
    array + equi-join on the exploded code implements per-table
    matching."""
    if len(planes) % k != 0:
        raise ValueError(
            f"len(planes)={len(planes)} must be a multiple of k={k}; "
            "leftover hyperplanes would be silently dropped"
        )
    if k > 8:
        raise ValueError(
            f"k={k} > 8: the t*256 table offset only keeps {2**k}-wide "
            "codes disjoint across tables for k <= 8"
        )
    n_tables = len(planes) // k
    codes = []
    for t in range(n_tables):
        bucket = F.lit(0)
        for j in range(k):
            p = planes[t * k + j]
            proj = F.aggregate(
                F.zip_with(vec, F.array(*[F.lit(float(x)) for x in p]), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bucket = bucket + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
        codes.append((F.lit(t * 256) + bucket).cast("int"))
    return F.array(*codes)
