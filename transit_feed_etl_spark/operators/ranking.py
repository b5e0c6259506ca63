"""Distributed EXACT global ranking — the scalable replacement for a
global `Window.orderBy(...)` (which Catalyst plans as a SINGLE-partition
window: one task sorts the world, the canonical 100 TB scale-killer).

Construction (the classic range-partition + offset scheme, e.g. as used
by distributed sort-rank implementations):

1. `repartitionByRange` on the order key — non-overlapping, ordered key
   ranges per partition (RangePartitioner samples boundaries; ~rows/P per
   partition regardless of data size).
2. Per-partition row counts (tiny agg) -> cumulative offsets via a window
   over the PARTITION-ID axis (P rows, not N).
3. Local `row_number` within each range partition + broadcast-joined
   offset = exact global rank. Correct for ANY boundary placement because
   the order columns form a total order and ranges are ordered.

Cost: two data shuffles (range + the pid-keyed window exchange) and one
P-row side agg — vs. the single-task sort that falls over at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rnk",
) -> DataFrame:
    """Attach an exact, gap-free, 1-based global rank over the total
    order `order_cols` (caller must pass a tie-free column list) without
    ever materializing a single-partition sort."""
    cols = [F.col(c) for c in order_cols]
    ranged = df.repartitionByRange(*cols).withColumn("_pid", F.spark_partition_id())
    counts = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    woff = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = counts.select(
        "_pid", (F.sum("_n").over(woff) - F.col("_n")).alias("_offset")
    )
    wloc = W.partitionBy("_pid").orderBy(*cols)
    return (
        ranged.withColumn("_local_rn", F.row_number().over(wloc))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, F.col("_offset") + F.col("_local_rn"))
        .drop("_pid", "_local_rn", "_offset")
    )


def ntile_from_rank(rank: Column, n_rows: Column, n_buckets: int) -> Column:
    """SQL NTILE(b) bucket derived arithmetically from a 1-based global
    rank: the first `n_rows % b` buckets get `floor(n_rows/b) + 1` rows,
    the rest `floor(n_rows/b)` — exactly the ANSI NTILE distribution, so
    the result is value-identical to a single-partition NTILE window."""
    size = F.floor(n_rows / n_buckets)
    rem = n_rows % n_buckets
    big = size + 1
    cut = rem * big  # ranks <= cut live in the (size+1)-row buckets
    return (
        F.when(rank <= cut, F.floor((rank - 1) / big) + 1)
        .otherwise(rem + F.floor((rank - cut - 1) / F.greatest(size, F.lit(1))) + 1)
        .cast("int")
    )
