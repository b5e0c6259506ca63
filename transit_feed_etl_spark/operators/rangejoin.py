"""Binned range (interval) join (SURVEY.md §2 Part B "joins — theta /
range"; the reference has no joins at all — its closest shape is the
1-hour-lookback predicate, reference gtfs_rt_assets.py:210-214).

A point-in-interval join with NO equi key is planned by Spark as a
BroadcastNestedLoopJoin — O(|L| x |R|) comparisons, a non-starter at
100 TB. The scalable construction bins the time axis: every interval is
exploded to the fixed-width bins it overlaps, every point maps to one
bin, and the join becomes an equi-join on bin id followed by the exact
range predicate. Work drops to O(|L| + |R| x avg_bins + candidate
pairs); the bin width trades explode factor (long intervals -> many
bins) against candidate precision (wide bins -> more false candidates).
Pick width ~= the typical interval length so both stay O(1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _epoch(c: Column) -> Column:
    return c.cast("timestamp_ltz").cast("long")


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bin_width_s: int,
) -> DataFrame:
    """Inner-join each row of ``points`` to every row of ``intervals``
    whose [start_ts, end_ts] contains point_ts (inclusive bounds). An
    outer join cannot be built this way: an interval is exploded to one
    row per bin it spans, so its unmatched bins would each emit a row.

    Both inputs keep all their columns; callers project/aggregate after.
    The bin equi-key makes this a plain shuffled (or broadcast, if one
    side is small) HASH join — never a nested loop.
    """
    p = points.withColumn("_bin", F.floor(_epoch(F.col(point_ts)) / bin_width_s))
    i = intervals.withColumn(
        "_bins",
        F.sequence(
            F.floor(_epoch(F.col(start_ts)) / bin_width_s),
            F.floor(_epoch(F.col(end_ts)) / bin_width_s),
        ),
    ).withColumn("_bin", F.explode("_bins")).drop("_bins")
    cond = (
        (p["_bin"] == i["_bin"])
        & (F.col(point_ts) >= F.col(start_ts))
        & (F.col(point_ts) <= F.col(end_ts))
    )
    return p.join(i, cond).drop("_bin")
