"""GTFS-RT-shaped ETL stages (SURVEY.md §2 Part A: A3-A12), Spark-first.

The reference flattens protobuf FeedMessage entities with per-row Python
loops (reference gtfs_rt_assets.py:26-49) and builds shapely Points via
iterrows (reference gtfs_rt_assets.py:122-127). Here every stage is a
declarative DataFrame transform: explode + nested-field projection
(null-safe for free), Hive-partitioned sink. The point geometry is the
WKB column the ingest tick adds (`pipeline/geoparquet.py` `wkb_point`).

Input shape (FIXTURES.md F2 — JSON/struct-shaped so no protobuf
descriptor is needed; `sources/gtfs_wire.py` decodes protobuf feed
bytes into it):

  feed_id  string
  fetch_ts timestamp
  entity   array<struct<id string, vehicle struct<
             vehicle struct<id string>,
             position struct<latitude double, longitude double,
                             speed double, bearing double>,
             trip struct<trip_id string, route_id string>,
             current_stop_sequence int, current_status int>>>
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CRS = "EPSG:4326"  # constant per reference gtfs_rt_assets.py:128
PARTITION_COLS = ("year", "month", "day", "hour")

# Explicit schema for the flattened vehicle-position record — the
# reference's 11 implicit dict fields (gtfs_rt_assets.py:35-47) made
# explicit and properly typed (timestamp is a real TimestampType, fixing
# the reference's stringly-typed batches, gtfs_rt_assets.py:79).
VEHICLE_POSITION_SCHEMA = T.StructType(
    [
        T.StructField("feed_id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("vehicle_id", T.StringType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("speed", T.DoubleType(), True),
        T.StructField("bearing", T.DoubleType(), True),
        T.StructField("trip_id", T.StringType(), True),
        T.StructField("route_id", T.StringType(), True),
        T.StructField("current_stop_sequence", T.IntegerType(), True),
        T.StructField("current_status", T.IntegerType(), True),
    ]
)

RAW_FEED_SCHEMA = T.StructType(
    [
        T.StructField("feed_id", T.StringType(), False),
        T.StructField("fetch_ts", T.TimestampType(), False),
        T.StructField(
            "entity",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.StringType(), True),
                        T.StructField(
                            "vehicle",
                            T.StructType(
                                [
                                    T.StructField(
                                        "vehicle",
                                        T.StructType(
                                            [T.StructField("id", T.StringType(), True)]
                                        ),
                                        True,
                                    ),
                                    T.StructField(
                                        "position",
                                        T.StructType(
                                            [
                                                T.StructField("latitude", T.DoubleType(), True),
                                                T.StructField("longitude", T.DoubleType(), True),
                                                T.StructField("speed", T.DoubleType(), True),
                                                T.StructField("bearing", T.DoubleType(), True),
                                            ]
                                        ),
                                        True,
                                    ),
                                    T.StructField(
                                        "trip",
                                        T.StructType(
                                            [
                                                T.StructField("trip_id", T.StringType(), True),
                                                T.StructField("route_id", T.StringType(), True),
                                            ]
                                        ),
                                        True,
                                    ),
                                    T.StructField(
                                        "current_stop_sequence", T.IntegerType(), True
                                    ),
                                    T.StructField("current_status", T.IntegerType(), True),
                                ]
                            ),
                            True,
                        ),
                    ]
                )
            ),
            True,
        ),
    ]
)


def flatten_feed(raw: DataFrame) -> DataFrame:
    """A3+A4+A5+A6: explode entities, keep only vehicle entities
    (existence filter, reference gtfs_rt_assets.py:33), project the 11
    fields. Nested access through a NULL parent struct yields NULL —
    Spark gives the reference's 8 HasField guards
    (gtfs_rt_assets.py:38-46) for free."""
    # SQL text: the JVM parses each step in one call, where building the
    # same projection from Column objects takes a call per field
    v = "e.vehicle"
    return (
        raw.selectExpr("feed_id", "fetch_ts", "explode_outer(entity) AS e")
        .where(f"{v} IS NOT NULL")
        .selectExpr(
            "feed_id",
            "fetch_ts AS ts",
            f"{v}.vehicle.id AS vehicle_id",
            f"{v}.position.latitude AS latitude",
            f"{v}.position.longitude AS longitude",
            f"{v}.position.speed AS speed",
            f"{v}.position.bearing AS bearing",
            f"{v}.trip.trip_id AS trip_id",
            f"{v}.trip.route_id AS route_id",
            f"{v}.current_stop_sequence AS current_stop_sequence",
            f"{v}.current_status AS current_status",
        )
    )


def out_of_range() -> Column:
    """A8 quarantine predicate: coordinates present but outside WGS84
    bounds. Never NULL (NaN compares above every bound)."""
    return (
        F.col("latitude").isNotNull()
        & F.col("longitude").isNotNull()
        & (
            (F.abs(F.col("latitude")) > 90.0)
            | (F.abs(F.col("longitude")) > 180.0)
        )
    )


def validate_positions(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A8 quarantine pattern: split a batch into (good, quarantined) on
    `out_of_range`. The reference logs-and-drops failing feeds
    (gtfs_rt_assets.py:85-94); at scale a side table preserves the
    evidence instead."""
    bad = out_of_range()
    return df.filter(~bad), df.filter(bad)


def time_partition_columns(ts_col: str = "ts") -> dict[str, Column]:
    """A12 path template YYYY/MM/DD/HH (reference gtfs_rt_assets.py:136-138)
    as Hive-style partition columns -> Catalyst partition pruning on any
    time-range predicate."""
    c = F.col(ts_col)
    return {"year": F.year(c), "month": F.month(c), "day": F.dayofmonth(c), "hour": F.hour(c)}


def with_time_partitions(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    return df.withColumns(time_partition_columns(ts_col))


def write_partitioned(
    df: DataFrame, root: str, files_per_partition: int = 1, mode: str = "append"
) -> None:
    """A12 partitioned parquet sink. `repartition` by the partition
    columns first so each Hive partition is written by few tasks —
    the small-files guard the reference lacks (one file per minute,
    gtfs_rt_assets.py:138, melts the namenode at 100 TB)."""
    out = with_time_partitions(df) if "year" not in df.columns else df
    (
        out.repartition(files_per_partition * 4, *PARTITION_COLS)
        .write.mode(mode)
        .partitionBy(*PARTITION_COLS)
        .parquet(root)
    )


def compact_partitions(spark, root: str, target_files: int = 1) -> None:
    """Periodic compaction job for the small-files problem: rewrite the
    dataset with `target_files` files per hour partition. Run out-of-band
    (the reference has no equivalent — §4 scale design requirement).

    Repartitioning by the partition columns alone would put each hour on
    exactly ONE writer task (one file per hour regardless of
    target_files, and a full hour of data through a single task — a
    straggler at 100 TB); a bounded salt keyed on a stable row hash
    spreads each hour over AT MOST `target_files` writer tasks. The
    bound is <=, not ==: hash-partitioning on (hour cols, salt) can land
    two distinct salts of one hour in the same shuffle partition, whose
    writer then emits a single merged file — fine for compaction, whose
    contract is an upper bound on file count, not an exact fan-out.

    A GeoParquet source (its files carry the `geo` footer) stays
    GeoParquet: each compacted file is stamped with its own footer."""
    import pyarrow.parquet as pq

    from transit_feed_etl_spark.pipeline.geoparquet import finalize_geo_metadata

    df = spark.read.parquet(root)
    salt = F.pmod(F.xxhash64("ts", "vehicle_id"), F.lit(target_files))
    out = root + "_compacted"
    (
        df.withColumn("_salt", salt)
        .repartition("year", "month", "day", "hour", "_salt")
        .drop("_salt")
        .write.mode("overwrite")
        .partitionBy("year", "month", "day", "hour")
        .parquet(out)
    )
    src = next(glob.iglob(os.path.join(root, "**", "*.parquet"), recursive=True), None)
    if src and b"geo" in (pq.read_metadata(src).metadata or {}):
        finalize_geo_metadata(out)
