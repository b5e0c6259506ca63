"""GeoParquet sink round-trip (reference gtfs_rt_assets.py:122-141
writes real GeoParquet with CRS EPSG:4326 and per-file bbox): the
written files must carry the `geo` footer metadata a geopandas-style
reader keys on, and the WKB geometry must decode back to lon/lat."""

from __future__ import annotations

import glob
import json
import math
import struct
import sys
from datetime import datetime

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from transit_feed_etl_spark.pipeline.geoparquet import (
    finalize_geo_metadata,
    read_wkb_points,
    wkb_point,
    write_geoparquet,
)
from transit_feed_etl_spark.pipeline.gtfs import (
    VEHICLE_POSITION_SCHEMA,
    compact_partitions,
    with_time_partitions,
)


@pytest.fixture()
def positions(spark):
    rows = [
        ("v1", -74.0, 40.7),
        ("v2", -73.5, 41.0),
        ("v3", None, None),  # NULL-geometry row stays NULL
    ]
    return spark.createDataFrame(
        rows, "vehicle_id string, longitude double, latitude double"
    )


def test_geoparquet_roundtrip(positions, tmp_path):
    root = str(tmp_path / "geo")
    write_geoparquet(positions.coalesce(1), root, mode="overwrite")

    files = glob.glob(root + "/**/*.parquet", recursive=True)
    assert files
    tbl = pq.read_table(files[0])

    # geo footer: the exact keys the GeoParquet 1.0 spec requires
    meta = json.loads(tbl.schema.metadata[b"geo"])
    assert meta["version"] == "1.0.0"
    assert meta["primary_column"] == "geometry"
    col = meta["columns"]["geometry"]
    assert col["encoding"] == "WKB"
    assert col["geometry_types"] == ["Point"]
    assert col["crs"]["id"] == {"authority": "EPSG", "code": 4326}
    # per-file bbox from the file's own coordinates (NULLs excluded)
    assert col["bbox"] == [-74.0, 40.7, -73.5, 41.0]

    # WKB round-trip: binary -> (lon, lat), NULL preserved
    pdf = tbl.to_pandas().sort_values("vehicle_id")
    pts = read_wkb_points(pdf["geometry"])
    assert pts["lon"].tolist()[:2] == [-74.0, -73.5]
    assert pts["lat"].tolist()[:2] == [40.7, 41.0]
    assert pd.isna(pts["lon"].tolist()[2])


def test_all_null_file_gets_bboxless_geo(spark, tmp_path):
    df = spark.createDataFrame(
        [("x", None, None)], "vehicle_id string, longitude double, latitude double"
    )
    root = str(tmp_path / "geo_null")
    write_geoparquet(df.coalesce(1), root, mode="overwrite")
    f = glob.glob(root + "/**/*.parquet", recursive=True)[0]
    col = json.loads(pq.read_table(f).schema.metadata[b"geo"])["columns"]["geometry"]
    assert "bbox" not in col  # reference's NULL-bbox fallback
    assert col["crs"]["id"]["code"] == 4326


def test_finalize_is_idempotent(positions, tmp_path):
    root = str(tmp_path / "geo2")
    write_geoparquet(positions.coalesce(1), root, mode="overwrite")
    assert finalize_geo_metadata(root) == 0  # already stamped -> no rewrite


def test_finalize_skips_stamped_files_from_the_footer(positions, tmp_path, monkeypatch):
    """The skip is decided from the footer: a stamped file's data is
    never read, so a sink's per-batch footer pass does not grow with
    the bytes already in it."""
    root = str(tmp_path / "geo_skip")
    write_geoparquet(positions.coalesce(1), root, mode="overwrite")

    def no_table_reads(*_a, **_k):
        raise AssertionError("read a stamped file's data")

    monkeypatch.setattr(pq, "read_table", no_table_reads)
    assert finalize_geo_metadata(root) == 0


def test_wkb_point_bytes_match_struct_pack(spark):
    """The JVM WKB expression is byte-identical to the OGC encoding
    built with struct.pack("<dd"): signed zeros, subnormals, DBL_MAX
    and infinities keep their exact bits; NaN or a NULL on either side
    gives a NULL geometry."""
    edge = [0.0, -0.0, 5e-324, -2.2250738585072014e-308, sys.float_info.max,
            -sys.float_info.max, math.inf, -math.inf, 40.7, -74.0]
    rows = [(x, y) for x in edge for y in edge]
    rows += [(math.nan, 1.0), (1.0, math.nan), (None, 1.0), (1.0, None), (None, None)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = df.select("x", "y", wkb_point("x", "y").alias("g")).collect()
    assert len(got) == len(rows)
    for r in got:
        x, y = r["x"], r["y"]
        if x is None or y is None or math.isnan(x) or math.isnan(y):
            assert r["g"] is None, (x, y)
        else:
            want = b"\x01\x01\x00\x00\x00" + struct.pack("<dd", x, y)
            assert bytes(r["g"]) == want, (x, y)


def test_spark_reads_finalized_partitioned_sink(spark, tmp_path):
    """Stamping rewrites files in place; the Hadoop checksum files Spark
    wrote beside them must not survive, or Spark's own reader (and the
    compaction job on top of it) rejects the sink."""
    rows = [
        ("f", datetime(2024, 3, 1, h, m), f"v{h}{m}", 40.0 + m, -74.0 + h,
         1.0, 0.0, None, None, None, None)
        for h in (12, 13) for m in range(3)
    ]
    df = with_time_partitions(spark.createDataFrame(rows, VEHICLE_POSITION_SCHEMA))
    root = str(tmp_path / "geo_sink")
    parts = ("year", "month", "day", "hour")
    write_geoparquet(df.repartition(2), root, partition_by=parts)
    write_geoparquet(df.repartition(2), root, partition_by=parts)  # second batch
    assert glob.glob(root + "/**/*.parquet", recursive=True)
    assert not glob.glob(root + "/**/.*.parquet.crc", recursive=True)

    back = spark.read.parquet(root)
    assert back.count() == 2 * len(rows)
    # the same instants, also to a reader in another session time zone
    instants = {r[0] for r in df.select(F.unix_micros("ts")).collect()}
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = {r[0] for r in spark.read.parquet(root).select(F.unix_micros("ts")).collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert got == instants
    assert back.filter("geometry IS NULL").count() == 0

    compact_partitions(spark, root, target_files=1)
    compacted = spark.read.parquet(root + "_compacted")
    assert compacted.count() == 2 * len(rows)


def test_partitioned_geoparquet_each_file_stamped(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1.0, 2.0, 10), ("b", 3.0, 4.0, 11)],
        "vehicle_id string, longitude double, latitude double, hour int",
    )
    root = str(tmp_path / "geo3")
    write_geoparquet(
        df.repartition(1), root, mode="overwrite", partition_by=("hour",)
    )
    files = glob.glob(root + "/**/*.parquet", recursive=True)
    assert len(files) == 2
    bboxes = {
        tuple(
            json.loads(pq.read_table(f).schema.metadata[b"geo"])["columns"][
                "geometry"
            ]["bbox"]
        )
        for f in files
    }
    # per-FILE bbox, not dataset bbox
    assert bboxes == {(1.0, 2.0, 1.0, 2.0), (3.0, 4.0, 3.0, 4.0)}


def test_compaction_keeps_the_geo_footer(spark, tmp_path):
    """Compacting a GeoParquet sink gives GeoParquet: every compacted
    file carries the `geo` footer with its own bbox, and Spark still
    reads the output. A plain sink compacts to plain parquet."""
    rows = [
        ("f", datetime(2024, 3, 1, h, m), f"v{h}{m}", 40.0 + m, -74.0 + h - 12,
         1.0, 0.0, None, None, None, None)
        for h in (12, 13) for m in range(4)
    ]
    df = with_time_partitions(spark.createDataFrame(rows, VEHICLE_POSITION_SCHEMA))
    parts = ("year", "month", "day", "hour")
    root = str(tmp_path / "geo_sink")
    for m in range(4):  # one small file per minute and hour
        write_geoparquet(df.filter(F.minute("ts") == m), root, partition_by=parts)
    compact_partitions(spark, root, target_files=1)

    files = glob.glob(root + "_compacted/**/*.parquet", recursive=True)
    assert len(files) == 2
    for f in files:
        tbl = pq.read_table(f)
        col = json.loads(tbl.schema.metadata[b"geo"])["columns"]["geometry"]
        lon, lat = tbl["longitude"].to_pylist(), tbl["latitude"].to_pylist()
        assert col["bbox"] == [min(lon), min(lat), max(lon), max(lat)]
        assert len(lon) == 4
    back = spark.read.parquet(root + "_compacted")
    assert back.count() == len(rows)
    assert back.filter("geometry IS NULL").count() == 0

    plain = str(tmp_path / "plain_sink")
    df.write.partitionBy(*parts).parquet(plain)
    compact_partitions(spark, plain, target_files=1)
    assert not any(
        b"geo" in (pq.read_metadata(f).metadata or {})
        for f in glob.glob(plain + "_compacted/**/*.parquet", recursive=True)
    )
