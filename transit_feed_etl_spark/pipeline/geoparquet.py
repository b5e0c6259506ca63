"""GeoParquet sink (A12 parity, reference gtfs_rt_assets.py:122-141).

The reference writes real GeoParquet via geopandas: a WKB geometry
column plus a `geo` file-metadata key carrying encoding/bbox/CRS, so
spatial readers recognize the file. Spark's parquet writer cannot
attach custom key-value metadata, so the footer is added on the driver:

1. `wkb_point` builds the 21-byte WKB point encoding (public OGC spec:
   byte-order 01, geom-type 1, x, y as little-endian doubles) as a JVM
   expression, so Spark's write starts no Python worker;
2. `geo_footer` adds the GeoParquet 1.0.0 `geo` JSON (geoparquet.org
   spec) to an Arrow table's schema metadata: primary_column, WKB
   encoding, Point geometry type, a bbox computed from the table's own
   lon/lat, CRS PROJJSON for EPSG:4326 (constant per reference
   gtfs_rt_assets.py:128). pyarrow writes it into the file's footer.

The ingest tick (`streaming/ingest.py`) stamps the footer as it writes
each final sink file from the hour file Spark staged, so no sink file
is rewritten. `write_geoparquet` and `compact_partitions` let Spark
write the final files and stamp them in place afterwards with
`finalize_geo_metadata`, a driver-side loop that reads and rewrites
each unstamped file once and skips stamped files from their footer.
"""

from __future__ import annotations

import glob
import json
import os
import struct

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GEO_VERSION = "1.0.0"

# Minimal PROJJSON for EPSG:4326 (public EPSG registry definition).
CRS_PROJJSON = {
    "$schema": "https://proj.org/schemas/v0.5/projjson.schema.json",
    "type": "GeographicCRS",
    "name": "WGS 84",
    "datum": {
        "type": "GeodeticReferenceFrame",
        "name": "World Geodetic System 1984",
        "ellipsoid": {
            "name": "WGS 84",
            "semi_major_axis": 6378137,
            "inverse_flattening": 298.257223563,
        },
    },
    "coordinate_system": {
        "subtype": "ellipsoidal",
        "axis": [
            {"name": "Geodetic latitude", "abbreviation": "Lat",
             "direction": "north", "unit": "degree"},
            {"name": "Geodetic longitude", "abbreviation": "Lon",
             "direction": "east", "unit": "degree"},
        ],
    },
    "id": {"authority": "EPSG", "code": 4326},
}


_WKB_POINT_HEADER = bytes.fromhex("0101000000")  # little-endian, Point


def _le_double(x: Column) -> Column:
    """The 8 little-endian IEEE-754 bytes of a double: its raw bits,
    byte-swapped, as 16 zero-padded hex digits, unhexed."""
    bits = F.reflect(F.lit("java.lang.Double"), F.lit("doubleToRawLongBits"), x)
    swapped = F.reflect(F.lit("java.lang.Long"), F.lit("reverseBytes"), bits.cast("long"))
    return F.unhex(F.lpad(F.hex(swapped.cast("long")), 16, "0"))


def wkb_point(lon: Column | str, lat: Column | str) -> Column:
    """WKB point: 01 (little-endian) + 01000000 (Point) + x + y. NULL
    when either coordinate is NULL or NaN (the reference's None-geometry
    rows, gtfs_rt_assets.py:124-127)."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    present = lon.isNotNull() & lat.isNotNull() & ~F.isnan(lon) & ~F.isnan(lat)
    return F.when(
        present, F.concat(F.lit(_WKB_POINT_HEADER), _le_double(lon), _le_double(lat))
    )


def geo_metadata(bbox: list[float] | None) -> dict:
    col: dict = {
        "encoding": "WKB",
        "geometry_types": ["Point"],
        "crs": CRS_PROJJSON,
    }
    if bbox is not None:
        col["bbox"] = bbox
    return {
        "version": GEO_VERSION,
        "primary_column": "geometry",
        "columns": {"geometry": col},
    }


def write_geoparquet(
    df: DataFrame,
    root: str,
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Distributed write + footer finalize. Adds a WKB `geometry`
    column derived from lon/lat; NULL-coordinate rows keep NULL
    geometry (null-tolerant schema, SURVEY §1.1)."""
    out = df.withColumn("geometry", wkb_point(lon_col, lat_col))
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(root)
    finalize_geo_metadata(root, lon_col, lat_col)


def geo_footer(
    tbl: pa.Table, lon_col: str = "longitude", lat_col: str = "latitude"
) -> pa.Table:
    """`tbl` with the GeoParquet `geo` key added to its schema metadata.
    The bbox is min/max of the table's own coordinates (the reference's
    gdf.total_bounds per file, gtfs_rt_assets.py:161-168); a table whose
    longitudes are all NULL gets a bbox-less entry (the reference's NULL-bbox
    fallback, gtfs_rt_assets.py:169-170)."""
    bbox = None
    if lon_col in tbl.column_names and lat_col in tbl.column_names:
        lo, la = tbl[lon_col], tbl[lat_col]
        if lo.null_count < len(lo):
            bbox = [
                pc.min(lo).as_py(), pc.min(la).as_py(),
                pc.max(lo).as_py(), pc.max(la).as_py(),
            ]
    meta = dict(tbl.schema.metadata or {})
    meta[b"geo"] = json.dumps(geo_metadata(bbox)).encode()
    return tbl.replace_schema_metadata(meta)


def finalize_geo_metadata(
    root: str, lon_col: str = "longitude", lat_col: str = "latitude"
) -> int:
    """Stamp the GeoParquet `geo` metadata onto every parquet file under
    root that doesn't have it yet (`geo_footer`, one bbox per file);
    returns the number stamped. The skip reads only footers, so files
    stamped earlier cost one footer read.

    Spark must still read a rewritten file: Spark's INT96 timestamps are
    read as microseconds (pyarrow's nanosecond default is written back
    as INT64 nanos, which Spark rejects), and the stale `.<name>.crc`
    checksum Hadoop keeps beside each file and verifies is removed."""
    n = 0
    for path in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        if b"geo" in (pq.read_metadata(path).metadata or {}):
            continue
        tbl = pq.read_table(path, coerce_int96_timestamp_unit="us")
        pq.write_table(geo_footer(tbl, lon_col, lat_col), path)
        head, name = os.path.split(path)
        crc = os.path.join(head, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        n += 1
    return n


def read_wkb_points(wkb: pd.Series) -> pd.DataFrame:
    """Test/reader helper: decode WKB points back to (lon, lat)."""
    lons, lats = [], []
    for b in wkb:
        if b is None:
            lons.append(None)
            lats.append(None)
        else:
            assert bytes(b[:5]) == b"\x01\x01\x00\x00\x00", "not a WKB point"
            x, y = struct.unpack("<dd", bytes(b[5:21]))
            lons.append(x)
            lats.append(y)
    return pd.DataFrame({"lon": lons, "lat": lats})
