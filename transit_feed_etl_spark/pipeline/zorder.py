"""Z-order (Morton-curve) spatial layout for the bbox zone-map catalog.

The reference keeps a per-file bbox catalog (gtfs_rt_assets.py:161-185)
and we made it actionable as a file-skipping pre-filter
(`FileCatalog.prune_files`). But a zone map is only as good as the
LAYOUT: files written in arrival order cover the whole service area, so
every file's bbox intersects every query and nothing skips. Z-ORDERING
the write fixes that — interleave the bits of quantized (lon, lat) into
a Morton code and range-partition + sort by it, so each output file
covers a spatially COMPACT cell and a query bbox intersects only a few
file bboxes. This is the standard lakehouse data-skipping layout
(Delta/Iceberg `ZORDER BY`), built here from pure Catalyst expressions:
quantize → unrolled bit-interleave → `repartitionByRange`.

At 100 TB: the Morton sort is one range exchange at write time (paid
once, like bucketing); every subsequent spatial query pays file-listing
proportional to the query area, not the corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MORTON_BITS = 16  # per dimension -> 32-bit codes, ~0.005° cells


def _quantize(v: Column, lo: float, hi: float) -> Column:
    """Clamp to [lo, hi] and scale to an integer in [0, 2^MORTON_BITS)."""
    n = (1 << MORTON_BITS) - 1
    clamped = F.least(F.greatest(v, F.lit(lo)), F.lit(hi))
    return F.floor((clamped - F.lit(lo)) / F.lit(hi - lo) * n).cast("long")


def morton_code(lon: Column | str, lat: Column | str) -> Column:
    """Interleaved-bit Morton code of (lon, lat), fully JVM-side: an
    unrolled sum of shift/mask expressions (2*MORTON_BITS terms, constant-
    folded structure — no UDF, participates in whole-stage codegen).
    NULL coordinates yield NULL (sorted last by repartitionByRange)."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    qx = _quantize(lon, -180.0, 180.0)
    qy = _quantize(lat, -90.0, 90.0)
    code = F.lit(0).cast("long")
    for i in range(MORTON_BITS):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(qx, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(qy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return code


def write_zordered(
    df: DataFrame,
    root: str,
    n_files: int,
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    mode: str = "overwrite",
) -> None:
    """Write `df` as `n_files` parquet files range-partitioned and
    sorted by Morton code — each file covers a compact spatial cell, so
    the bbox catalog's per-file zone map becomes selective (files ×
    query-area, not files × corpus-area)."""
    out = df.withColumn("_z", morton_code(lon_col, lat_col))
    (
        out.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(root)
    )
