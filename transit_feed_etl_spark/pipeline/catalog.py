"""File-metadata catalog (SURVEY.md §2 A13-A21): the Spark equivalent of
the reference's SQLite `geoparquet_files` table (reference
gtfs_rt_assets.py:146-190) — one metadata row per written file or hour
partition with record count, latest `ts` and bounding box, kept as an
append-only directory of small parquet files.

Like the reference's INSERT, a batch's rows are committed from the
driver (`FileCatalog.commit_rows`): pyarrow writes one file under a
hidden temp name and renames it into place, so no Spark job runs and
a reader sees all of a commit or none of it. The quality check
(`check_not_empty`) also runs on the driver: catalog files are
immutable, so an instance reads each file once and a live tick's check
reads only the file the last commit added. The catalog stays a plain
parquet table that `read()` hands to Spark for the other queries.

The bbox columns act as a coarse spatial zone map: `prune_files` turns a
query bbox into the subset of file paths whose bbox intersects it, and
the caller scans only those (reference stores bboxes but never queries
them — SURVEY.md §4 flags this as the missed index; we close the loop).

Auto-increment `id` (reference gtfs_rt_assets.py:148) has no distributed
equivalent — we use (batch_id, created_at) instead; documented deviation.
"""

from __future__ import annotations

import math
import os
import re
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from transit_feed_etl_spark.pipeline.gtfs import PARTITION_COLS

# Schemes the os.path existence probes can answer truthfully.  On a
# cluster whose catalog stores s3://... or hdfs://... URIs, a local
# os.path.exists silently returns False for EVERY file, so
# missing_files/check_not_empty would report the whole catalog missing
# instead of failing.  Fail loudly and point at the fix; routing through
# the Hadoop FileSystem API is the cluster-side extension seam.
_LOCAL_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://")


def _require_local(path: str) -> str:
    """Return a plain filesystem path, raising on non-local URI schemes.

    ``file://`` URIs are local — strip the scheme AND percent-decode the
    path portion so os.path works (Hadoop/Spark emit percent-encoded
    URIs for paths with spaces or special chars: ``file:///a%20b`` must
    stat ``/a b``, not the encoded string, or the file silently reads as
    missing); anything else (s3://, hdfs://, abfss://,
    gs://, ...) cannot be stat'ed with os.path and must not silently
    read as 'missing'.
    """
    from urllib.parse import unquote

    m = _LOCAL_SCHEME_RE.match(path)
    if m is None:
        return path
    scheme = m.group(1).lower()
    if scheme == "file":
        rest = path[len(m.group(0)) :]
        if rest.startswith("/"):  # file:///abs/path — empty authority
            return unquote(rest)
        # file://<host>/path carries an authority component; silently
        # dropping it would yield a cwd-relative path and recreate the
        # exact silent-missing corruption this guard exists to prevent.
        host, _, tail = rest.partition("/")
        if host in ("localhost", "127.0.0.1"):
            return "/" + unquote(tail)
        raise ValueError(
            f"catalog existence probe got a file:// URI with a non-local "
            f"authority ({path!r}): os.path cannot stat files on "
            f"{host!r}. Use file:///... or a plain path."
        )
    raise ValueError(
        f"catalog existence probe got a non-local URI ({path!r}): os.path "
        f"cannot stat {scheme}:// paths, and treating them as missing would "
        "corrupt missing_files/check_not_empty results. Mount the store "
        "locally or extend the probe via the Hadoop FileSystem API."
    )


CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("file_path", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("record_count", T.LongType(), False),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("bbox_minx", T.DoubleType(), True),
        T.StructField("bbox_miny", T.DoubleType(), True),
        T.StructField("bbox_maxx", T.DoubleType(), True),
        T.StructField("bbox_maxy", T.DoubleType(), True),
    ]
)


_ARROW_SCHEMA = to_arrow_schema(CATALOG_SCHEMA)  # timestamps: us, UTC
# what check_not_empty reads of each file; Spark's INT96 and pyarrow's
# UTC INT64 timestamps both cast to epoch microseconds
_CHECK_SCHEMA = pa.schema(
    [("ts", pa.int64()), ("batch_id", pa.int64()),
     ("record_count", pa.int64()), ("file_path", pa.string())]
)


def catalog_aggs() -> list[Column]:
    """A14-A16 aggregates of one catalog row: record count, bbox
    (MIN/MAX over lon/lat — gdf.total_bounds parity, reference
    gtfs_rt_assets.py:161-168; NULL when no valid geometry, :169-170)
    and the latest `ts` as exact microseconds since the epoch (`ts_us`)."""
    return [
        F.count(F.lit(1)).alias("record_count"),
        F.min("longitude").alias("bbox_minx"),
        F.min("latitude").alias("bbox_miny"),
        F.max("longitude").alias("bbox_maxx"),
        F.max("latitude").alias("bbox_maxy"),
        F.unix_micros(F.max("ts")).alias("ts_us"),
    ]


def _min_max(a: pa.ChunkedArray) -> tuple:
    """MIN and MAX of a double column as Spark computes them: NULLs are
    skipped and NaN sorts above every number, +inf included (pyarrow's
    own min/max skip NaN)."""
    a = a.drop_null()
    num = a.filter(pc.invert(pc.is_nan(a)))
    if len(num) == 0:
        v = math.nan if len(a) else None
        return v, v
    mm = pc.min_max(num)
    return mm["min"].as_py(), math.nan if len(num) < len(a) else mm["max"].as_py()


def table_catalog_row(tbl: pa.Table) -> dict:
    """`catalog_aggs` over all rows of an Arrow table, computed on the
    driver with Spark's semantics: record count, bbox and `ts_us`."""
    (minx, maxx), (miny, maxy) = _min_max(tbl["longitude"]), _min_max(tbl["latitude"])
    ts = pc.max(tbl["ts"])
    return {
        "record_count": tbl.num_rows,
        "bbox_minx": minx, "bbox_miny": miny, "bbox_maxx": maxx, "bbox_maxy": maxy,
        "ts_us": None if not ts.is_valid else ts.cast(pa.timestamp("us")).value,
    }


@dataclass
class FileCatalog:
    spark: SparkSession
    path: str
    # catalog files read so far, path -> (size, mtime_ns), and their check
    # columns as one contiguous table
    _seen: dict = field(default_factory=dict, init=False, repr=False, compare=False)
    _table: pa.Table | None = field(default=None, init=False, repr=False, compare=False)

    def _files(self) -> list[os.DirEntry]:
        """The committed catalog files. Hidden and `_`-prefixed names
        (temp files, Spark's `_SUCCESS`) are skipped, as Spark skips them."""
        if not os.path.isdir(self.path):
            return []
        return [
            e
            for e in os.scandir(self.path)
            if e.name.endswith(".parquet") and not e.name.startswith((".", "_"))
        ]

    def read(self) -> DataFrame:
        """A13: the catalog table (empty frame with the DDL schema when
        nothing has been written — CREATE TABLE IF NOT EXISTS parity)."""
        if self._files():
            return self.spark.read.schema(CATALOG_SCHEMA).parquet(self.path)
        return self.spark.createDataFrame([], CATALOG_SCHEMA)

    def commit_rows(self, batch_id: int, rows: list[dict]) -> None:
        """Append a batch's catalog rows as one parquet file, written on the
        driver with pyarrow: no Spark job. Each row maps `file_path`,
        `record_count`, the four `bbox_*` values and `ts_us`, the latest
        `ts` in microseconds (NULL: the commit time, as is `created_at`).
        The file is written under a hidden temp name, which every reader
        skips, and renamed into place, so readers see all of it or none."""
        if not rows:
            return
        now = datetime.now(timezone.utc)
        table = pa.Table.from_pylist(
            [
                {**r, "batch_id": batch_id, "created_at": now,
                 "ts": now if r["ts_us"] is None else r["ts_us"]}
                for r in rows
            ],
            schema=_ARROW_SCHEMA,
        )
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{int(batch_id):05d}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.path, name))

    def append_batch(self, batch: DataFrame, batch_id: int, file_path: str) -> None:
        """A14+A15+A16: one catalog row for a written file — the batch's
        record count, bbox and latest `ts` — computed with one collect
        and committed from the driver."""
        row = batch.agg(*catalog_aggs()).collect()[0]
        self.commit_rows(batch_id, [{**row.asDict(), "file_path": file_path}])

    def append_batch_partitions(
        self, batch: DataFrame, batch_id: int, out_root: str
    ) -> None:
        """Per-partition catalog rows: one metadata row per hour
        partition the batch touched (a micro-batch can span hours when
        catching up — a single whole-batch row would leave earlier
        partitions invisible to the bbox zone map). One collect of an
        aggregate grouped on the partition columns, committed from the
        driver. The ingest tick computes the same rows on the driver, from
        each hour file it writes (`table_catalog_row`)."""
        groups = batch.groupBy(*PARTITION_COLS).agg(*catalog_aggs()).collect()
        self.commit_rows(batch_id, [
            {**g.asDict(), "file_path": "/".join([out_root, *(f"{c}={g[c]}" for c in PARTITION_COLS)])}
            for g in groups
        ])

    # ---- quality-check queries (A17-A21, reference gtfs_rt_assets.py:200-245)

    def total_records(self) -> int:
        """A17: SUM(record_count) with NULL->0."""
        return self.read().agg(
            F.coalesce(F.sum("record_count"), F.lit(0)).alias("total")
        ).collect()[0]["total"]

    def recent_records(self, lookback_hours: int = 1) -> int:
        """A18: records in the trailing window, anchored on MAX(ts)
        (event-time — fixes the reference's wall-clock/localtime bug,
        gtfs_rt_assets.py:210-214)."""
        cat = self.read()
        anchor = cat.agg(F.max("ts").alias("m"))
        return (
            cat.crossJoin(F.broadcast(anchor))
            .filter(F.col("ts") >= F.col("m") - F.expr(f"INTERVAL {lookback_hours} HOUR"))
            .agg(F.coalesce(F.sum("record_count"), F.lit(0)).alias("recent"))
            .collect()[0]["recent"]
        )

    def latest_file(self):
        """A19: most recent catalog row (ORDER BY ts DESC LIMIT 1, with
        batch_id tie-break)."""
        rows = (
            self.read()
            .orderBy(F.col("ts").desc(), F.col("batch_id").desc())
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    @staticmethod
    def _existing_paths(paths: DataFrame) -> DataFrame:
        """Distributed existence probe: each task stats ITS partition's
        paths (shared storage — local fs here, HDFS/S3 mounts on a
        cluster). The file list never collects to the driver, so the
        probe scales with executors, not driver heap: a minutely-file
        catalog is ~10^5-10^6 rows/year, and the anti-join form needs
        no bound on it."""

        def probe(batches):
            for pdf in batches:
                yield pdf[
                    pdf["file_path"].map(lambda p: os.path.exists(_require_local(p)))
                ]

        return paths.mapInPandas(probe, schema="file_path string")

    def missing_files(self) -> DataFrame:
        """A20: catalog-vs-filesystem consistency as a real left-anti
        join (the reference does os.path.exists on one row,
        gtfs_rt_assets.py:225-226). Fully distributed: the existence
        probe runs executor-side (no driver collect of the catalog)."""
        cat = self.read()
        fs = self._existing_paths(cat.select("file_path").distinct())
        return cat.join(fs, "file_path", "left_anti")

    def _check_table(self) -> pa.Table | None:
        """The catalog's (ts in microseconds, batch_id, record_count,
        file_path) columns, read with pyarrow, or None for an empty
        catalog. Catalog files are immutable: each is read once per
        instance and folded into one cached table; if a file read before
        changes size or mtime, or goes away, every file is read again."""
        files = {}
        for e in self._files():
            st = e.stat()
            files[e.path] = (st.st_size, st.st_mtime_ns)
        if any(files.get(p) != key for p, key in self._seen.items()):
            self._seen, self._table = {}, None
        new = [p for p in files if p not in self._seen]
        if new:
            tables = [
                pq.read_table(p, columns=_CHECK_SCHEMA.names, coerce_int96_timestamp_unit="us")
                .cast(_CHECK_SCHEMA)
                for p in new
            ]
            if self._table is not None:
                tables.insert(0, self._table)
            self._table = pa.concat_tables(tables).combine_chunks()
            self._seen.update((p, files[p]) for p in new)
        return self._table

    def check_not_empty(self, lookback_hours: int = 1) -> dict:
        """A21: the reference's asset check — total>0, recent>0, latest
        file exists — returned as a metrics dict (A22 metadata parity).
        Answers as `total_records` / `recent_records` / `latest_file` do,
        on the driver with no Spark job, reading only catalog files this
        instance has not read before."""
        t = self._check_table()
        total = recent = 0
        latest = None
        if t is not None and t.num_rows:
            ts = t["ts"]
            total = pc.sum(t["record_count"]).as_py() or 0
            anchor = pc.max(ts)
            since = anchor.as_py() - lookback_hours * 3_600_000_000
            recent = pc.sum(t["record_count"].filter(pc.greater_equal(ts, since))).as_py() or 0
            # ORDER BY ts DESC, batch_id DESC LIMIT 1: of the rows at the
            # latest ts, the first with the highest batch_id
            top = t.filter(pc.equal(ts, anchor))
            at = pc.index(top["batch_id"], pc.max(top["batch_id"])).as_py()
            latest = top["file_path"][at].as_py()
        latest_exists = latest is not None and os.path.exists(_require_local(latest))
        return {
            "passed": bool(total > 0 and recent > 0 and latest_exists),
            "total_records": int(total),
            "recent_records": int(recent),
            "latest_file": latest,
            "latest_file_exists": latest_exists,
        }

    # ---- bbox zone-map pruning (SURVEY.md §4 custom piece #1)

    def prune_files(
        self, minx: float, miny: float, maxx: float, maxy: float
    ) -> list[str]:
        """Return catalog file paths whose bbox intersects the query
        bbox (NULL-bbox files are kept — unknown extent must not be
        skipped). Feed the result to spark.read.parquet(*paths): a
        zone-map file skip executed before the scan starts."""
        cat = self.read()
        intersects = (
            F.col("bbox_minx").isNull()
            | (
                (F.col("bbox_minx") <= maxx)
                & (F.col("bbox_maxx") >= minx)
                & (F.col("bbox_miny") <= maxy)
                & (F.col("bbox_maxy") >= miny)
            )
        )
        return [
            r["file_path"]
            for r in cat.filter(intersects).select("file_path").distinct().collect()
        ]

    def read_bbox(
        self, minx: float, miny: float, maxx: float, maxy: float
    ) -> DataFrame | None:
        """Pruned scan + exact residual filter (files are coarse; rows
        still need the precise predicate)."""
        files = [
            p
            for p in self.prune_files(minx, miny, maxx, maxy)
            if os.path.exists(_require_local(p))
        ]
        if not files:
            return None
        df = self.spark.read.parquet(*files)
        return df.filter(
            F.col("longitude").between(minx, maxx)
            & F.col("latitude").between(miny, maxy)
        )

    # ---- snapshot / time-travel reads (lakehouse semantics on parquet)

    def files_as_of(self, as_of_batch_id: int) -> list[str]:
        """Manifest listing for a SNAPSHOT: every file the catalog had
        registered up to and including `as_of_batch_id`. The catalog is
        append-only, so (catalog rows WHERE batch_id <= N) IS the table
        state after batch N committed — the same manifest-cut trick
        Delta/Iceberg time travel uses, on plain parquet. The manifest
        is metadata-sized; collecting it at the driver is the standard
        pattern (file LISTS are small even when data is 100 TB)."""
        cat = self.read()
        return [
            r["file_path"]
            for r in cat.filter(F.col("batch_id") <= int(as_of_batch_id))
            .select("file_path")
            .distinct()
            .collect()
        ]

    def read_snapshot(self, as_of_batch_id: int) -> DataFrame | None:
        """Time travel: read the dataset exactly as it existed after the
        given batch — later-ingested files are invisible even though they
        sit in the same directory tree. Returns None for an empty
        snapshot.

        Caveat (documented limitation): the catalog is append-only and
        knows nothing of compaction. `compact_partitions` writes its
        output to a `root + "_compacted"` sibling directory and never
        touches the catalog, so snapshots keep reading the original
        small files; compaction committed through the catalog, with
        add/remove actions per batch (the Delta/Iceberg log structure),
        is ROADMAP direction 4. Time travel is exact for append-only
        ingest, which is the reference pipeline's actual write
        pattern."""
        files = [
            p
            for p in self.files_as_of(as_of_batch_id)
            if os.path.exists(_require_local(p))
        ]
        if not files:
            return None
        return self.spark.read.parquet(*files)

    def snapshot_record_counts(self) -> DataFrame:
        """Audit view: cumulative record count per batch — the history
        panel (one row per snapshot) a time-travel UI lists. Pure window
        over the metadata table."""
        from pyspark.sql import Window as W

        w = (
            W.orderBy("batch_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        return (
            self.read()
            .groupBy("batch_id")
            .agg(F.sum("record_count").alias("batch_records"))
            .withColumn("cumulative_records", F.sum("batch_records").over(w))
            .orderBy("batch_id")
        )

    def unreferenced_files(self, data_root: str) -> list[str]:
        """VACUUM dry-run (inverse of `missing_files`): parquet files on
        disk under `data_root` that NO catalog row references — orphans
        left by failed writes or retired by compaction. Returns the
        deletion candidates; actually deleting is the caller's decision
        (a real vacuum also applies a retention window so in-flight
        readers of old snapshots don't lose files mid-query).

        The directory->file expansion of catalog entries runs
        executor-side (mapInPandas), and the referenced set meets the
        on-disk listing in a distributed anti-join — the full catalog is
        never collected to the driver. Only the on-disk walk of
        `data_root` (the glob boundary) and the FINAL orphan list (the
        deletion candidates the caller asked for) touch the driver."""

        def expand(batches):
            import pandas as pd

            for pdf in batches:
                out: list[str] = []
                for p in map(_require_local, pdf["file_path"]):
                    if os.path.isdir(p):
                        for root, _, files in os.walk(p):
                            out.extend(
                                os.path.join(root, f)
                                for f in files
                                if f.endswith(".parquet")
                            )
                    else:
                        out.append(p)
                yield pd.DataFrame({"file_path": out})

        on_disk = sorted(
            os.path.join(root, f)
            for root, _, files in os.walk(data_root)
            for f in files
            if f.endswith(".parquet")
        )
        disk_df = self.spark.createDataFrame(
            [(p,) for p in on_disk],
            T.StructType([T.StructField("file_path", T.StringType(), False)]),
        )
        referenced = (
            self.read()
            .select("file_path")
            .distinct()
            .mapInPandas(expand, schema="file_path string")
        )
        orphans = disk_df.join(referenced, "file_path", "left_anti")
        return sorted(r["file_path"] for r in orphans.collect())
