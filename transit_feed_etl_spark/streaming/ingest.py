"""Structured-Streaming ingestion — the reference's minutely cron DAG
(A23, reference gtfs_rt_assets.py:248-257) as ONE streaming query:

  spool dir (fetched feed files) -> flatten -> validate/quarantine ->
  partitioned parquet sink + catalog commit + quality check, all inside
  foreachBatch.

Each tick is two Spark jobs (one staged write of the whole batch) and
one driver pass over the staged hour files (`make_batch_processor`).

Delivery is at-least-once: the checkpoint keeps a restarted query from
reading a spool file twice, but Spark may replay a micro-batch whose
processing did not finish, and a replay appends its rows again. Making
the tick idempotent (commit keyed by `batch_id`, skip a batch already
committed) is an open item.

The reference's process-per-run orchestration (Dagster DefaultRunLauncher,
dagster.yaml:24-26) becomes driver->executor task dispatch; the IO-manager
pickle hand-offs between assets become DataFrame lineage within the batch.

HTTP fetch (A1, reference api_utils.py:57-74) stays a driver-side concern:
a fetcher drops raw feed JSON/protobuf files into the spool dir (see
sources/http_fetch.py); the engine's contract starts at the spool dir,
which is also what makes the pipeline replayable (the reference re-fetches
and can never reproduce a batch).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from transit_feed_etl_spark.pipeline.catalog import FileCatalog, table_catalog_row
from transit_feed_etl_spark.pipeline.geoparquet import geo_footer, wkb_point
from transit_feed_etl_spark.pipeline.gtfs import (
    PARTITION_COLS,
    RAW_FEED_SCHEMA,
    flatten_feed,
    geometry_columns,
    out_of_range,
    time_partition_columns,
    write_partitioned,
)

# the key under which Spark keeps its schema in a parquet footer; Spark
# reads each column with the type recorded there
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


@dataclass
class IngestMetrics:
    """A22 run-metadata parity: per-batch counters the reference attaches
    to Dagster run metadata (gtfs_rt_assets.py:62-66,96-101,192-198)."""

    batches: int = 0
    records: int = 0
    quarantined: int = 0
    empty_batches: int = 0
    checks: list = field(default_factory=list)


def _project(tbl: pa.Table, src: dict[str, str]) -> pa.Table:
    """The columns of a staged table that `src` maps (output name ->
    staged name), with Spark's schema in the footer cut to match."""
    meta = dict(tbl.schema.metadata)
    fields = {f["name"]: f for f in json.loads(meta[_SPARK_SCHEMA])["fields"]}
    meta[_SPARK_SCHEMA] = json.dumps(
        {"type": "struct", "fields": [{**fields[s], "name": o} for o, s in src.items()]}
    ).encode()
    return pa.table([tbl[s] for s in src.values()], names=list(src)).replace_schema_metadata(meta)


def make_batch_processor(
    out_root: str,
    catalog: FileCatalog,
    quarantine_root: str | None = None,
    geoparquet: bool = False,
):
    """foreachBatch sink implementing A8/A10/A12/A14-A16/A21.

    Spark writes the batch once, flattened in one projection, to a
    staging directory that is unique per call and lies under the catalog
    directory (an `_` name, which the catalog, Spark and pyarrow all
    skip): one file per hour partition holding the vehicle fields, the
    point `geometry`, `crs`, the out-of-range flag `_q` and, for
    GeoParquet, the WKB point `_wkb`. These are the batch's only two
    Spark jobs. The driver then reads each staged hour file once and
    writes:
      - the hour's good rows to `<hour>/part-<batch>-<call>.parquet`
        in the sink, with the `geo` footer (per-file bbox, EPSG:4326)
        when ``geoparquet=True`` (full A12 GeoParquet parity in the live
        pipeline, reference gtfs_rt_assets.py:122-141; the WKB column
        replaces the struct geometry);
      - its out-of-range rows to the batch's one quarantine file (A8);
      - one catalog row per hour partition with good rows: count, bbox
        and latest ts over those rows, as `catalog_aggs` computes them
        (the reference's one-file-per-run template adapted to a
        partitioned layout: per-partition rows keep the bbox zone map
        correct when a catch-up batch spans hours).
    Every output file is written under a hidden temp name and renamed
    into place once all are written; the catalog rows are committed
    next, and the quality check (A21) runs last. If anything before the
    commit raises, the batch's renamed and temp files are removed, so a
    failed batch leaves no sink file, quarantine file or catalog row.
    A batch with out-of-range rows only still keeps its quarantine
    evidence; a batch with no good row commits nothing (A10 empty-batch
    guard, gtfs_rt_assets.py:114-116). The driver writes the sink and
    the quarantine, so they are local (or locally mounted) paths, as the
    catalog already is."""
    metrics = IngestMetrics()
    # the columns the batch gains in its one projection, built once: each
    # Column costs the driver a round trip to the JVM per node
    cols = {**geometry_columns(), "_q": out_of_range(), **time_partition_columns()}
    if geoparquet:
        cols["_wkb"] = wkb_point("longitude", "latitude")

    def process(batch: DataFrame, batch_id: int) -> None:
        call = uuid.uuid4().hex
        name = f"part-{int(batch_id):05d}-{call}.parquet"
        staging = os.path.join(catalog.path, f"_staging-{call}")
        moves: list[tuple[str, str]] = []  # (temp name, final name)

        def temp_for(final: str) -> str:
            head, tail = os.path.split(final)
            os.makedirs(head, exist_ok=True)
            moves.append((os.path.join(head, f".{tail}.tmp"), final))
            return moves[-1][0]

        rows, n_bad, quarantine = [], 0, None
        try:
            write_partitioned(flatten_feed(batch).withColumns(cols), staging)
            pattern = os.path.join(staging, *(f"{c}=*" for c in PARTITION_COLS))
            for hour_dir in sorted(glob.glob(pattern)):
                t = pq.read_table(hour_dir, coerce_int96_timestamp_unit="us")
                keep = [c for c in t.column_names if c not in ("_q", "_wkb")]
                bad = t.filter(t["_q"])
                n_bad += bad.num_rows
                if bad.num_rows and quarantine_root:
                    bad = _project(bad, {c: c for c in keep})
                    if quarantine is None:
                        path = temp_for(os.path.join(quarantine_root, name))
                        quarantine = pq.ParquetWriter(path, bad.schema)
                    quarantine.write_table(bad)
                good = t.filter(pc.invert(t["_q"]))
                if not good.num_rows:
                    continue
                wkb = "_wkb" if geoparquet else "geometry"
                good = _project(good, {c: wkb if c == "geometry" else c for c in keep})
                if geoparquet:
                    good = geo_footer(good)
                rel = os.path.relpath(hour_dir, staging)
                pq.write_table(good, temp_for(os.path.join(out_root, rel, name)))
                rows.append({**table_catalog_row(good), "file_path": f"{out_root}/{rel}"})
            if quarantine is not None:
                quarantine.close()
            for tmp, final in moves:
                os.replace(tmp, final)
            catalog.commit_rows(batch_id, rows)
        except BaseException:
            if quarantine is not None:
                quarantine.close()
            for path in (p for m in moves for p in m):
                if os.path.exists(path):
                    os.remove(path)
            raise
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        n = sum(r["record_count"] for r in rows)
        metrics.batches += 1
        metrics.quarantined += n_bad
        if n == 0:
            metrics.empty_batches += 1
            return
        metrics.records += n
        metrics.checks.append(catalog.check_not_empty())  # A21 asset check

    return process, metrics


def start_ingest(
    spark: SparkSession,
    spool_dir: str,
    out_root: str,
    catalog_path: str,
    checkpoint_dir: str,
    quarantine_root: str | None = None,
    processing_time: str | None = "60 seconds",
    available_now: bool = False,
    geoparquet: bool = False,
):
    """Start the ingestion stream. `available_now=True` drains the spool
    and stops (catch-up/backfill mode); otherwise a 60 s trigger matches
    the reference's cron cadence (gtfs_rt_assets.py:255)."""
    catalog = FileCatalog(spark, catalog_path)
    process, metrics = make_batch_processor(
        out_root, catalog, quarantine_root, geoparquet=geoparquet
    )
    raw = spark.readStream.schema(RAW_FEED_SCHEMA).json(spool_dir)
    writer = raw.writeStream.option("checkpointLocation", checkpoint_dir).foreachBatch(
        process
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start(), metrics, catalog
