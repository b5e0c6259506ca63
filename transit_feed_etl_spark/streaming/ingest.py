"""Structured-Streaming ingestion — the reference's minutely cron DAG
(A23, reference gtfs_rt_assets.py:248-257) as ONE streaming query:

  spool dir (fetched feed files) -> flatten -> validate/quarantine ->
  time-partitioned GeoParquet sink + catalog commit + quality check, all
  inside foreachBatch.

The sink has one format, GeoParquet, as the reference writes
(gtfs_rt_assets.py:122-141): a WKB `geometry` column and a `geo` footer
on every sink file. The quarantine holds the same columns. The
`geoparquet` keyword of `make_batch_processor` and `start_ingest`
remains only so existing callers that pass ``geoparquet=True`` keep
working; any other value raises `ValueError`.

Each tick is one Spark job, which collects the flattened batch to the
driver as Arrow, and one driver pass that writes the hour files, the
quarantine and the catalog rows (`make_batch_processor`).

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

import json
import os
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_feed_etl_spark.pipeline.catalog import FileCatalog, table_catalog_row
from transit_feed_etl_spark.pipeline.geoparquet import geo_footer, wkb_point
from transit_feed_etl_spark.pipeline.gtfs import (
    CRS,
    PARTITION_COLS,
    RAW_FEED_SCHEMA,
    flatten_feed,
    out_of_range,
    time_partition_columns,
    write_partitioned,  # noqa: F401  kept as a module attribute: perfbench's tracer wraps it
)

# the keys under which Spark keeps its schema and its version in a
# parquet footer; Spark reads each column with the type recorded there
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"
_SPARK_VERSION = b"org.apache.spark.version"

# spool bytes one micro-batch reads at most, so the driver, which holds
# the whole flattened batch, stays bounded when a catch-up finds a long
# backlog (a live tick's spool files are about 1.5 MB)
MAX_BYTES_PER_TRIGGER = 64 << 20


@dataclass
class IngestMetrics:
    """A22 run-metadata parity: per-batch counters the reference attaches
    to Dagster run metadata (gtfs_rt_assets.py:62-66,96-101,192-198)."""

    batches: int = 0
    records: int = 0
    quarantined: int = 0
    empty_batches: int = 0
    checks: list = field(default_factory=list)


def _hours(t: pa.Table) -> list[tuple[str, pa.Table]]:
    """`t` split into its hour partitions, in hour order: (the partition's
    relative path, its rows without the partition columns). A NULL value
    gets Hive's default partition name, as Spark's partitioned write
    gives it."""
    keys = t.select(PARTITION_COLS).group_by(list(PARTITION_COLS)).aggregate([])
    out = []
    for key in sorted(keys.to_pylist(), key=lambda k: [(v is None, v) for v in k.values()]):
        mask = None
        for c, v in key.items():
            m = pc.is_null(t[c]) if v is None else pc.equal(t[c], v)
            mask = m if mask is None else pc.and_(mask, m)
        rel = os.path.join(*(
            f"{c}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}" for c, v in key.items()
        ))
        out.append((rel, t.filter(mask).drop_columns(list(PARTITION_COLS))))
    return out


def _check_sink_format(geoparquet: bool) -> None:
    if geoparquet is not True:
        raise ValueError("the ingest sink writes GeoParquet only: geoparquet must be True")


def make_batch_processor(
    out_root: str,
    catalog: FileCatalog,
    quarantine_root: str | None = None,
    geoparquet: bool = True,
):
    """foreachBatch sink implementing A8/A10-A12/A14-A16/A21.

    Spark flattens the batch in one projection, adding the WKB point
    `geometry`, `crs`, the out-of-range flag `_q` and the hour partition
    columns, and hands it to the driver as one Arrow table: the batch's
    only Spark job, with no exchange and nothing written to disk. The
    driver then writes:
      - each hour's good rows to `<hour>/part-<batch>-<call>.parquet` in
        the sink, in hour order, with the `geo` footer (per-file bbox,
        EPSG:4326): A12 GeoParquet parity, reference
        gtfs_rt_assets.py:122-141;
      - the batch's out-of-range rows, with the same columns, to one
        quarantine file (A8);
      - one catalog row per hour partition with good rows: count, bbox
        and latest ts over those rows, as `catalog_aggs` computes them
        (the reference's one-file-per-run template adapted to a
        partitioned layout: per-partition rows keep the bbox zone map
        correct when a catch-up batch spans hours).
    The files hold what Spark's partitioned write would: no partition
    columns, `ts` as naive UTC microseconds and Spark's schema in the
    footer, so Spark reads `ts` back as a TimestampType in any session
    time zone. Every output file is written under a hidden temp name and
    renamed into place once all are written; the catalog rows are
    committed next, and the quality check (A21) runs last. If anything
    before the commit raises, the batch's renamed and temp files are
    removed, so a failed batch leaves no sink file, quarantine file or
    catalog row. A batch with out-of-range rows only still keeps its
    quarantine evidence; a batch with no good row commits nothing (A10
    empty-batch guard, gtfs_rt_assets.py:114-116). The driver holds the
    whole batch (`start_ingest` caps its size) and writes the sink and
    the quarantine, so they are local (or locally mounted) paths, as the
    catalog already is. `geoparquet` accepts only True (module
    docstring)."""
    _check_sink_format(geoparquet)
    metrics = IngestMetrics()
    # the columns the batch gains in its one projection, built once: each
    # Column costs the driver a round trip to the JVM per node
    cols = {
        "geometry": wkb_point("longitude", "latitude"),
        "crs": F.lit(CRS),
        "_q": out_of_range(),
        **time_partition_columns(),
    }
    version = catalog.spark.version.encode()

    def process(batch: DataFrame, batch_id: int) -> None:
        name = f"part-{int(batch_id):05d}-{uuid.uuid4().hex}.parquet"
        df = flatten_feed(batch).withColumns(cols)
        t = df.toArrow()
        # Spark's TimestampType arrives tz-aware; Spark's own parquet files
        # hold the same UTC instants as naive microseconds
        t = t.set_column(t.schema.get_field_index("ts"), "ts", t["ts"].cast(pa.timestamp("us")))
        fields = [f for f in df.schema if f.name not in (*PARTITION_COLS, "_q")]
        keep = [f.name for f in fields]
        spark_meta = {
            _SPARK_VERSION: version,
            _SPARK_SCHEMA: json.dumps(
                {"type": "struct", "fields": [f.jsonValue() for f in fields]}
            ).encode(),
        }
        moves: list[tuple[str, str]] = []  # (temp name, final name)

        def write(t: pa.Table, final: str) -> None:
            """Write the kept columns of `t` under a temp name for `final`,
            with Spark's schema for them."""
            # built from the columns, so every field is optional, as in
            # the files Spark writes
            out = pa.table([t[c] for c in keep], names=keep)
            head, tail = os.path.split(final)
            os.makedirs(head, exist_ok=True)
            moves.append((os.path.join(head, f".{tail}.tmp"), final))
            meta = {**(t.schema.metadata or {}), **spark_meta}
            pq.write_table(out.replace_schema_metadata(meta), moves[-1][0])

        bad = t.filter(t["_q"])
        rows = []
        try:
            for rel, good in _hours(t.filter(pc.invert(t["_q"]))):
                write(geo_footer(good), os.path.join(out_root, rel, name))
                rows.append({**table_catalog_row(good), "file_path": f"{out_root}/{rel}"})
            if bad.num_rows and quarantine_root:
                write(bad, os.path.join(quarantine_root, name))
            for tmp, final in moves:
                os.replace(tmp, final)
            catalog.commit_rows(batch_id, rows)
        except BaseException:
            for path in (p for m in moves for p in m):
                if os.path.exists(path):
                    os.remove(path)
            raise
        n = sum(r["record_count"] for r in rows)
        metrics.batches += 1
        metrics.quarantined += bad.num_rows
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
    geoparquet: bool = True,
):
    """Start the ingestion stream into the GeoParquet sink
    (`make_batch_processor`). `available_now=True` drains the spool
    and stops (catch-up/backfill mode); otherwise a 60 s trigger matches
    the reference's cron cadence (gtfs_rt_assets.py:255). A micro-batch
    reads at most `MAX_BYTES_PER_TRIGGER` bytes of spool (at least one
    file), so a backlog drains in several batches. `geoparquet` accepts
    only True and is checked before any Spark work (module docstring)."""
    _check_sink_format(geoparquet)
    catalog = FileCatalog(spark, catalog_path)
    process, metrics = make_batch_processor(out_root, catalog, quarantine_root)
    raw = (
        spark.readStream.schema(RAW_FEED_SCHEMA)
        .option("maxBytesPerTrigger", MAX_BYTES_PER_TRIGGER)
        .json(spool_dir)
    )
    writer = raw.writeStream.option("checkpointLocation", checkpoint_dir).foreachBatch(
        process
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start(), metrics, catalog
