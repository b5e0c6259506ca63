"""Structured-Streaming ingestion — the reference's minutely cron DAG
(A23, reference gtfs_rt_assets.py:248-257) as ONE streaming query:

  spool dir (fetched feed files) -> flatten -> validate/quarantine ->
  partitioned parquet sink + catalog commit + quality check, all inside
  foreachBatch.

Delivery is at-least-once: the checkpoint keeps a restarted query from
reading a spool file twice, but Spark may replay a micro-batch whose
processing did not finish, and a replay appends its rows again. Making
the tick idempotent (stage the batch's files, commit keyed by
`batch_id`, skip a batch already committed) is an open item.

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

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_feed_etl_spark.pipeline.catalog import (
    FileCatalog,
    catalog_aggs,
    partition_rows,
)
from transit_feed_etl_spark.pipeline.gtfs import (
    RAW_FEED_SCHEMA,
    flatten_feed,
    out_of_range,
    validate_positions,
    with_geometry,
    with_time_partitions,
    write_partitioned,
)


@dataclass
class IngestMetrics:
    """A22 run-metadata parity: per-batch counters the reference attaches
    to Dagster run metadata (gtfs_rt_assets.py:62-66,96-101,192-198)."""

    batches: int = 0
    records: int = 0
    quarantined: int = 0
    empty_batches: int = 0
    checks: list = field(default_factory=list)


def make_batch_processor(
    out_root: str,
    catalog: FileCatalog,
    quarantine_root: str | None = None,
    geoparquet: bool = False,
):
    """foreachBatch sink implementing A8/A10/A12/A14-A16/A21.

    Each batch is flattened once into a cache. One aggregate over it,
    grouped by hour partition, gives each hour's good and bad counts
    and, over the good rows, the hour's catalog row (count, bbox,
    latest ts). The quarantine write and the sink write read the cache;
    the catalog row is committed and the quality check runs on the
    driver, so the sink write is the batch's last Spark job. Quarantine
    comes before the empty-batch guard, so a batch with no valid
    vehicle still keeps its evidence.

    ``geoparquet=True`` adds a WKB `geometry` column before the write
    and stamps the GeoParquet `geo` footer (per-file bbox, EPSG:4326)
    after it, on the hour partitions the batch wrote — full A12
    GeoParquet parity in the live pipeline (reference
    gtfs_rt_assets.py:122-141). A replayed batch rewrites the same
    hours, so a file a crash left unstamped is stamped then."""
    metrics = IngestMetrics()

    def process(batch: DataFrame, batch_id: int) -> None:
        flat = with_geometry(flatten_feed(batch)).cache()
        try:
            good, bad = validate_positions(flat)
            is_bad = out_of_range()
            hours = (
                with_time_partitions(flat)
                .groupBy("year", "month", "day", "hour")
                .agg(F.count_if(is_bad).alias("bad"), *catalog_aggs(~is_bad))
                .collect()
            )
            n = sum(h["record_count"] for h in hours)
            n_bad = sum(h["bad"] for h in hours)
            metrics.batches += 1
            if n_bad:  # A8 quarantine instead of log-and-drop
                metrics.quarantined += n_bad
                if quarantine_root:
                    bad.write.mode("append").parquet(quarantine_root)
            if n == 0:  # A10 empty-batch guard (gtfs_rt_assets.py:114-116)
                metrics.empty_batches += 1
                return
            # One catalog row per hour partition the batch wrote (the
            # reference's one-file-per-run template adapted to a
            # partitioned layout; per-partition rows keep the bbox zone
            # map correct when a catch-up batch spans hours).
            rows = partition_rows(out_root, hours)
            good = with_time_partitions(good)
            if geoparquet:
                from transit_feed_etl_spark.pipeline.geoparquet import (
                    finalize_geo_metadata,
                    wkb_point,
                )

                # the WKB column REPLACES the struct geometry: GeoParquet
                # readers key on primary_column "geometry" being WKB
                write_partitioned(
                    good.withColumn(
                        "geometry",
                        wkb_point(F.col("longitude"), F.col("latitude")),
                    ),
                    out_root,
                )
                for r in rows:
                    finalize_geo_metadata(r["file_path"])
            else:
                write_partitioned(good, out_root)
            catalog.commit_rows(batch_id, rows)
            metrics.records += n
            metrics.checks.append(catalog.check_not_empty())  # A21 asset check
        finally:
            flat.unpersist()

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
