"""Incremental corpus dedup: exact content dedup of a document stream
against a PERSISTENT digest store — the streaming face of the dedup
family (queries/dedup.py holds the batch faces).

This is the shape a continuously-ingesting pretraining pipeline runs: a
crawl delivers micro-batches forever, and a document must survive at
most once across the WHOLE history, not merely within a watermark
(`dropDuplicatesWithinWatermark` bounds state by time; a training
corpus cannot — yesterday's duplicate is still a duplicate).

Scale design:
- The store holds 16-byte md5 digests, never bodies; the anti-join
  shuffles digests only. At 100 TB the store is itself a big table —
  partition it by digest prefix (`pmod(conv(substring(digest,1,4),...)`)
  so both sides of the anti-join co-partition, and compact it like any
  append-only table (pipeline/gtfs.py:compact_partitions).
- In-batch dedup happens BEFORE the store join (first-seen = lowest id,
  deterministic), so the store append is idempotent per digest within a
  batch.
- The fresh set is materialized (localCheckpoint) BEFORE its digests are
  appended — the store append must not invalidate the lazy plan that
  reads the store (a lazy `fresh` re-evaluated after the append would
  anti-join against its own digests and drop everything).
- foreachBatch is AT-LEAST-ONCE: a batch retried after
  its store write would anti-join against its OWN digests and silently
  emit zero fresh rows. The store write is therefore idempotent per
  batch — each batch OVERWRITES its own `batch_id=N` subpath, and the
  store read excludes the current batch's subpath, so a retry
  recomputes identical fresh rows against exactly the prior history.
  The fresh-row sink is idempotent the same way (per-batch overwrite
  in `start_corpus_dedup_stream`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from transit_feed_etl_spark.queries.dedup import dedup_round


def dedup_batch_against_store(
    batch: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int = 0,
) -> DataFrame:
    """One foreachBatch body: returns the batch rows whose content was
    never seen before (in this batch or any prior one) and writes their
    digests to the batch's OWN `batch_id={batch_id}` store subpath
    (overwrite — idempotent under foreachBatch's at-least-once retry;
    the store read drops rows carrying this batch_id so a retry never
    anti-joins the batch against its own earlier, failed write). The
    returned frame is already materialized."""
    spark = batch.sparkSession
    try:
        seen = spark.read.parquet(store_path)
        if "batch_id" in seen.columns:
            seen = seen.filter(F.col("batch_id") != F.lit(int(batch_id)))
        seen = seen.select("digest")
    except AnalysisException:
        seen = spark.createDataFrame([], "digest string")
    fresh = dedup_round(batch, seen, id_col, text_col).localCheckpoint()
    # snapshot BEFORE the store write (see module doc)
    fresh.select(F.col("_digest").alias("digest")).write.mode("overwrite").parquet(
        f"{store_path}/batch_id={int(batch_id)}"
    )
    return fresh.drop("_digest")


def start_corpus_dedup_stream(
    spark: SparkSession,
    spool_dir: str,
    out_dir: str,
    store_path: str,
    checkpoint_dir: str,
):
    """File-source document stream -> historical dedup -> parquet sink.
    availableNow trigger: drains whatever is spooled, then stops — run
    it per ingestion cycle (the A23 cadence) or swap in a processingTime
    trigger for continuous operation."""
    stream = spark.readStream.schema("doc_id long, text string").json(spool_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        fresh = dedup_batch_against_store(batch, store_path, batch_id=batch_id)
        # per-batch overwrite: a retried batch replaces its own output
        # instead of double-appending (module doc, at-least-once note)
        fresh.write.mode("overwrite").parquet(f"{out_dir}/batch_id={int(batch_id)}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
