"""Incremental semantic dedup: SemDeDup over an embedding stream
against PERSISTENT centroid + arrival stores — the streaming face of
`queries/similarity.py::incremental_semdedup_rounds`. Each batch runs
the one SemDeDup pair scan and verdict aggregation
(`queries/similarity.py::semdedup_pair_scan` / `semdedup_verdicts`)
that the batch, sampled and incremental queries run, so their green
CORRECTNESS rows attest the plan the foreachBatch body runs — the same
construction as streaming/corpus_dedup.py and `corpus_dedup_rounds`.

This is the daily-increment operational mode: a crawl delivers embedding
micro-batches forever; each arrival must be checked against the WHOLE
history of its cell, not a watermark (yesterday's semantic duplicate is
still a duplicate).

Scale design:
- The CENTROID store is trained once (first batch) and then FROZEN:
  retraining per increment would silently re-partition every historical
  cell and invalidate the stored assignments. Assignment routes through
  the broadcast-tree `hier_assign` walk — the stream never shuffles
  during assignment.
- The ARRIVAL store holds (cell, vec_id, v, nrm) for ALL arrivals, not
  just survivors: the SemDeDup prune decision is precedence-based, not
  survivor-transitive (a new vector is pruned if ANY earlier arrival in
  its cell is cosine-similar, pruned or not). At 100 TB the store is a
  cell-bucketed table, so each batch's new-vs-history join co-partitions
  against it WITHOUT reshuffling history; per-batch cost is
  O(|batch| x cell-occupancy), independent of history length.
- Verdicts are materialized (localCheckpoint) BEFORE the batch is
  appended to the store — a lazy verdict plan re-evaluated after the
  append would pair arrivals against themselves via the store and
  prune everything with cos 1.0.
- foreachBatch is AT-LEAST-ONCE: if a batch fails after
  the store write and is retried, a plain append would leave the
  retried batch's own rows in the store — the store join has no
  ida != idb guard, so every vector would pair with its own copy at
  cos 1.0 and be pruned with itself as keeper (and the store would
  double-append). The store write is therefore idempotent per batch:
  each batch OVERWRITES its own `batch_id=N` subpath, and the store
  read for verdict computation excludes the current batch's subpath —
  a retry recomputes identical verdicts against exactly the
  strictly-earlier history. The verdict sink is idempotent the same
  way (per-batch overwrite in `start_semdedup_stream`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from transit_feed_etl_spark.operators import vectors as V

# the prune threshold and training rounds come from the batch face, so
# they cannot drift from it
from transit_feed_etl_spark.queries.similarity import (
    _KM_ITERS,
    _SEMDEDUP_TAU as _TAU,
    _cand_array,
    _explode_cands,
    hier_assign,
    kmeans_train,
    semdedup_pair_scan,
    semdedup_verdicts,
)


def semdedup_round(
    batch: DataFrame, store: DataFrame | None, tau: float = _TAU
) -> DataFrame:
    """Pure-plan core of one semantic-dedup round, the foreachBatch
    body's: the single-join pair scan + the verdict aggregation.
    Per-round verdicts union to the global recompute — the merge law
    `incremental_semdedup_rounds`' oracle proves."""
    return semdedup_verdicts(semdedup_pair_scan(batch, store, tau))


def _assigned(v: DataFrame, cands: DataFrame, n_cells: int) -> DataFrame:
    """(vec_id, cell, v, nrm) via the frozen quantizer's broadcast-tree
    walk, with the store-stable column types."""
    return (
        hier_assign(v, cands, n_cells=n_cells)
        .withColumn("nrm", V.l2_norm(F.col("v")))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cell").cast("long").alias("cell"),
            "v",
            "nrm",
        )
    )


def ensure_centroids(
    spark: SparkSession,
    cent_path: str,
    first_batch: DataFrame,
    n_cells: int,
) -> DataFrame:
    """The frozen one-row quantizer (`kmeans_train`'s layout): read from
    the persistent (cid, cv) centroid store, or trained ONCE on the
    first batch (seeds = its n_cells lowest vec_ids, the deterministic
    rule `incremental_semdedup_rounds`' oracle unrolls) and written
    there. Frozen centroids are the production posture — see module
    doc."""
    try:
        return _cand_array(spark.read.parquet(cent_path))
    except AnalysisException:
        seeds = (
            first_batch.orderBy("vec_id")
            .limit(n_cells)
            .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        )
        cands = kmeans_train(
            first_batch, iters=_KM_ITERS, n_cells=n_cells, seeds=seeds
        )
        _explode_cands(cands).write.mode("overwrite").parquet(cent_path)
        return cands


def semdedup_batch_against_store(
    batch: DataFrame,
    store_path: str,
    cent_path: str,
    n_cells: int = 16,
    tau: float = _TAU,
    batch_id: int = 0,
) -> DataFrame:
    """One foreachBatch body: assign the batch to cells with the frozen
    centroids (training them if this is the first batch ever), compute
    prune verdicts against the arrival store + in-batch, write the
    batch's arrivals to its OWN `batch_id={batch_id}` store subpath
    (overwrite — idempotent under foreachBatch's at-least-once retry,
    see module doc), and return the verdicts (already materialized).
    The store read drops rows carrying this batch_id so a retry never
    pairs the batch against its own earlier, failed write."""
    spark = batch.sparkSession
    cands = ensure_centroids(spark, cent_path, batch, n_cells)
    m = _assigned(batch, cands, n_cells)
    try:
        store = spark.read.parquet(store_path)
        # partition discovery surfaces batch_id as a column; exclude the
        # current batch's (possibly half-written, now-stale) subpath and
        # drop the column so the round sees the stable store schema
        if "batch_id" in store.columns:
            store = store.filter(
                F.col("batch_id") != F.lit(int(batch_id))
            ).drop("batch_id")
    except AnalysisException:
        store = None
    verdicts = semdedup_round(m, store, tau).localCheckpoint()
    # snapshot BEFORE the store write (see module doc)
    m.write.mode("overwrite").parquet(f"{store_path}/batch_id={int(batch_id)}")
    return verdicts


def start_semdedup_stream(
    spark: SparkSession,
    spool_dir: str,
    out_dir: str,
    store_path: str,
    cent_path: str,
    checkpoint_dir: str,
    n_cells: int = 16,
    tau: float = _TAU,
):
    """File-source embedding stream -> incremental semantic dedup ->
    parquet verdict sink. availableNow trigger: drains whatever is
    spooled, then stops — run per ingestion cycle, or swap in a
    processingTime trigger for continuous operation."""
    stream = spark.readStream.schema("vec_id long, embedding array<double>").json(
        spool_dir
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        v = batch.select("vec_id", V.as_double("embedding").alias("v"))
        verdicts = semdedup_batch_against_store(
            v, store_path, cent_path, n_cells=n_cells, tau=tau, batch_id=batch_id
        )
        # per-batch overwrite: a retried batch replaces its own output
        # instead of double-appending (module doc, at-least-once note)
        verdicts.write.mode("overwrite").parquet(f"{out_dir}/batch_id={int(batch_id)}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
