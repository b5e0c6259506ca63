"""SparkSession factory tuned for this engine.

Local test posture is ``local[N]`` (one JVM), but every setting is chosen to
also be the right default on a real multi-executor cluster at 100 TB:

- AQE on (runtime coalescing, skew-join splitting) — at scale the static
  shuffle-partition count is always wrong for somebody; AQE fixes it per-stage.
- shuffle partitions sized to cores locally; on a cluster this would be
  2-3x total executor cores (AQE coalesces the excess).
- UTC session timezone — the reference mixed UTC writes with localtime
  comparisons (reference gtfs_rt_assets.py:181 vs :213); we standardize UTC.
- Arrow enabled — every Pandas-UDF / toPandas boundary is Arrow-batched.
- driver heap capped at half the host's memory (``default_driver_memory``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MEM_MB = 48 * 1024


def _host_memory_bytes() -> int | None:
    """Physical memory, lowered to the cgroup v2 limit when one is set."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return None
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
    except OSError:
        limit = "max"
    return min(total, int(limit)) if limit.isdigit() else total


def default_driver_memory() -> str:
    """48g, or half the host's memory if that is less. In local mode the
    driver JVM is the whole engine; a heap ceiling above physical memory
    lets G1 grow the heap until the kernel OOM-kills the JVM (a 48g
    ceiling on a 15 GB host died mid-suite at about 14 GB RSS). The other
    half covers off-heap JVM memory and the Python workers."""
    host = _host_memory_bytes()
    if host is None:
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{max(1024, min(MAX_DRIVER_MEM_MB, host // 2 // 2**20))}m"


def get_spark(
    app_name: str = "transit_feed_etl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # canChangeCachedPlanOutputPartitioning stays at its DEFAULT
        # (false). Tried in r12 (it would let AQE shrink the 32-partition
        # tiny caches the iterative operators re-read every round;
        # isolated CC measured 3.2 s -> 1.8 s at sf0.1) and REVERTED on
        # the full-bench A/B: AQE sizes cached output by OBSERVED BYTES
        # and is blind to downstream fan-out, so every cache that is
        # byte-tiny but expensive to expand collapsed to 1 partition and
        # serialized its consumer (pca scatter explode +2.9 s,
        # dedup_clusters pair scan +2.6 s, pagerank iterations +1.0 s,
        # bpe +0.9 s — bench run 3 vs baseline, OPTIMIZATION_r12.md).
        # The same hazard class as the prefixfilter.py candidate
        # repartition comment. Iterative-operator partition sizing is
        # handled surgically instead (operators/components.py derives
        # its round width from the measured edge count).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate turns explode(expr) into
        # Filter(size(expr)>0 AND isnotnull(expr)) + Generate(expr); predicate
        # pushdown then substitutes the FULL generator expression into the
        # filter and sinks it below exchanges — for expensive generator
        # expressions (tokenize->shingle arrays) that re-evaluates the whole
        # pipeline 3x, serialized into the pre-shuffle stage (measured 11s ->
        # 0.4s on the shingle-explode path). The rule only pays off when the
        # generator input is a cheap attribute; our explodes never are.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The generated-class cache defaults to 100 entries; a suite run
        # compiles well over that (wide multi-agg and 64-permutation hash
        # plans generate several classes each), so hot plans get evicted
        # and re-pay Janino + HotSpot compilation on every repetition
        # (measured: 8-20s re-compile vs ~2s steady-state on the LSH
        # pipeline). Static conf — must be set before the first session.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
