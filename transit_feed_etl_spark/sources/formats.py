"""CSV / JSON source-sink surface (SURVEY.md §2 Part B "scans"
row — absent in the reference, built-in in Spark).

Design rules for 100 TB ingestion:
- ALWAYS pass an explicit StructType. Schema inference reads the data
  twice (a full extra pass at scale) and infers nullable/typed columns
  non-deterministically across samples.
- CSV/JSON are ingestion formats, not storage: land them once, convert
  to parquet with partitioning. `to_parquet_partitioned` is that step.
- mode="PERMISSIVE" + columnNameOfCorruptRecord quarantines malformed
  rows into a side column instead of failing the batch (the reference's
  per-item error isolation, gtfs_rt_assets.py:85-94, applied to files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    quarantine: bool = True,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """CSV scan with explicit schema and malformed-row quarantine: bad
    rows land in `_corrupt` (NULL elsewhere) instead of aborting."""
    full = schema
    if quarantine:
        full = T.StructType(
            list(schema.fields) + [T.StructField("_corrupt", T.StringType(), True)]
        )
    reader = (
        spark.read.schema(full)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType, quarantine: bool = True
) -> DataFrame:
    """JSON-lines scan; same explicit-schema + quarantine contract."""
    full = schema
    if quarantine:
        full = T.StructType(
            list(schema.fields) + [T.StructField("_corrupt", T.StringType(), True)]
        )
    reader = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
    )
    return reader.json(path)


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_rows, quarantined_rows) from a quarantine-enabled scan.

    Spark refuses plans that reference ONLY the corrupt-record column of
    a raw CSV/JSON scan (the parser would need a second pass); the
    documented contract is to materialize first, so the split caches the
    scanned batch — which ingestion would do anyway before fan-out."""
    df = df.cache()
    good = df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    bad = df.filter(F.col("_corrupt").isNotNull())
    return good, bad


def to_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
) -> None:
    """Land an ingestion format as partitioned parquet. Repartition by
    the partition columns first so each Hive partition gets
    `files_per_partition` writer tasks instead of one small file per
    upstream task (the small-files problem, SURVEY §4)."""
    (
        df.repartition(max(files_per_partition, 1) * 4, *partition_cols)
        .write.mode("append")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (header on, explicit null token so round-trips preserve
    NULL vs empty-string). One file per partition — coalesce upstream if
    the consumer needs a bounded file count."""
    df.write.mode(mode).option("header", "true").option("nullValue", "\\N").csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink. Nulls are dropped per JSON-lines convention;
    schema travels with the reader contract, not the file."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — Spark-native columnar alternative to parquet, with the
    same predicate-pushdown/column-pruning behavior at read time."""
    df.write.mode(mode).orc(path)


LOG_LINE_RE = (
    r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})\s+(\w+)\s+\[([^\]]+)\]\s+(.*)$"
)


def read_text_logs(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Unstructured-text source: `spark.read.text` + regexp_extract into
    (ts, level, component, message) — the classic log-parsing scan.
    Returns (parsed, quarantine): lines that don't match the grammar go
    to the quarantine frame instead of producing silent NULL rows (same
    per-item isolation contract as the CSV/JSON readers). Parsing is a
    pure projection over the scan — no shuffle, trivially 100 TB-able."""
    raw = spark.read.text(path)
    ext = raw.select(
        "value",
        F.regexp_extract("value", LOG_LINE_RE, 1).alias("ts_raw"),
        F.regexp_extract("value", LOG_LINE_RE, 2).alias("level"),
        F.regexp_extract("value", LOG_LINE_RE, 3).alias("component"),
        F.regexp_extract("value", LOG_LINE_RE, 4).alias("message"),
    )
    ok = ext.filter(F.col("ts_raw") != "").select(
        F.to_timestamp("ts_raw", "yyyy-MM-dd'T'HH:mm:ss").alias("ts"),
        "level",
        "component",
        "message",
    )
    bad = ext.filter(F.col("ts_raw") == "").select("value")
    return ok, bad
