"""Distributed classifier TRAINING as a DataFrame computation: a batch
perceptron over the quality-signal features (the fastText-style
quality-classifier step of a curation pipeline, trained ON the cluster
instead of on a sampled-down driver) — operators/linear.py holds the
loop and the determinism rationale.

Honest scope note: the driver's synthetic corpus carries no real
language signal (the `lang` column is decorative metadata over
English-ish word salad), so no feature set can separate this label —
the REGISTERED artifact is therefore the exact distributed training
TRAJECTORY (per-round misclassification counts + weights), which the
unrolled-SQL oracle replays bit-for-bit. Convergence behavior on
actually-separable data is pinned separately by
tests/test_properties.py::test_batch_perceptron_converges_on_separable_data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_feed_etl_spark.caching import persist_tracked
from transit_feed_etl_spark.io import table_par
from transit_feed_etl_spark.operators import textfns as TX
from transit_feed_etl_spark.operators.linear import batch_perceptron
from transit_feed_etl_spark.registry import register

_ROUNDS = 3
_LR = 0.5
_NF = 5  # bias + 4 quality signals

_FEATS_SQL = """
      SELECT CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(-1.0 AS DOUBLE) END AS y,
             CAST(1.0 AS DOUBLE) AS x0,
             LEAST(CAST(LEN(toks) AS DOUBLE) / 100.0, 1.0) AS x1,
             CASE WHEN LENGTH(text) > 0
                  THEN CAST(LENGTH(REGEXP_REPLACE(text, '[\\w \\t\\n\\x0B\\f\\r]', '', 'g'))
                       AS DOUBLE) / LENGTH(text) ELSE 0 END AS x2,
             CASE WHEN LEN(toks) > 0
                  THEN CAST(LEN(list_filter(toks,
                         t -> list_contains(['the','a','and','of','to','in','is'], t)))
                       AS DOUBLE) / LEN(toks) ELSE 0 END AS x3,
             CASE WHEN LEN(toks) > 0
                  THEN CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks)
                  ELSE 0 END AS x4
      FROM (SELECT doc_id, text, lang,
                   list_filter(string_split_regex(lower(text), '\\W+'),
                               t -> t <> '') AS toks
            FROM documents)
"""


def _perceptron_oracle() -> str:
    """Unrolled batch-perceptron training: margins -> misclassified set
    -> decimal-exact gradient -> weight update with the lr0/round
    schedule, one CTE block per round. Learning rates fold through
    repr() (the PageRank teleport trick) so both engines update with
    bit-identical doubles."""
    xs = [f"x{j}" for j in range(_NF)]
    parts = [f"feats AS ({_FEATS_SQL})",
             "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM feats)",
             "w0 AS (SELECT "
             + ", ".join(f"CAST(0.0 AS DOUBLE) AS w{j}" for j in range(_NF))
             + ")"]
    for r in range(_ROUNDS):
        lr_sql = f"CAST('{_LR / (r + 1)!r}' AS DOUBLE)"
        margin = " + ".join(f"w.w{j} * f.{x}" for j, x in enumerate(xs))
        grads = ", ".join(
            f"CAST(SUM(CAST(CASE WHEN f.y * ({margin}) <= 0 "
            f"THEN f.y * f.{x} ELSE 0 END AS DECIMAL(25,15))) AS DOUBLE) AS g{j}"
            for j, x in enumerate(xs)
        )
        parts.append(
            f"""g{r} AS (
      SELECT COUNT(*) FILTER (WHERE f.y * ({margin}) <= 0) AS mis, {grads}
      FROM feats f CROSS JOIN w{r} w
    )"""
        )
        ws = ", ".join(
            f"w.w{j} + ({lr_sql} * (g.g{j} / n.n)) AS w{j}" for j in range(_NF)
        )
        parts.append(
            f"w{r + 1} AS (SELECT {ws} FROM w{r} w CROSS JOIN g{r} g "
            f"CROSS JOIN n)"
        )
    rows = " UNION ALL ".join(
        f"""SELECT {r + 1} AS round,
               (SELECT CAST(mis AS BIGINT) FROM g{r}) AS n_misclassified,
               {", ".join(f"(SELECT CAST(FLOOR(w{j} * 1e9) AS BIGINT) FROM w{r + 1}) AS w{j}_e9" for j in range(_NF))}"""
        for r in range(_ROUNDS)
    )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT * FROM ({rows}) ORDER BY round"
    )


@register("perceptron_quality_classifier", oracle=_perceptron_oracle())
def perceptron_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a batch perceptron (is this document English?) on the
    quality-signal features, {_ROUNDS} rounds with the lr0/round
    schedule, reporting per-round misclassification counts and
    FLOOR-scaled weights — the exact training trajectory is the
    differential-checked artifact (see module docstring for why the
    trajectory, not held-out accuracy, is the contract here)."""
    d = table_par(spark, sf_dir, "documents").withColumn(
        "toks", TX.tokens("text")
    )
    nt = F.size("toks").cast("double")
    feats = persist_tracked(
        d.select(
            F.when(F.col("lang") == "en", F.lit(1.0))
            .otherwise(F.lit(-1.0))
            .alias("y"),
            F.lit(1.0).alias("x0"),
            F.least(nt / 100.0, F.lit(1.0)).alias("x1"),
            TX.punct_ratio("text").alias("x2"),
            TX.stopword_ratio(F.col("toks")).alias("x3"),
            F.when(
                F.size("toks") > 0,
                F.size(F.array_distinct("toks")).cast("double") / F.size("toks"),
            )
            .otherwise(F.lit(0.0))
            .alias("x4"),
        )
    )
    return batch_perceptron(feats, n_features=_NF, rounds=_ROUNDS, lr0=_LR)
