"""Query registry: name -> (PySpark builder, DuckDB oracle SQL).

Every operator from SURVEY.md §2 that we claim as implemented registers
here; ``__spark_entry__.py`` exposes the registry to the driver, which
runs builder-vs-oracle differential checks at sf=0.01.

Determinism contract (driver compares row count + schema + order-
insensitive value hash):

- Every computed column is aliased identically in the Spark builder and
  the oracle SQL.
- Floating-point SUMs go through DECIMAL casts on BOTH sides: decimal
  addition is exact and order-independent, so Spark's partial-agg-over-
  32-partitions result equals DuckDB's single-threaded result bit-for-bit.
  The final value is cast back to DOUBLE for a stable schema.
- AVG is expressed as exact-decimal SUM (cast to double) / COUNT so both
  engines perform the identical single double division.
- Any LIMIT/top-k carries a total tie-breaking ORDER BY.
- ROUND(double, k) is NOT portable at half-boundaries, and this is
  MEASURED, not inferred: probing the engines directly found
  42/5000 near-half-boundary doubles disagreeing at 6dp and 573/10000
  6dp-grid values disagreeing at 4dp — for the SAME input double
  (Spark rounds via BigDecimal on the binary expansion HALF_UP; DuckDB
  rounds x*10^k; an sf0.1 sweep's bigram avg_logprob -3.4078655 was
  this class). FLOOR(x * 10^k) / 10^k is the portable form — the
  multiply by an exactly-representable power of ten, the floor, and
  the divide are each correctly-rounded IEEE ops on the same input:
  0/5000 disagreements in the same probe. Policy:
  * NEW queries use FLOOR for every fractional-scale double rounding.
  * The cosine family (similarity.py, graph.py knn, streaming
    semdedup) uses FLOOR throughout.
  * Remaining ROUND columns in other families (textops ratios,
    aggregates moments/percentiles, windows pct_rank, jaccard 6dp —
    mostly quotients of exact integer sums, where a half-boundary
    needs the rational value to sit within ulps of .5*10^-k) are kept:
    11 rounds of 3-sf sweeps back them, and converting a family
    invalidates its attesting rows — flip families opportunistically
    with FORCE_RECHECK entries, or immediately when a sweep catches a
    boundary.
  * ROUND to INTEGER (scale 0) is portable and stays: neither engine
    multiplies, and HALF_UP vs half-away-from-zero agree on every
    double including exact .5 halves.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None -> driver runs rows-only check
    doc: str = ""
    # True -> engine-specific variant of a construction that is ALREADY
    # fully value-oracled under a portable hash elsewhere; excluded from
    # the driver's queries() so it never shows up as a permanent
    # rows-only row. Still registered (tests + docs cover it).
    driver_exempt: bool = False


QUERIES: dict[str, QueryDef] = {}


def register(
    name: str, oracle: str | None = None, driver_exempt: bool = False
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Release the PREVIOUS query's tracked caches before building
            # this one: builders are lazy, so a query that persists an
            # intermediate (MinHash signatures, token relations, ...)
            # cannot unpersist it itself — the caller materializes after
            # the builder returns.  Releasing at the next build bounds
            # outstanding executor cache to ONE query's worth in any
            # sequential loop, with no caller discipline required (a
            # caller that never calls release_caches() would otherwise
            # accumulate cache across 200 queries).
            # Unpersist never breaks correctness — a still-referenced
            # plan just recomputes — so interleaved builds only cost
            # recompute time.
            #
            # The release is THREAD-SCOPED:
            # release_caches() drops only caches the calling thread
            # registered (plus orphans of dead threads), so a
            # multi-threaded driver interleaving builds on separate
            # threads can no longer unpersist a sibling's in-use caches
            # mid-action. Remaining caveat: a SINGLE thread that builds
            # query B before materializing query A's result drops A's
            # persisted intermediates and silently pays recompute
            # (value-safe, perf cliff) — materialize before the next
            # same-thread build.
            from transit_feed_etl_spark.caching import release_caches

            release_caches()
            return fn(spark, sf_dir)

        build.__name__ = fn.__name__
        build.__doc__ = fn.__doc__
        QUERIES[name] = QueryDef(
            name, build, oracle, (fn.__doc__ or "").strip(), driver_exempt
        )
        return fn

    return deco
