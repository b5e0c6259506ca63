"""Remaining classic TPC-H query shapes, adapted to the driver testdata.

SURVEY.md §2 Part B already covers the join / aggregate / subquery
*categories*; this module completes the canonical ANALYTIC SHAPES a user
of a full query engine expects, each exercising a distinct optimizer
pattern the earlier queries do not:

  q4   EXISTS decorrelated to a shuffled semi join over two facts
  q6   pure scan-aggregate: every predicate pushed into the parquet scan
  q7   disjunctive cross-nation pair predicate over a 5-way join
  q8   market-share ratio (conditional agg / total agg) by year
  q10  fact-fact join + 4-key grouped top-k with full tie-breaking
  q12  conditional counts by line status (Q12 shipmode adapted)
  q13  left join with ON-clause filter -> per-key count -> histogram
       (double aggregation)
  q14  conditional-revenue ratio over a broadcast part join
  q15  top supplier via exact-decimal equality against a max scalar
  q19  OR-of-ANDs multi-attribute predicate (brand/size/quantity bands)
  q21  sole-late-supplier: EXISTS + NOT-EXISTS self-correlation folded
       into ONE aggregation over l_orderkey
  q22  anti join + global scalar threshold (avg of positive balances)

  q17  correlated per-part average as a single-exchange window over the
       broadcast-pruned part dim
  q2   correlated regional MIN decorrelated to agg + exact-equality join
  q9   6-way join profit rollup mixing revenue with derived supply cost
  q11  grouped HAVING vs a broadcast global scalar over the same relation
  q16  NOT IN anti join + per-group COUNT DISTINCT
  q20  nested IN chains with a decorrelated per-(part,supp) half-sum

Schema adaptations (testdata lacks partsupp, l_shipmode, l_commitdate /
l_receiptdate, c_phone, p_container): Q4/Q21 define "late" as l_shipdate
more than 60 days after o_orderdate; Q12 buckets by o_orderpriority
urgency instead of shipmode; Q22's country code is the trailing two
digits of c_name; Q17 filters p_size instead of p_container;
Q2/Q9/Q11/Q16/Q20 run against a DETERMINISTIC derived partsupp (see
_PS_SQL below) — the distinct lineitem (partkey, suppkey) pairs with
integer-arithmetic supply cost / availqty, derived identically in both
engines so every canonical plan shape stays value-oracle-checked.
With those, all 22 TPC-H query shapes are covered.

Determinism: every money sum goes through DECIMAL (exact, order-
independent) and is cast back to DOUBLE only for output, per the
registry contract; ratios divide two exact decimals as one double
division on both engines; every LIMIT carries a total ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from transit_feed_etl_spark.caching import persist_tracked
from transit_feed_etl_spark.io import table, table_par
from transit_feed_etl_spark.registry import register


def _rev() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")


# --------------------------------------------------------------------------
# Q4 — order priority checking. EXISTS(correlated lineitem) over a one-
# quarter slice of orders. Scale plan: the orders-side date filter is
# pushed to the scan; the EXISTS decorrelates to a LEFT SEMI hash join
# shuffled on orderkey (both sides are facts — no broadcast), then a
# 5-group aggregate with map-side partials.
# --------------------------------------------------------------------------
@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (late = shipped >60 days after order date, standing
    in for commit<receipt which the testdata lacks)."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    late = li.select("l_orderkey", "l_shipdate")
    return (
        o.join(
            late,
            (o.o_orderkey == late.l_orderkey)
            & (late.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q6 — forecasting revenue change. The canonical pushdown showcase: all
# three predicates (date range, discount band, quantity cap) reach the
# parquet scan as PushedFilters; the plan is scan -> partial agg ->
# single-row final agg. Zero joins, zero wide shuffles (just the 1-row
# partial exchange). At 100 TB this is the min-possible-work plan: I/O
# bounded by row-group pruning on l_shipdate.
# --------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: filter-everything scan-aggregate."""
    li = table_par(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations. The disjunctive pair
# predicate (A->B or B->A) rides the two broadcast nation joins; the only
# shuffle is the lineitem-orders fact join. supplier/customer/nation are
# all broadcast dims.
# --------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bidirectional nation-pair trade volume by ship year."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 — national market share. share = conditional revenue / total
# revenue per year, computed as ONE aggregate pass (two decimal sums per
# group), not two scans. All dims broadcast; single fact-fact shuffle.
# --------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle="""
    SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
           CAST(CAST(SUM(CASE WHEN n1.n_name = 'NATION_5'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
            / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                   AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n2.n_regionkey
      JOIN part     ON p_partkey = l_partkey
    WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_5's share of ASIA-customer PROMO-part revenue
    per order year."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_regionkey")
    )
    nation_rev = F.sum(
        F.when(F.col("supp_nation") == "NATION_5", _rev()).otherwise(
            F.lit(0).cast("decimal(18,4)")
        )
    ).cast("double")
    total_rev = F.sum(_rev()).cast("double")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((nation_rev / total_rev).cast("double").alias("mkt_share"))
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q10 — returned-item reporting. Revenue lost to returns per customer in
# one quarter, top 20. Grouping key includes the functionally-dependent
# customer attributes (name/acctbal/nation) so the plan is one shuffle,
# not an agg + a re-join. TakeOrderedAndProject caps the driver result.
# --------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-item revenue."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q12 — priority shipping buckets (shipmode adapted to line status).
# Conditional counts: one shuffled fact join, two CASE sums per group.
# --------------------------------------------------------------------------
@register(
    "q12_priority_lines",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high/low-priority line counts per line status."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution. LEFT OUTER with the priority
# filter in the JOIN condition (not WHERE — that would turn it inner),
# then a second aggregation over the counts. Two shuffles by necessity
# (custkey, then c_count); the first is the classic expand-then-collapse
# histogram pattern.
# --------------------------------------------------------------------------
@register(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: histogram of per-customer non-urgent order counts."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# Q14 — promotion effect. Single ratio row: promo revenue / total
# revenue for one month. part (the only dim) broadcasts; the fact side
# is a pushed-down one-month scan.
# --------------------------------------------------------------------------
@register(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percentage of one month's revenue from PROMO parts."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    p = table(spark, sf_dir, "part")
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _rev()).otherwise(
            F.lit(0).cast("decimal(18,4)")
        )
    ).cast("double")
    total = F.sum(_rev()).cast("double")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg((F.lit(100.0) * promo / total).cast("double").alias("promo_revenue"))
    )


# --------------------------------------------------------------------------
# Q15 — top supplier. Revenue per supplier for a quarter, then keep the
# supplier(s) whose revenue equals the max. The max is a 1-row broadcast
# joined back on EXACT DECIMAL equality (floats would make "equals max"
# engine-dependent); Spark's plan is agg -> broadcast 1-row -> filter,
# no second shuffle of the agg output.
# --------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = table(spark, sf_dir, "supplier")
    return (
        revenue.join(
            F.broadcast(mx), F.col("total_revenue") == F.col("max_revenue")
        )
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q19 — discounted revenue via OR-of-ANDs. Three (brand, size-band,
# quantity-band) alternatives. The partkey equi-key still drives a
# broadcast hash join; the disjunction is a post-join filter Catalyst
# can't (and shouldn't) split. The common p_size/l_quantity bounds ARE
# extracted: Spark pushes the shared l_quantity range to the scan.
# --------------------------------------------------------------------------
@register(
    "q19_discounted_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 45
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue from three disjunctive brand/size/qty bands."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#12") & size.between(1, 15) & qty.between(1, 21))
        | ((brand == "Brand#23") & size.between(1, 30) & qty.between(10, 30))
        | ((brand == "Brand#15") & size.between(1, 45) & qty.between(20, 40))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting ("late" = shipped >60 days
# after order date; sole-late-supplier on a multi-supplier finished
# order). The classic form is EXISTS + NOT EXISTS, two extra scans of
# lineitem. Here both correlations FOLD INTO ONE AGGREGATION over
# l_orderkey: n_suppliers>1 replaces EXISTS(other supplier), and
# n_late_suppliers=1 replaces NOT EXISTS(other late supplier) — one
# shuffle of lineitem instead of three, the shape that survives 100 TB.
# The oracle states the classic doubly-correlated form, so the parity
# check proves the rewrite.
# --------------------------------------------------------------------------
@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: sole-late suppliers on finished multi-supplier
    orders, EXISTS/NOT-EXISTS folded into one orderkey aggregation."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn("_late_supp", F.when(late, F.col("l_suppkey")))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("_late_supp").alias("n_late_supp"),
            F.max("_late_supp").alias("late_suppkey"),
            F.count("_late_supp").alias("n_late_rows"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    return (
        per_order.join(F.broadcast(s), F.col("late_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
    )


# --------------------------------------------------------------------------
# Q22 — global sales opportunity. Country code adapted to the trailing
# two digits of c_name (testdata has no c_phone). The scalar threshold
# (avg positive balance) is an exact decimal-sum/count broadcast; the
# NOT EXISTS is a left anti join against orders. One customer-side
# shuffle total.
# --------------------------------------------------------------------------
@register(
    "q22_sales_opportunity",
    oracle="""
    WITH pos AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,3))) AS DOUBLE)
               / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT SUBSTRING(c_name, 17, 2) AS cntrycode,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,3))) AS DOUBLE) AS totacctbal
    FROM customer, pos
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-inactive customers bucketed by the
    c_name country-code stand-in."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,3)")).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 17, 2).alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,3)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue. The classic correlated scalar
# subquery (avg l_quantity per part) over a selective part filter.
# Plan: the brand/size filter prunes `part` to ~1% BEFORE anything
# touches lineitem, and the pruned dim broadcasts — so the correlated
# average is computed only for surviving parts. The per-part average is
# a window over l_partkey (ONE exchange; no agg-then-join-back second
# shuffle of the fact), then the small-quantity filter and a global
# one-row aggregate with map-side partials.
# --------------------------------------------------------------------------
@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH lp AS (
      SELECT l_quantity, l_extendedprice,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
                    OVER (PARTITION BY l_partkey) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY l_partkey) AS avg_qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#1' AND p_size < 10
    )
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly
    FROM lp
    WHERE l_quantity < 0.2 * avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (p_size<10 standing in for p_container, which the
    testdata lacks): yearly revenue lost if small-quantity orders — below
    20% of the part's average quantity — were not taken.

    Determinism: the per-part average is exact-decimal SUM cast to
    double / COUNT (one double division, identical in DuckDB); the final
    SUM goes through DECIMAL before the single /7.0 division."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") < 10)
    )
    w = W.partitionBy("l_partkey")
    lp = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).withColumn(
        "avg_qty",
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w),
    )
    return lp.filter(F.col("l_quantity") < 0.2 * F.col("avg_qty")).agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double") / 7.0)
        .cast("double")
        .alias("avg_yearly")
    )


# --------------------------------------------------------------------------
# Derived partsupp: the testdata has no partsupp table, so the five
# remaining canonical TPC-H shapes (Q2/Q9/Q11/Q16/Q20) run against a
# DETERMINISTIC partsupp view derived from lineitem — the distinct
# (partkey, suppkey) pairs, with supply cost / available quantity as
# pure integer arithmetic over the keys. Both engines derive the
# identical relation (integer ops, one IEEE division), so the oracle
# stays value-exact while the queries keep their canonical plan shapes.
# --------------------------------------------------------------------------
_PS_SQL = """
      SELECT ps_partkey, ps_suppkey,
             CAST((ps_partkey * 31 + ps_suppkey * 7) % 9000 + 1000 AS DOUBLE)
               / 100 AS ps_supplycost,
             CAST((ps_partkey * 13 + ps_suppkey * 17) % 9999 + 1 AS INT)
               AS ps_availqty
      FROM (
        SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        FROM lineitem
      )
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived-partsupp twin of _PS_SQL (see block comment)."""
    ps = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    return ps.select(
        "ps_partkey",
        "ps_suppkey",
        (
            ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 7) % 9000 + 1000)
            .cast("double")
            / 100
        ).alias("ps_supplycost"),
        ((F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 17) % 9999 + 1)
        .cast("int")
        .alias("ps_availqty"),
    )


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier. Correlated scalar MIN against the same
# relation: decorrelated into a per-part MIN aggregate joined back on
# EXACT equality (supply costs are identical doubles on both engines).
# Plan: part filter prunes first; supplier/nation/region broadcast; the
# per-part min is one shuffle on ps_partkey.
# --------------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    rps AS (
      SELECT ps.ps_partkey, ps.ps_supplycost, s.s_suppkey, s.s_name,
             s.s_acctbal, n.n_name
      FROM ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
    ),
    mn AS (
      SELECT ps_partkey, MIN(ps_supplycost) AS min_cost
      FROM rps GROUP BY ps_partkey
    )
    SELECT rps.s_acctbal, rps.s_name, rps.n_name, p.p_partkey, p.p_name,
           rps.ps_supplycost
    FROM part p
    JOIN rps ON rps.ps_partkey = p.p_partkey
    JOIN mn ON mn.ps_partkey = p.p_partkey
           AND rps.ps_supplycost = mn.min_cost
    WHERE p.p_size = 15 AND p.p_type = 'LARGE'
    ORDER BY rps.s_acctbal DESC, rps.n_name, rps.s_name, p.p_partkey
    LIMIT 20
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape over the derived partsupp: the supplier(s)
    achieving the regional minimum supply cost for each qualifying
    part. The correlated MIN decorrelates into a grouped aggregate +
    equality join back (Catalyst does the same to the subquery form)."""
    ps = _partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    rps = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("ps_partkey", "ps_supplycost", "s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    mn = rps.groupBy(F.col("ps_partkey").alias("mn_partkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        p.join(rps, p.p_partkey == rps.ps_partkey)
        .join(
            mn,
            (F.col("mn_partkey") == F.col("p_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "ps_supplycost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q9 — product-type profit. The 6-way join; profit mixes revenue with
# derived supply cost. Dims broadcast; lineitem shuffles once on
# orderkey for the orders join (partkey/suppkey sides broadcast).
# --------------------------------------------------------------------------
@register(
    "q9_product_type_profit",
    oracle=f"""
    WITH ps AS ({_PS_SQL})
    SELECT n.n_name AS nation,
           CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         - ps.ps_supplycost * l.l_quantity
                         AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_type = 'PROMO'
    GROUP BY n.n_name, CAST(YEAR(o.o_orderdate) AS INT)
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (p_type = 'PROMO' standing in for the p_name LIKE
    pattern): per-nation, per-year profit where cost comes from the
    derived partsupp. The profit expression keeps the same operation
    order on both engines, then sums through DECIMAL."""
    li = table(spark, sf_dir, "lineitem")
    ps = _partsupp(spark, sf_dir)
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# --------------------------------------------------------------------------
# Q11 — important stock. Grouped HAVING against a global scalar over
# the SAME filtered relation (computed once, broadcast back).
# --------------------------------------------------------------------------
@register(
    "q11_important_stock",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    filtered AS (
      SELECT ps.ps_partkey,
             CAST(ps.ps_supplycost * ps.ps_availqty AS DECIMAL(18,6)) AS val
      FROM ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
    ),
    tot AS (SELECT CAST(SUM(val) AS DOUBLE) * 0.001 AS threshold FROM filtered)
    SELECT ps_partkey, CAST(SUM(val) AS DOUBLE) AS part_value
    FROM filtered, tot
    GROUP BY ps_partkey, tot.threshold
    HAVING CAST(SUM(val) AS DOUBLE) > tot.threshold
    ORDER BY part_value DESC, ps_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part stock value within one nation, kept
    only when above a fraction of that nation's total stock value. The
    global scalar is a 1-row broadcast; exact-decimal sums make the
    strict-inequality cut identical on both engines."""
    ps = _partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (F.col("ps_supplycost") * F.col("ps_availqty")).cast("decimal(18,6)")
    # persist: `filtered` feeds BOTH the global scalar and the per-part
    # aggregate — without it each reference re-derives partsupp from a
    # full lineitem scan (two scans + two distinct shuffles of the
    # biggest table instead of one)
    filtered = persist_tracked(
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("ps_partkey", val.alias("val"))
    )
    tot = filtered.agg((F.sum("val").cast("double") * 0.001).alias("threshold"))
    return (
        filtered.crossJoin(F.broadcast(tot))
        .groupBy("ps_partkey", "threshold")
        .agg(F.sum("val").cast("double").alias("part_value"))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("ps_partkey", "part_value")
        .orderBy(F.desc("part_value"), "ps_partkey")
    )


# --------------------------------------------------------------------------
# Q16 — supplier relationship. NOT IN anti join + per-group COUNT
# DISTINCT over a multi-attribute group.
# --------------------------------------------------------------------------
@register(
    "q16_supplier_relationship",
    oracle=f"""
    WITH ps AS ({_PS_SQL})
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.ps_suppkey) AS INT) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND ps.ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (negative account balance standing in for the
    complaints LIKE filter): distinct supplier counts per (brand, type,
    size) bucket, excluding flagged suppliers via NOT IN -> anti join
    (the exclusion list is provably null-free, so NOT IN and ANTI agree)."""
    ps = _partsupp(spark, sf_dir)
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin([1, 4, 9, 14, 19, 23, 36, 45])
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(
            F.broadcast(bad), ps.ps_suppkey == bad.s_suppkey, "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("int").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# Q20 — potential promotion. Nested IN chains: suppliers whose derived
# stock of promo parts exceeds half a year's shipped quantity. The
# correlated half-sum decorrelates to a per-(part,supp) aggregate
# joined on the composite key.
# --------------------------------------------------------------------------
@register(
    "q20_potential_promotion",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    shipped AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    ),
    candidates AS (
      SELECT DISTINCT ps.ps_suppkey
      FROM ps
      JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                     AND sh.l_suppkey = ps.ps_suppkey
      WHERE ps.ps_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        AND ps.ps_availqty > 0.5 * sh.qty
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (SELECT ps_suppkey FROM candidates)
    ORDER BY s.s_suppkey
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: one nation's suppliers holding excess derived
    stock (> half of 1997 shipments) of promo parts. Exact-decimal
    quantity sums keep the strict > cut engine-identical; empty shipped
    groups drop out on both engines (inner correlation)."""
    ps = _partsupp(spark, sf_dir)
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,3)"))
        .cast("double")
        .alias("qty")
    )
    promo = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    candidates = (
        ps.join(F.broadcast(promo), ps.ps_partkey == promo.p_partkey, "left_semi")
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(candidates, s.s_suppkey == candidates.ps_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )
