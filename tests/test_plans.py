"""Physical-plan assertions: the scale properties the engine promises
(pushdown, pruning, broadcast choice, exchange minimization) checked
against the actual Catalyst output, not just claimed in docstrings.

Plans are inspected AFTER execution (AQE finalizes join strategies at
runtime); `_final_plan` strips the "Initial Plan" section AQE appends so
exchange counts refer to what actually ran.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from transit_feed_etl_spark.io import table
from transit_feed_etl_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _final_plan(df) -> str:
    df.collect()  # finalize AQE
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_q1_pushdown_and_pruning(spark):
    plan = _final_plan(QUERIES["q1_pricing_summary"].builder(spark, SF))
    # the shipdate predicate must reach the parquet scan
    assert "DataFilters: [isnotnull(l_shipdate" in plan
    # column pruning: the scan reads only the 7 referenced columns
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    cols = {c.split("#")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }
    # partial aggregation (map-side combine) before the shuffle
    assert "partial_sum" in plan


def test_join_revenue_broadcasts_dims(spark):
    plan = _final_plan(QUERIES["join_revenue_by_nation"].builder(spark, SF))
    # nation + customer broadcast; no nested-loop anywhere
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    # orderdate filter pushdown on the orders scan
    assert "DataFilters: [isnotnull(o_orderdate" in plan


def test_latest_event_single_shuffle_for_window(spark):
    plan = _final_plan(QUERIES["latest_event_per_user"].builder(spark, SF))
    # one hash-partitioning exchange for the window; the final orderBy
    # adds a range exchange — nothing else
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange rangepartitioning") == 1
    # rn = 1 is executed as a group-limit, not a full rank-then-filter
    assert "WindowGroupLimit" in plan


def test_minhash_signature_single_exchange_no_join(spark):
    from transit_feed_etl_spark.operators import minhash as MH

    d = table(spark, SF, "documents")
    plan = _final_plan(MH.minhash_signature(d, "doc_id", "text", 16))
    # the single-pass formulation: one repartition-by-id exchange feeds
    # tokenize -> shingle -> explode -> agg; no join, no broadcast, and
    # the groupBy adds NO second shuffle (pre-partitioned on the key)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan
    # tokenizer evaluated once: exactly one split(lower(...)) projection
    assert plan.count("split(lower(") == 1


def test_triangle_query_joins_are_hash_not_nested(spark):
    """coorder_part_triangles: the pair build, wedge join, and closure
    must all plan as hash joins (equi-keys with the ord inequality as a
    residual filter) — never cartesian/nested-loop — and the persisted
    edge relation must serve all three consumers (exactly one lineitem
    self-join pair build in the executed plan)."""
    df = QUERIES["coorder_part_triangles"].builder(spark, SF)
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # all joins resolved to hash strategies
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)
    # the edge relation is cached: its build subtree appears once
    assert "InMemoryTableScan" in plan


def test_sketch_only_percentiles_partial_agg(spark):
    """The 100 TB quantile path (`approx_percentiles_sketch_only`) must
    ship GK sketches partial-aggregated through its one exchange and
    contain NO exact percentile expression anywhere — the driver-checked
    twin deliberately buffers group values for its verification envelope
    (ADVICE r6); the production plan must not."""
    plan = _final_plan(QUERIES["approx_percentiles_sketch_only"].builder(spark, SF))
    assert "partial_percentile_approx" in plan
    assert not re.search(r"\bpercentile\(", plan), plan[:1500]
    # exactly one pre-aggregation data exchange (the orderBy range
    # partition is presentation-only)
    assert plan.count("Exchange hashpartitioning") == 1


def test_exact_dedup_partial_agg(spark):
    plan = _final_plan(QUERIES["dedup_exact"].builder(spark, SF))
    # partial+final hash aggregate: the shuffle carries (md5, partial
    # min/count) — Spark extracts md5(text) into _groupingexpression, so
    # the exchange key must be that 32-hex-char value, never raw text
    assert "partial_min" in plan
    assert re.search(r"Exchange hashpartitioning\(_groupingexpression", plan), plan[:1500]


def test_salted_count_distinct_spreads_hot_key(spark):
    plan = _final_plan(QUERIES["salted_distinct_users_by_type"].builder(spark, SF))
    # phase-1 exchanges are keyed on (event_type, salt) — Spark extracts
    # the pmod(xxhash64(user_id),16) salt into _groupingexpression — so
    # the hot key's distinct work lands on n_salts reducers, not one
    m = re.search(r"Exchange hashpartitioning\(event_type#\d+, _groupingexpression", plan)
    assert m, plan[:2000]
    # every phase stays combinable (partial agg before each shuffle)
    assert "partial_count" in plan and "partial_sum" in plan


def test_catalog_prune_files_skips_disjoint_bboxes(spark, tmp_path):
    """bbox file pruning: only files whose catalog bbox intersects the
    query box are selected (the reference's zone-map, made actionable)."""
    from transit_feed_etl_spark.pipeline.catalog import FileCatalog

    rows = [(float(i), float(i), f"v{i}", "2024-01-01 00:00:00") for i in range(10)]
    df = spark.createDataFrame(
        rows, "longitude double, latitude double, vehicle_id string, ts_s string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    root = str(tmp_path / "data")
    cat = FileCatalog(spark, str(tmp_path / "catalog"))
    # two files with disjoint bboxes: lon/lat 0-4 and 5-9
    df.filter("longitude < 5").write.parquet(root + "/a")
    df.filter("longitude >= 5").write.parquet(root + "/b")
    cat.append_batch(df.filter("longitude < 5"), 0, root + "/a")
    cat.append_batch(df.filter("longitude >= 5"), 1, root + "/b")
    assert cat.prune_files(0.0, 0.0, 4.0, 4.0) == [root + "/a"]
    assert set(cat.prune_files(0.0, 0.0, 9.0, 9.0)) == {root + "/a", root + "/b"}
    assert cat.prune_files(20.0, 20.0, 30.0, 30.0) == []


def test_exists_decorrelates_to_semi_join(spark):
    plan = _final_plan(QUERIES["exists_high_value_customers"].builder(spark, SF))
    # correlated EXISTS must become a semi join (one pass over orders),
    # never a per-row subquery or nested loop
    assert "LeftSemi" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    # the totalprice predicate is pushed into the orders scan
    assert "DataFilters: [isnotnull(o_totalprice" in plan


def test_not_exists_decorrelates_to_anti_join(spark):
    plan = _final_plan(QUERIES["not_exists_urgent_order_customers"].builder(spark, SF))
    assert "LeftAnti" in plan, plan[:2000]
    # priority filter pushed below the join into the scan
    assert "1-URGENT" in plan and "PushedFilters" in plan


def test_correlated_scalar_becomes_aggregate_join(spark):
    plan = _final_plan(
        QUERIES["correlated_scalar_small_qty_revenue"].builder(spark, SF)
    )
    # the per-part average is ONE aggregate pass joined back to lineitem,
    # not a re-executed subquery: exactly one join, partial aggs present
    assert plan.count("Join") >= 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located bucketed layout: fact-fact join and bucket-key groupBy
    both run with ZERO shuffles — the pay-once-at-write answer to the
    biggest cost of 100 TB joins."""
    from transit_feed_etl_spark.io import table
    from transit_feed_etl_spark.pipeline import bucketing as B

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{tmp_path}/wh'")
    # At test scale the planner would broadcast the small side (which
    # bypasses bucketed scans entirely); disable auto-broadcast to plan
    # the fact-fact case bucketing exists for.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        B.write_bucketed(
            table(spark, SF, "orders"), "bktest.orders_b", ["o_orderkey"], 8,
            sort_cols=["o_orderkey"],
        )
        B.write_bucketed(
            table(spark, SF, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
            "bktest.lineitem_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"],
        )
        joined = B.bucketed_join(spark, "bktest.orders_b", "bktest.lineitem_b", ["o_orderkey"])
        plan = _final_plan(joined)
        assert "Exchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # bucket-keyed aggregation: also exchange-free
        agg = spark.table("bktest.lineitem_b").groupBy("o_orderkey").count()
        plan2 = _final_plan(agg)
        assert "Exchange" not in plan2, plan2[:2000]
        assert joined.count() == table(spark, SF, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE IF EXISTS bktest CASCADE")


def test_range_join_is_hash_join_not_nested_loop(spark):
    plan = _final_plan(QUERIES["range_join_shipments_in_window"].builder(spark, SF))
    # the binned construction must plan an equi HASH join on the bin id;
    # a nested loop here would be O(|points| x |intervals|) at scale
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "HashJoin" in plan
    # the range predicate is applied as a join/filter condition, and the
    # interval side is exploded via sequence()
    assert "sequence(" in plan


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling (the join-side complement to the salted
    aggregate): one key holding ~90% of the left side must be SPLIT by
    AQE across tasks — SortMergeJoin(skew=true) — instead of serializing
    on a single straggler. Thresholds are lowered to make local[8]-sized
    data look like a 100 TB hot key; the mechanism is identical."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200000).select(
            F.when(F.col("id") < 180000, 0).otherwise(F.col("id") % 97).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(2000).select(
            (F.col("id") % 97).alias("k"), F.col("id").alias("rv")
        )
        # the payload must survive into the join (min(length) downstream)
        # or column pruning shrinks the hot partition below threshold
        agg = left.join(right, "k").agg(
            F.count(F.lit(1)).alias("n"), F.min(F.length("pad")).alias("m")
        )
        plan = _final_plan(agg)
        assert "skew=true" in plan, plan[:3000]
        assert "skewed" in plan  # AQEShuffleRead marks the split reader
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_q5_broadcasts_all_dims_single_fact_shuffle(spark):
    plan = _final_plan(QUERIES["q5_local_supplier_volume"].builder(spark, SF))
    # six-table join: every dimension side broadcast, the lone shuffled
    # join is lineitem-orders (fact-fact); no nested loop
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_broadcasts_bench_side(spark):
    """benchmark_contamination: the bench shingle relation (tiny) must
    broadcast — the big train side never shuffles for the join."""
    plan = _final_plan(QUERIES["benchmark_contamination"].builder(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hash_sample_is_shuffle_free(spark):
    """hash_sample_documents: the sampling predicate evaluates in the
    scan stage — no Exchange anywhere before the final sort."""
    plan = _final_plan(QUERIES["hash_sample_documents"].builder(spark, SF))
    # the only exchange permitted is the rangepartitioning for ORDER BY
    hash_exchanges = re.findall(r"Exchange hashpartitioning", plan)
    assert not hash_exchanges, plan


def test_kmeans_assignment_broadcasts_centroids(spark):
    """ivf_kmeans_topk: every Lloyd assignment broadcasts the 16-row
    centroid table — the corpus never shuffles for assignment."""
    plan = _final_plan(QUERIES["ivf_kmeans_topk"].builder(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # no sort-merge join: nothing big ever joins anything big here
    assert "SortMergeJoin" not in plan


def test_pack_sequences_single_shuffle_per_bucket_fold(spark):
    """pack_sequences: one hash exchange on the bucket key feeds the
    per-bucket applyInPandas fold; no other data movement."""
    from transit_feed_etl_spark.operators.packing import pack_documents
    from transit_feed_etl_spark.operators import minhash as MH
    from transit_feed_etl_spark.operators import textfns as TX

    d = table(spark, SF, "documents")
    prepped = d.select(
        "doc_id",
        F.size(TX.tokens("text")).alias("n_tokens"),
        MH.portable_hash60(F.col("doc_id").cast("string")).alias("h"),
    )
    plan = _final_plan(pack_documents(prepped))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "FlatMapGroupsInPandas" in plan


def test_scd2_single_exchange_for_both_windows(spark):
    """scd2_user_state: the lag pass and the lead pass share the
    (user_id) partitioning and ordering prefix — one hash exchange, not
    two."""
    plan = _final_plan(QUERIES["scd2_user_state"].builder(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_chunk_documents_map_only_before_sort(spark):
    """Chunking is explode-over-scan: the ONLY exchange in the executed
    plan is the final deterministic orderBy (rangepartitioning); no
    hash-partitioning shuffle anywhere — the operator itself is map-only."""
    plan = _final_plan(QUERIES["chunk_documents"].builder(spark, SF))
    assert "Generate explode" in plan
    assert plan.count("hashpartitioning") == 0, plan
    # column pruning: only doc_id + text read
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    cols = {c.split("#")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}


def test_top_bigrams_partial_agg_and_topk(spark):
    """Heavy hitters: map-side combine (partial_count) before the single
    bigram shuffle, and the global top-20 runs as TakeOrderedAndProject
    (bounded heap per partition), not a full sort."""
    plan = _final_plan(QUERIES["top_bigrams_corpus"].builder(spark, SF))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("hashpartitioning") == 1, plan


def test_fuzzy_pigeonhole_no_cartesian(spark):
    """Pigeonhole blocking must produce equi-joins on the half keys —
    never a nested-loop/cartesian candidate generation."""
    plan = _final_plan(QUERIES["fuzzy_pairs_pigeonhole"].builder(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_redaction_shuffle_free(spark):
    """The scrub pass is pure map: zero hash exchanges (the orderBy range
    exchange is the only one, for the deterministic oracle compare)."""
    plan = _final_plan(QUERIES["pii_redaction"].builder(spark, SF))
    assert plan.count("hashpartitioning") == 0, plan


def test_price_histogram_broadcasts_extent(spark):
    """Two-pass histogram: the 1-row min/max aggregate joins back via
    BroadcastHashJoin or BroadcastNestedLoopJoin on a 1-row side — never
    a shuffle of the fact table against the extent row."""
    plan = _final_plan(QUERIES["price_histogram"].builder(spark, SF))
    assert "Broadcast" in plan
    # bucket groupBy gets map-side combine
    assert "partial_count" in plan


def test_dynamic_partition_pruning_on_partitioned_join(spark, tmp_path):
    """DPP: joining a partitioned fact against a FILTERED small dim must
    inject a dynamicpruning subquery into the fact scan's PartitionFilters
    — at 100 TB this is the difference between scanning one partition and
    scanning the table. Requires the dim side broadcast (reused exchange),
    which AQE picks for a 2-row dim."""
    root = str(tmp_path / "events_by_type")
    table(spark, SF, "events").write.partitionBy("event_type").parquet(root)
    fact = spark.read.parquet(root)
    dim = (
        spark.createDataFrame(
            [("purchase", 1.5), ("signup", 9.9)], ["event_type", "weight"]
        )
        .filter(F.col("weight") > 2.0)  # selective dim filter -> DPP seed
    )
    j = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = _final_plan(j)
    assert "dynamicpruning" in plan, plan


def test_equidepth_deciles_no_global_data_sort(spark):
    """Exact deciles must rank via range partitions + offsets: the DATA
    path shows rangepartitioning (the repartitionByRange) and a window
    keyed by partition id (hashpartitioning(_pid)), with offsets joined
    back by BROADCAST. The only SinglePartition window runs over the
    P-row counts frame, never the data."""
    plan = _final_plan(QUERIES["equidepth_deciles"].builder(spark, SF))
    assert "rangepartitioning" in plan, plan
    assert "hashpartitioning(_pid" in plan, plan
    assert "BroadcastHashJoin" in plan
    # the fact-side scan feeds no SinglePartition exchange directly:
    # the only SinglePartition consumer is the counts window (P rows)
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime row-level filtering: a selective creation side injects a
    bloom_filter_agg + might_contain probe into the fact scan of a
    shuffle join — at 100 TB this drops non-joining fact rows BEFORE the
    shuffle. Thresholds are lowered because the test corpus is tiny; the
    optimizer rule and plan shape are exactly what a real cluster runs."""
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in keys.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = table(spark, SF, "lineitem")
        o = table(spark, SF, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _final_plan(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_strategy_hints_override_catalyst(spark):
    """Join-strategy hints are the manual override surface when stats
    mislead the optimizer at scale: MERGE forces SortMergeJoin and
    SHUFFLE_HASH forces ShuffledHashJoin even where Catalyst would pick
    broadcast for the 25-row dim."""
    li = table(spark, SF, "lineitem")
    n = table(spark, SF, "nation")
    merged = li.join(n.hint("merge"), li.l_suppkey == n.n_nationkey).groupBy(
        "n_name"
    ).count()
    assert "SortMergeJoin" in _final_plan(merged)
    hashed = li.join(n.hint("shuffle_hash"), li.l_suppkey == n.n_nationkey).groupBy(
        "n_name"
    ).count()
    assert "ShuffledHashJoin" in _final_plan(hashed)


def test_point_in_time_join_has_no_join_operator(spark):
    """The temporal lookup is union-carry: the executed plan contains NO
    join operator at all — every exchange is keyed on user_id. The
    classic interval-join formulation would be a range join; this shape
    is strictly cheaper and skew-follows the key distribution."""
    plan = _final_plan(QUERIES["point_in_time_state_join"].builder(spark, SF))
    assert "Join" not in plan, plan
    assert "hashpartitioning(user_id" in plan


def test_gap_fill_no_cartesian_grid(spark):
    """Grid densification must come from per-key sequence+explode —
    never a calendar cross join; all data exchanges stay on user_id."""
    plan = _final_plan(QUERIES["gap_fill_forward_fill"].builder(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan
    import re

    keys = {m.split("#")[0] for m in re.findall(r"hashpartitioning\((\w+#\d+)", plan)}
    assert keys <= {"user_id"}, keys


def test_unigram_logprob_broadcasts_vocab(spark):
    """vocab << corpus: the per-token logprob table must reach the
    exploded token stream via broadcast, not a tok-keyed shuffle of the
    corpus side."""
    plan = _final_plan(QUERIES["doc_unigram_logprob"].builder(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_merge_upsert_broadcast_anti_join(spark):
    """The SCD1 merge's anti join keys on the updates side (small) —
    broadcast, never a shuffle of the base snapshot."""
    plan = _final_plan(QUERIES["merge_upsert_user_profiles"].builder(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_retrieval_join_single_window_exchange(spark):
    """Retrieval pipeline: one qid-keyed exchange for the top-k window;
    the document fetch is a broadcast join of the tiny hit set."""
    plan = _final_plan(QUERIES["retrieval_join_docs"].builder(spark, SF))
    assert plan.count("hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" in plan


def test_curation_pipeline_two_exchanges(spark):
    """The composed curation recipe must stay ONE pipelined pass until
    the fingerprint dedup window, then one groupBy — exactly two hash
    exchanges, no extra scans of documents."""
    plan = _final_plan(QUERIES["curation_pipeline_stats"].builder(spark, SF))
    assert plan.count("hashpartitioning") == 2, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_q6_all_predicates_pushed_no_join(spark):
    """Q6 is the minimum-work plan: date/discount/quantity predicates
    reach the parquet scan, only 4 columns are read, no join, partial
    aggregation before the single 1-row exchange."""
    plan = _final_plan(QUERIES["q6_forecast_revenue"].builder(spark, SF))
    assert "DataFilters: [isnotnull(l_shipdate" in plan
    for pushed in ("l_discount", "l_quantity"):
        assert f"isnotnull({pushed}" in plan, plan[:2000]
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    cols = {c.split("#")[0] for c in m.group(1).split(",")}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    assert "Join" not in plan
    assert "partial_sum" in plan


def test_q21_single_lineitem_scan_and_shuffle(spark):
    """Q21's EXISTS + NOT EXISTS fold means ONE lineitem scan feeding
    ONE orderkey aggregation — not the three correlated scans of the
    textbook plan. supplier joins broadcast."""
    plan = _final_plan(QUERIES["q21_waiting_suppliers"].builder(spark, SF))
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    li_scans = [s for s in scans if "l_orderkey" in s]
    assert len(li_scans) == 1, scans
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q15_max_equality_is_broadcast_not_reshuffle(spark):
    """Q15: the 1-row max joins back to the revenue agg as a broadcast;
    the revenue aggregation itself shuffles lineitem exactly once."""
    plan = _final_plan(QUERIES["q15_top_supplier"].builder(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # lineitem scanned twice (revenue + max branches share the filter)
    # but each aggregation keeps map-side partials
    assert "partial_sum" in plan


def test_salted_topk_no_whole_group_on_one_task(spark):
    """Salted top-k: level-1 exchange partitions on (group, salt) — the
    executed plan must show the two-key hashpartitioning before any
    single-key one."""
    plan = _final_plan(QUERIES["topk_per_group_salted"].builder(spark, SF))
    assert re.search(r"hashpartitioning\(o_orderpriority#\d+, _salt", plan), plan[:2000]
    # and the level-2 re-rank exchange carries only the bounded survivors
    assert re.search(r"hashpartitioning\(o_orderpriority#\d+, \d+\)", plan), plan[:2000]


def test_q17_broadcast_part_single_window_exchange(spark):
    plan = _final_plan(QUERIES["q17_small_quantity_revenue"].builder(spark, SF))
    # the pruned part dim broadcasts; lineitem is never nested-looped
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the correlated per-part average is a window over ONE l_partkey
    # exchange — no agg-then-join-back second shuffle of the fact
    assert plan.count("hashpartitioning(l_partkey") == 1
    # brand/size filters reach the part scan
    assert "PushedFilters: [IsNotNull(p_brand), IsNotNull(p_size)" in plan


def test_q9_broadcasts_all_dims(spark):
    plan = _final_plan(QUERIES["q9_product_type_profit"].builder(spark, SF))
    # part/supplier/nation broadcast; no nested loop anywhere
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan
    # the promo filter reaches the part scan
    assert "PushedFilters: [IsNotNull(p_type), EqualTo(p_type,PROMO)" in plan
    # profit aggregation is partial (map-side combine) before its shuffle
    assert "partial_sum" in plan


def test_q11_global_scalar_is_broadcast(spark):
    plan = _final_plan(QUERIES["q11_important_stock"].builder(spark, SF))
    # the HAVING threshold arrives as a 1-row broadcast (nested-loop on
    # 1 row is the broadcast anchor pattern), never a re-shuffle
    assert "BroadcastExchange" in plan
    # one distinct-pair exchange (the cached derived partsupp) + at most
    # one per-part aggregate exchange; the shared `filtered` relation is
    # cached, so the lineitem scan and distinct run ONCE, not per branch
    import re as _re
    assert len(_re.findall(r"Exchange hashpartitioning\(ps_partkey", plan)) <= 2
    assert "InMemoryTableScan" in plan


def test_pca_scatter_partial_aggregates_before_shuffle(spark):
    """pca_top_component's scale contract: the n x d^2 outer-product
    explode must partial-aggregate to d^2 rows per partition BEFORE the
    one exchange (no corpus-sized relation moves), and the per-round
    rank vector joins must be broadcasts, never shuffled joins."""
    plan = _final_plan(QUERIES["pca_top_component"].builder(spark, SF))
    assert "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no sort-merge join anywhere: every join input is a broadcast
    assert "SortMergeJoin" not in plan


def test_bpe_encode_vocab_sized_merge_application(spark):
    """bpe_encode_token_counts applies merges to the word-frequency
    relation, not the corpus: the final doc-level aggregation must be a
    hash aggregate with map-side combine, and the vocab join must not
    degrade to a nested loop."""
    plan = _final_plan(QUERIES["bpe_encode_token_counts"].builder(spark, SF))
    assert "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_three_action_preaggregates_source(spark):
    """Three-action MERGE (datasetops): the change feed partial-
    aggregates BEFORE the full-outer join shuffle, the event_type
    predicate reaches the scan, and nothing degenerates to a
    nested-loop/cartesian plan."""
    plan = _final_plan(QUERIES["merge_upsert_customer_balance"].builder(spark, SF))
    assert "FullOuter" in plan
    assert "partial_sum" in plan
    assert "DataFilters: [isnotnull(event_type" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_ngram_hash_keyed_no_allpairs(spark):
    """Cross-doc n-gram stats: every exchange keys on the 8-byte gram
    hash or doc_id (never a string gram), with map-side partial
    aggregation and no all-pairs operator anywhere."""
    plan = _final_plan(QUERIES["dup_ngram_doc_stats"].builder(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan
    for m in re.finditer(r"hashpartitioning\(([a-zA-Z_0-9#]+)", plan):
        assert m.group(1).split("#")[0] in {"gh", "doc_id"}, m.group(0)


def test_shard_manifest_single_agg_exchange(spark):
    """Shard manifest: assignment is a scan-stage expression, so the
    whole query is ONE 16-group aggregate exchange (plus the final
    16-row sort)."""
    plan = _final_plan(QUERIES["training_shard_manifest"].builder(spark, SF))
    assert plan.count("hashpartitioning") == 1, plan
    assert "partial_count" in plan


def test_incremental_merge_partial_states(spark):
    """Incremental rollup merge: both the state and delta branches
    partial-aggregate before any exchange, and the cutoff predicates
    push down to the scans."""
    plan = _final_plan(QUERIES["incremental_agg_merge"].builder(spark, SF))
    assert "partial_sum" in plan
    assert "DataFilters: [isnotnull(ts" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime row-level filtering (Spark's InjectRuntimeFilter): when a
    selective dim-side predicate feeds a shuffle join, the optimizer
    builds a bloom filter over the join keys and applies
    might_contain() on the fact side BEFORE its shuffle — at 100 TB
    this is the lever that keeps a selective fact-dim join from
    shuffling the whole fact table. Local testdata sits under the
    default 10 GB application-side threshold, so the test lowers the
    thresholds to force the decision the optimizer would make at scale
    (and restores them after)."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        # force a shuffle join: with a broadcast join the runtime filter
        # is pointless (the dim rides along anyway)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = (
            table(spark, SF, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        li = table(spark, SF, "lineitem").select("l_orderkey", "l_extendedprice")
        j = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.sum("l_extendedprice").alias("rev")
        )
        plan = _final_plan(j)
        # bloom filter built from the selective dim side...
        assert "bloom_filter_agg" in plan, plan
        # ...and applied as might_contain on the fact side's scan stage
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_exact_substring_spans_hash_keyed_no_allpairs(spark):
    """Exact-substring spans: grams move as 8-byte hashes keyed on gh or
    doc_id (plus the island window's doc_id partition); no all-pairs
    operator; the gram-frequency aggregate partial-aggregates map-side."""
    plan = _final_plan(QUERIES["exact_substring_spans"].builder(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for m in re.finditer(r"hashpartitioning\(([a-zA-Z_0-9#]+)", plan):
        assert m.group(1).split("#")[0] in {"gh", "doc_id"}, m.group(0)


def test_inverted_index_band_filters_before_list_aggregate(spark):
    """Two-pass posting-list build (ADVICE r2): the df band must be
    decided by a plain partial-aggregatable COUNT and enforced via a
    JOIN before any collect_list buffer exists. The old single-pass
    plan had no join at all (band filtered AFTER the list aggregate),
    so a join + partial_count below the list aggregate is the decisive
    plan signature that hot terms never reach a reducer buffer."""
    plan = _final_plan(QUERIES["inverted_index_postings"].builder(spark, SF))
    # the two-pass signature: a JOIN feeds the list build (the old
    # single-pass plan had no join at all)
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan
    # the list aggregate is keyed by (term, df) and computes ONLY
    # collect_list — df arrived from pass 1 via the join
    assert re.search(
        r"keys=\[term#\d+, df#\d+\], functions=\[(partial_)?collect_list", plan
    ), plan
    # no aggregate mixes the df count with the list build (the old
    # plan's functions=[partial_count(1), partial_collect_list(...)])
    assert not re.search(r"functions=\[[^\]]*count[^\]]*collect_list", plan), plan


def test_window_family_single_exchange_per_partitioning(spark):
    """The window-function queries promise ONE hash exchange for all
    window work sharing a partitioning: rank+dense_rank+row_number over
    the same spec must not re-shuffle per function, and the trailing
    range frame must reuse the user_id exchange it sorts within."""
    for name in ("rank_dense_rank", "range_frame_trailing_sum"):
        plan = _final_plan(QUERIES[name].builder(spark, SF))
        hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert len(hashes) == 1, (name, hashes, plan)
        assert "Window" in plan, name


def test_asof_join_single_shuffle_no_join_operator(spark):
    """operators/asof.py union-and-carry: the as-of attach runs as ONE
    hash exchange feeding a window (carry-forward over the union), with
    NO join operator anywhere — the range-join-free formulation that
    keeps state in the JVM window at any scale. The only other exchange
    is the final presentation orderBy."""
    plan = _final_plan(
        QUERIES["asof_join_purchase_before_view"].builder(spark, SF)
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:1500]
    assert len(re.findall(r"Exchange rangepartitioning", plan)) == 1
    assert "Join" not in plan
    assert "Window" in plan


def test_quantization_is_pure_map_no_aggregate_no_python(spark):
    """embedding_quantization promises 'one narrow map stage': all
    quantization math stays in higher-order JVM expressions — no
    aggregate, no join, no Python workers; the only exchanges are the
    presentation orderBy's range partitioning (never a hash shuffle)."""
    plan = _final_plan(QUERIES["embedding_quantization"].builder(spark, SF))
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan[:1500]


def test_approx_distinct_stays_jvm_side_with_partial_aggs(spark):
    """approx_distinct_users carries BOTH the HLL sketch and its exact
    yardstick in one aggregation pipeline: partial (map-side) aggregates
    before every exchange, zero Python, zero joins — the sketch and the
    exact count shuffle pre-aggregated bytes, never raw user_ids beyond
    the distinct expand."""
    plan = _final_plan(QUERIES["approx_distinct_users"].builder(spark, SF))
    assert "partial_approx_count_distinct" in plan, plan[:2000]
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan
    # countDistinct's expand rewrite costs two hash exchanges + the
    # presentation sort: anything beyond that is a plan regression
    assert plan.count("Exchange") <= 3, plan[:2000]


def test_misra_gries_two_stage_no_per_occurrence_shuffle(spark):
    """approx_top_bigrams' Misra-Gries path: stage-1 partial sketches per
    input partition, stage-2 merge on a single partition — exactly two
    MapInPandas operators, NO hash aggregate and NO hashpartitioning
    exchange on raw bigram occurrences (the whole point of the sketch:
    the only data crossing the wire is k counters per partition)."""
    plan = _final_plan(QUERIES["approx_top_bigrams"].builder(spark, SF))
    assert plan.count("MapInPandas") == 2, plan[:2000]
    assert "HashAggregate" not in plan
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    assert "Exchange SinglePartition" in plan  # the tiny k-counter merge


def test_compression_ratio_single_arrow_map_stage(spark):
    """doc_compression_ratio (and its full-fidelity twin) runs zlib in
    ONE Arrow-batched MapInPandas over the scan with no shuffle before
    it — the embarrassingly-parallel shape shared with the multimodal
    decode stage; the only exchange is the presentation orderBy."""
    for name in ("doc_compression_ratio", "doc_compression_ratio_full"):
        plan = _final_plan(QUERIES[name].builder(spark, SF))
        assert plan.count("MapInPandas") == 1, (name, plan[:1500])
        assert "HashAggregate" not in plan and "Join" not in plan
        assert "Exchange hashpartitioning" not in plan, (name, plan[:1500])


def test_sampled_semdedup_assignment_is_broadcast_only(spark):
    """semdedup_prune_sampled: the two-level routing must add ZERO data
    shuffles over the flat pipeline — super/centroid relations broadcast
    onto the corpus, so the only hashpartitioning exchanges in the
    executed plan are the same three the flat pipeline pays (the
    cell-keyed pair join's two sides + the per-victim groupBy); no
    sort-merge join, no cartesian product anywhere. The one
    BroadcastNestedLoopJoin is the standard tiny-anchor broadcast
    (corpus x n_super centroid rows, the `_ivf_assign` shape every IVF
    query uses)."""
    df = QUERIES["semdedup_prune_sampled"].builder(spark, SF)
    df.collect()
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_pq_adc_rerank_broadcasts_codebooks_and_shortlist(spark):
    """pq_adc_rerank_topk, search tail (the part visible past the
    persisted codebook/subvector relations): the LUT join onto the code
    columns and the shortlist/query re-rank joins must all be broadcast
    hash joins — never sort-merge or cartesian — and the corpus-keyed
    exchanges are bounded (the ADC (qid, nid) partial agg plus the
    shared qid window exchange)."""
    df = QUERIES["pq_adc_rerank_topk"].builder(spark, SF)
    df.collect()
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]


def test_pq_lloyd_training_is_broadcast_plus_partial_aggs(spark):
    """One PQ Lloyd ROUND (all M subspaces in ONE (m, vec_id, sv)
    frame), pinned pre-checkpoint since `_pq_lloyd` now truncates each
    round's plan: codeword assignment is a map-side fold over the
    broadcast per-subspace codeword map — the corpus frame never
    exchanges and never enters a window (the r11 shape paid an
    n x M x K row_number exchange per round) — and the per-(m, cid)
    centroid means partial-aggregate map-side into the single
    (m, cid)-keyed exchange (the `kmeans_train` contract, restated for
    the fused multi-subspace frame)."""
    from pyspark.sql import functions as F
    from transit_feed_etl_spark.io import table_par
    from transit_feed_etl_spark.operators import vectors as V
    import transit_feed_etl_spark.queries.similarity as S

    # the registered query persists subs with an IDENTICAL logical
    # plan; Spark's cache manager would substitute it here and collapse
    # the assignment plan to an InMemoryTableScan (observed as a
    # test-order dependency) — clear first so the TRAINING plan is what
    # gets pinned
    spark.catalog.clearCache()
    v = table_par(spark, SF, "embeddings").select(
        "vec_id", V.as_double("embedding").alias("v")
    )
    subs = S._pq_subvectors(v)
    cent = subs.filter(F.col("vec_id") < S._PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    asg = S._pq_nearest_code(subs, S._pq_cand_map(cent), keep=("sv",)).select(
        "m", F.col("code").alias("cid"), "sv"
    )
    new_cv = asg.groupBy("m", "cid").agg(
        F.count(F.lit(1)).alias("cnt"),
        *[
            F.sum(F.element_at("sv", i).cast("decimal(25,15)")).alias(f"s{i}")
            for i in range(1, S._PQ_DSUB + 1)
        ],
    )
    new_cv.collect()
    plan = new_cv._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # no window argmin anywhere: assignment is the fold
    assert "Window" not in plan, plan[:2000]
    # the only broadcast is the one-row codeword map (a tiny-anchor
    # nested loop, the `_assign1` shape)
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan[:2000]
    # ONE corpus-side hash exchange: the (m, cid)-keyed means, fed by
    # map-side partial sums (the broadcast build side of the codeword
    # map carries its own tiny groupBy("m") exchange)
    assert "partial_sum" in plan
    corpus_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "cid" in ln
    ]
    assert len(corpus_exchanges) <= 1, plan[:2000]


def test_url_canonical_dedup_single_exchange_scan_stage_canon(spark):
    """url_canonical_dedup: canonicalization must stay a scan-stage
    string projection — zero joins, and the only corpus exchange is the
    canonical-key groupBy (partial counts map-side), plus the
    presentation sort."""
    df = QUERIES["url_canonical_dedup"].builder(spark, SF)
    df.collect()
    plan = _final_plan(df)
    assert "Join" not in plan
    # two exchanges, both canonical-keyed: Spark's count-distinct
    # rewrite shuffles (canonical, url) pairs first, then the
    # canonical-keyed final agg — no third exchange, no raw-text keys
    assert plan.count("Exchange hashpartitioning") == 2, plan[:1500]
    assert "partial_count" in plan or "partial_min" in plan, plan[:1500]
    # doc_id filter pushed to the parquet scan, which reads ONLY doc_id
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,400)]" in plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_html_boilerplate_extract_map_only(spark):
    """The crawl decode stage is pure map, like pii_redaction: the whole
    shell-build -> block-drop -> main/body extract -> tag-strip ->
    entity-decode -> WS-collapse pipeline runs in the scan stage with
    ZERO hash exchanges; the presentation orderBy's range exchange is
    the only data movement."""
    plan = _final_plan(QUERIES["html_boilerplate_extract"].builder(spark, SF))
    assert plan.count("hashpartitioning") == 0, plan


def test_bigram_logprob_broadcasts_model_single_regroup(spark):
    """The bigram LM join must reach the pair stream via broadcast
    (model is vocab²-bounded << corpus); the only corpus-width hash
    exchange in the final plan is the per-doc regroup — the model-side
    count exchanges live in the broadcast subtree."""
    plan = _final_plan(QUERIES["doc_bigram_logprob"].builder(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_line_dedup_broadcast_flags_single_regroup(spark):
    """The >= K boilerplate set is broadcast back as a LEFT join (the
    corpus never shuffles to learn its flags); the one corpus-width
    exchange is the per-doc cleaned-text regroup. The frequency pass's
    exchanges key on md5 digests inside the broadcast/cached subtrees
    (width measured by tools/exchange_audit.py)."""
    plan = _final_plan(QUERIES["line_dedup_across_docs"].builder(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan


def test_domain_stats_two_exchanges_scalar_broadcast(spark):
    """Domain extraction is scan-stage; the countDistinct(host) rewrite
    gives exactly TWO domain-keyed exchanges; the corpus total reaches
    the aggregate as a single-row broadcast (nested-loop on one row),
    never a second corpus pass."""
    plan = _final_plan(QUERIES["domain_doc_stats"].builder(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2, plan[:1500]
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
