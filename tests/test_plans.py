"""Physical-plan assertions — the 100 TB design gates:

- filters reach the parquet scan (PushedFilters)
- column pruning reaches the scan (ReadSchema)
- small dims broadcast (BroadcastHashJoin, no shuffle of the fact side)
- global top-k avoids a full sort (TakeOrderedAndProject)
- per-row signature ops add no exchange
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from als_pyspark_spark.plans.inspect import formatted, plan_of
from als_pyspark_spark.registry import load_all_queries
from als_pyspark_spark.runner import built
from als_pyspark_spark.sources.tables import load_table

QUERIES = load_all_queries()
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def lazy_plan(spark, sf_dir, name, render=plan_of) -> str:
    """``render`` of the lazy plan a query's build returns; the runner
    releases the caches the build persisted."""
    with built(spark, QUERIES[name], sf_dir) as df:
        return render(df)


def _recording(probe, shapes: dict):
    """``probe`` for :func:`fixpoint` that first records, per round, the
    (plan, exchange count, join kinds) of the round's table, then returns
    ``probe``'s DataFrame."""
    from als_pyspark_spark.plans.inspect import exchange_count, join_kinds

    def recording(rnd, cur, prev):
        shapes[rnd] = (plan_of(cur), exchange_count(cur), tuple(sorted(join_kinds(cur))))
        return probe(rnd, cur, prev)

    return recording


def test_q6_pushes_filters_to_scan(spark, sf_dir):
    df = QUERIES["q6_forecast_revenue"].build(spark, sf_dir)
    plan = formatted(df)
    assert "PushedFilters:" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(
            col in line for line in plan.splitlines() if "PushedFilters" in line
        ), f"{col} not pushed: {plan}"


def test_q6_prunes_columns(spark, sf_dir):
    plan = formatted(QUERIES["q6_forecast_revenue"].build(spark, sf_dir))
    read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_lines, plan
    # only the 4 needed columns of 11 are read
    assert "l_extendedprice" in read_lines[0]
    assert "l_returnflag" not in read_lines[0]
    assert "l_orderkey" not in read_lines[0]


def test_broadcast_join_used_for_nation(spark, sf_dir):
    plan = plan_of(QUERIES["q_broadcast_nation_rollup"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_global_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["q_global_top25_lineitems"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_signatures_add_no_shuffle(spark, sf_dir):
    from als_pyspark_spark.functions.hashing import minhash_signature, simhash64
    from als_pyspark_spark.functions.text import tokens, word_ngrams

    d = load_table(spark, sf_dir, "documents")
    df = d.select(
        "doc_id",
        simhash64(tokens(F.col("text"))).alias("sh"),
        minhash_signature(word_ngrams(tokens(F.col("text")), 3), 16).alias("sig"),
    )
    assert "Exchange" not in plan_of(df), "signature computation must not shuffle"


def test_whole_stage_codegen_in_q1(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"].build(spark, sf_dir)
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark WholeStageCodegen stages in the plan string
    assert "*(" in plan


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_q19_disjunction_pushed_to_both_scans(spark, sf_dir):
    plan = formatted(QUERIES["q19_disjunctive_revenue"].build(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "Or(" in l]
    assert len(pushed) >= 2, f"OR-of-ANDs should push to lineitem AND part scans: {plan}"


def test_semi_join_for_exists(spark, sf_dir):
    plan = plan_of(QUERIES["q4_exists_returned_orders"].build(spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_anti_join_for_not_in(spark, sf_dir):
    plan = plan_of(QUERIES["q_notin_excluded_suppliers"].build(spark, sf_dir))
    assert "LeftAnti" in plan, plan


def test_grouping_sets_single_expand(spark, sf_dir):
    plan = plan_of(QUERIES["q_grouping_sets_orders"].build(spark, sf_dir))
    assert plan.count("Expand") >= 1, plan
    # one scan of orders, not one per grouping set
    assert plan.count("orders.parquet") <= 1 or plan.count("Scan parquet") <= 1, plan


def test_range_join_keeps_equality_key(spark, sf_dir):
    # The user_id equality must be a join KEY (bounding the shuffle), with
    # the time band as a post-join condition — not a pure theta join.
    plan = plan_of(QUERIES["q_range_join_purchase_context"].build(spark, sf_dir))
    assert "Nested" not in plan, f"range join degraded to nested loop: {plan}"


def test_approx_percentile_within_bounds(spark, sf_dir):
    exact = {
        r.l_returnflag: r.m
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice, 0.5)").alias("m"))
        .collect()
    }
    approx = {
        r.l_returnflag: r.approx_median
        for r in QUERIES["q_approx_percentile_sketch"].build(spark, sf_dir).collect()
    }
    for flag, m in exact.items():
        assert abs(approx[flag] - m) / m < 0.10, f"{flag}: approx {approx[flag]} vs exact {m}"


def test_bucketed_join_no_shuffle(spark, sf_dir):
    df = QUERIES["q_bucketed_colocated_join"].build(spark, sf_dir)
    plan = plan_of(df)
    # the join itself must not re-shuffle either bucketed side: the only
    # Exchange allowed is the one under the final groupBy aggregate
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan


def test_bucketed_tables_live_in_session_scratch(spark, sf_dir):
    """The bucketed copies are written under a per-application scratch
    path, so two concurrent processes never overwrite each other's
    tables."""
    QUERIES["q_bucketed_colocated_join"].build(spark, sf_dir)
    app_id = spark.sparkContext.applicationId
    for table in ("bkt_lineitem", "bkt_orders"):
        location = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
            .filter("col_name = 'Location'")
            .first()
            .data_type
        )
        assert app_id in location, (table, location)


def test_approx_count_distinct_within_bounds(spark, sf_dir):
    exact = {
        r.l_returnflag: r.d
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("d"))
        .collect()
    }
    approx = {
        r.l_returnflag: r.d
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.05).alias("d"))
        .collect()
    }
    for flag, d in exact.items():
        assert abs(approx[flag] - d) / d < 0.15, f"{flag}: approx {approx[flag]} vs exact {d}"


def test_aqe_splits_skewed_join_partition(spark, sf_dir):
    """AQE skew-join must actually fire on a skewed shuffle join — the
    runtime mitigation the 100 TB skew story leans on (PERF.md). We build a
    join where one key carries ~99% of the probe rows, lower the AQE skew
    thresholds to test-data scale, force a sort-merge join, and assert the
    final adaptive plan marks the join skew=true."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # keep AQE from collapsing everything into one pre-join partition
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        skewed = spark.range(0, 200_000).select(
            F.when(F.col("id") % 100 == 0, F.col("id")).otherwise(F.lit(0)).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(0, 2_000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        joined = skewed.join(dim, "k").groupBy("v").count()
        joined.collect()
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "skew=true" in plan, f"AQE did not split the skewed partition: {plan}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_shuffle_order_no_single_partition_exchange(spark, sf_dir):
    """The global-position assignment must never funnel the corpus through
    one partition: no SinglePartition exchange anywhere in the plan (a
    partitionBy-less window plans exactly that)."""
    plan = plan_of(QUERIES["q_shuffle_order"].build(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    # the corpus-side window is hash-partitioned on the bucket key
    assert "hashpartitioning(bucket" in plan, plan


def test_vocab_top_is_take_ordered(spark, sf_dir):
    """Top-500 selection must be TakeOrderedAndProject (per-partition top-k)
    BEFORE any id-assignment window — the only window allowed is over the
    500-row survivor set."""
    df = QUERIES["q_vocab_top"].build(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_partitioned_sink_prunes_partitions(spark, sf_dir):
    # build the partitioned layout, then prove a filtered read-back scans
    # only the matching partition directory (PartitionFilters, not a full
    # scan + post-filter)
    QUERIES["q_sink_partitioned_parquet"].build(spark, sf_dir).collect()
    # same applicationId-scoped path the query wrote to (the unsuffixed
    # pre-r4 path only worked while a stale directory lingered on disk)
    from als_pyspark_spark.sources.sinks import app_scratch

    out = app_scratch(spark, "sink_partitioned_parquet")
    back = spark.read.parquet(out).where(F.col("l_returnflag") == "R")
    plan = formatted(back)
    assert "PartitionFilters" in plan
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("l_returnflag" in l for l in pf_lines), plan


def test_bm25_single_stats_agg_and_take_ordered(spark, sf_dir):
    """BM25 must compute corpus stats in ONE broadcast aggregate and pick
    its top-k via TakeOrderedAndProject — never a global sort or a second
    pass over the corpus."""
    plan = plan_of(QUERIES["q_bm25_retrieval"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    # no global Sort anywhere: top-k is TakeOrdered, and the only allowed
    # single-partition exchange is the 1-row corpus-stats aggregate
    assert "Sort " not in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_pack_sequences_window_is_shard_partitioned(spark, sf_dir):
    """The packing cumsum must run per shard (256-way), never as a global
    single-partition window."""
    plan = plan_of(QUERIES["q_pack_sequences"].build(spark, sf_dir))
    assert "hashpartitioning(shard" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_cluster_assign_broadcasts_centroids(spark, sf_dir):
    """Centroid routing must broadcast the seed table; the corpus side must
    not shuffle before assignment (the only exchange is the per-vector
    argmin window keyed by vec_id)."""
    plan = plan_of(QUERIES["q_semantic_cluster_assign"].build(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_rolling_90d_single_partition_free(spark, sf_dir):
    """The event-time RANGE window exchanges once on the customer key —
    never a single-partition window."""
    plan = plan_of(QUERIES["q_window_rolling_90d_spend"].build(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_null_safe_join_is_broadcast_hash(spark, sf_dir):
    """<=> must plan as an equi hash join (broadcastable), not a nested
    loop over the null-wrapped key."""
    plan = plan_of(QUERIES["q_null_safe_join"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_calendar_spine_broadcasts(spark, sf_dir):
    plan = plan_of(QUERIES["q_month_calendar_orders"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_maxby_is_single_aggregate_pass(spark, sf_dir):
    """max_by must be one partial+final aggregate — no join, no window."""
    plan = plan_of(QUERIES["q_maxby_top_order_per_customer"].build(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_bitmap_distinct_partial_aggregates(spark, sf_dir):
    """The bitmap path is two hash aggregates (bucket build, popcount
    merge) — the mergeable-partials shape, not an expand-based distinct."""
    plan = plan_of(QUERIES["q_bitmap_distinct_users"].build(spark, sf_dir))
    assert "HashAggregate" in plan, plan
    assert "Expand" not in plan, plan


def test_repetition_family_scan_prunes_text_only(spark, sf_dir):
    """Repetition metrics read only (doc_id, text) from the corpus."""
    plan = formatted(QUERIES["q_repetition_metrics"].build(spark, sf_dir))
    read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_lines, plan
    assert "text" in read_lines[0]
    assert "lang" not in read_lines[0]
    assert "source" not in read_lines[0]


def test_bloom_dedup_all_broadcast_no_crossjoin(spark, sf_dir):
    """The Bloom prefilter must plan as broadcast hash joins (bit-set ≤
    2^17 rows, per-source tallies tiny) — never a sort-merge shuffle of
    the probe side or a cartesian product."""
    plan = plan_of(QUERIES["q_bloom_incremental_dedup"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_upsert_changes_broadcast(spark, sf_dir):
    """MERGE application: the change batch (≪ snapshot) broadcasts for
    both the delete anti join and the update left join; the snapshot side
    is never shuffled for the merge itself."""
    plan = plan_of(QUERIES["q_upsert_snapshot"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sorted_layout_readback_pushes_date_filter(spark, sf_dir):
    """The whole point of the sorted layout: the date predicate must reach
    the parquet scan of the REWRITTEN files (PushedFilters on l_shipdate),
    where tight min/max stats turn it into row-group skipping."""
    plan = formatted(QUERIES["q_sink_sorted_layout"].build(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed), plan


def test_leakage_safe_split_single_content_shuffle(spark, sf_dir):
    """Census + leak witness: the one heavy operation is the content-hash
    aggregation; the witness joins back as a broadcast of a single row,
    so no nested-loop over the corpus."""
    plan = plan_of(QUERIES["q_leakage_safe_split"].build(spark, sf_dir))
    assert "SortMergeJoin" not in plan


def test_approx_topk_semi_filters_before_witness_join(spark, sf_dir):
    """The exact token dictionary (huge at scale) must be reduced by a
    broadcast semi join on the 20 sketch tokens before the witness outer
    join — the full dictionary is never broadcast or sort-merge-joined."""
    plan = plan_of(QUERIES["q_approx_topk_tokens"].build(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_windows_partition_by_key(spark, sf_dir):
    """SCD2 change detection: every window partitions by the dimension
    key — no SinglePartition exchange anywhere in the plan."""
    plan = plan_of(QUERIES["q_scd2_customer_history"].build(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(c_custkey" in plan, plan


def test_zscore_moments_broadcast_no_window(spark, sf_dir):
    """Exact z-score: the 5-row moment table broadcasts back onto the fact
    scan — two aggregates + a broadcast join, zero windows, zero
    SinglePartition exchanges."""
    plan = plan_of(QUERIES["q_zscore_outlier_orders"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_winsorize_thresholds_broadcast(spark, sf_dir):
    """Winsorization: ranking windows partition by brand; the per-brand
    threshold table joins back as a broadcast, never sort-merge."""
    plan = plan_of(QUERIES["q_winsorize_prices"].build(spark, sf_dir))
    assert "hashpartitioning(p_brand" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_pareto_window_partitions_by_brand(spark, sf_dir):
    """ABC classification: the cumulative-revenue window runs over the
    AGGREGATED part rows partitioned by brand — never over the fact table
    and never in a single partition."""
    plan = plan_of(QUERIES["q_pareto_abc_parts"].build(spark, sf_dir))
    assert "hashpartitioning(p_brand" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_inverted_index_topk_is_take_ordered(spark, sf_dir):
    """Inverted index: the top-50 head is TakeOrderedAndProject
    (per-partition top-k), not a global sort."""
    plan = plan_of(QUERIES["q_inverted_index_tokens"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_ohlc_windows_partition_by_bucket(spark, sf_dir):
    """OHLC bars: both rank windows partition by (event_type, hour
    bucket) — bounded per-bucket state, no SinglePartition."""
    plan = plan_of(QUERIES["q_ohlc_hourly_bars"].build(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(event_type" in plan, plan


def test_pagerank_topk_take_ordered_no_cartesian(spark, sf_dir):
    """PageRank: three unrolled join+agg iterations must stay keyed hash
    operations (no cartesian anywhere) and the final top-25 must be
    TakeOrderedAndProject, not a global sort."""
    plan = lazy_plan(spark, sf_dir, "q_pagerank_copurchase")
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_bpe_pairs_explode_over_words_take_ordered(spark, sf_dir):
    """BPE pair counts: the pair explode must run over the aggregated
    word table (an Expand/Generate above a HashAggregate), and top-30 is
    TakeOrdered."""
    plan = plan_of(QUERIES["q_bpe_pair_counts"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Generate explode" in plan, plan


def test_skew_diagnostics_broadcasts_total(spark, sf_dir):
    """Skew report: the single-row total joins as a broadcast; the key
    counts are never sort-merge-joined or globally sorted."""
    plan = plan_of(QUERIES["q_skew_diagnostics"].build(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_quantize_int8_no_shuffle(spark, sf_dir):
    """int8 quantization is per-row HOF math — the plan must contain no
    Exchange at all (pipeline-parallel with the scan)."""
    plan = plan_of(QUERIES["q_embedding_quantize_int8"].build(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_streak_islands_windows_partition_by_customer(spark, sf_dir):
    """Gaps-and-islands: the row_number window partitions by customer
    AFTER the distinct collapse — no SinglePartition exchange."""
    plan = plan_of(QUERIES["q_activity_streak_islands"].build(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(o_custkey" in plan, plan


def test_constraint_checks_anti_join_broadcast(spark, sf_dir):
    """Referential integrity runs as a broadcast LEFT ANTI of the
    dimension key set; nothing in the suite sort-merges."""
    plan = plan_of(QUERIES["q_constraint_checks"].build(spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_cdc_compaction_window_partitions_by_key(spark, sf_dir):
    """CDC last-writer-wins: the compaction window partitions by the
    change key; the apply join never degrades to a cartesian."""
    plan = plan_of(QUERIES["q_cdc_last_writer_wins"].build(spark, sf_dir))
    assert "hashpartitioning(o_orderkey" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ols_trend_broadcasts_dims(spark, sf_dir):
    """OLS trend: customer and nation join as broadcasts onto the fact
    scan; the moment rollup is the only shuffle chain."""
    plan = plan_of(QUERIES["q_revenue_trend_ols"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_scd2_pit_join_keeps_equality_key(spark, sf_dir):
    """Point-in-time lookup: the custkey equality must be the join KEY
    (interval containment as residual condition) — never a nested-loop
    theta join of facts x history."""
    plan = plan_of(QUERIES["q_scd2_point_in_time"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_transition_matrix_window_partitions_by_user(spark, sf_dir):
    """Markov transitions: the LAG window partitions by user; the pair
    rollup is partial+final — no SinglePartition anywhere."""
    plan = plan_of(QUERIES["q_event_transition_matrix"].build(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_table_checksum_single_aggregate_no_sort(spark, sf_dir):
    """Anti-entropy checksum: row hashing fuses into the scan and the
    combine is one partial+final aggregate — no Sort, no Window, and the
    only exchange is the 1-row final combine."""
    plan = plan_of(QUERIES["q_table_checksum"].build(spark, sf_dir))
    assert "Sort " not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_weighted_sampling_no_shuffle_before_rollup(spark, sf_dir):
    """Weighted sampling: hash + compare fuse into the scan; the only
    exchange is the per-source rollup."""
    plan = plan_of(QUERIES["q_weighted_sampling"].build(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_incremental_merge_prunes_delta_scan(spark, sf_dir):
    """Incremental maintenance: the delta side's date cut must reach the
    parquet scan as a pushed filter (partition pruning at scale)."""
    plan = formatted(QUERIES["q_incremental_agg_merge"].build(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l for l in pushed), plan


def test_latency_bands_window_partitions_by_bucket(spark, sf_dir):
    """Percentile bands: the rank window partitions by the hour bucket —
    no SinglePartition, no global sort."""
    plan = plan_of(QUERIES["q_latency_percentile_bands"].build(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(bh" in plan, plan


def test_market_basket_joins_on_order_key(spark, sf_dir):
    """Co-occurrence pairs: the self-join must key on the order (bounded
    fan-out), never degrade to a nested loop, and pick top-20 via
    TakeOrdered."""
    plan = plan_of(QUERIES["q_market_basket_pairs"].build(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_multitouch_keeps_user_equality_key(spark, sf_dir):
    """Attribution: the user equality must be the join KEY with the time
    band residual; credit windows partition by purchase id."""
    plan = plan_of(QUERIES["q_multitouch_attribution"].build(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "Nested" not in plan, plan
    assert "hashpartitioning(p_id" in plan, plan


def test_ab_test_single_user_collapse(spark, sf_dir):
    """Experiment readout: the only fact-sized operation is the per-user
    conversion collapse (hash aggregate) — no windows, no joins beyond
    the single-row pivot."""
    plan = plan_of(QUERIES["q_ab_test_analysis"].build(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_recency_decay_anchor_broadcast_no_window(spark, sf_dir):
    """Decay scoring: the MAX(ts) anchor joins as a broadcast of one row;
    no Window over the fact table."""
    plan = plan_of(QUERIES["q_recency_weighted_engagement"].build(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_benford_total_broadcast(spark, sf_dir):
    """Benford profile: digit counts roll up once; the total joins back
    as a broadcast; output is digit-bounded."""
    plan = plan_of(QUERIES["q_benford_digit_profile"].build(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan


def test_bigram_lm_unigram_broadcast_take_ordered(spark, sf_dir):
    """LM counts: the unigram denominator joins as a broadcast; top-30
    is TakeOrdered."""
    plan = plan_of(QUERIES["q_bigram_lm_counts"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_vocab_overlap_joins_on_token(spark, sf_dir):
    """Source similarity: the intersect join keys on the token (never
    cartesian over sources x sources x vocab)."""
    plan = plan_of(QUERIES["q_source_vocab_overlap"].build(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_gapfill_locf_window_partitions_by_type(spark, sf_dir):
    """Gap-fill: the LOCF window partitions by event_type over the
    (type × day) grid; the only SinglePartition exchange is the 1-row
    min/max calendar-bounds aggregate, and the grid cross-join broadcasts
    (both sides dimension-sized by construction)."""
    plan = plan_of(QUERIES["q_gapfill_locf_daily"].build(spark, sf_dir))
    assert "hashpartitioning(event_type" in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_max_concurrent_in_day_window_partitions_by_day(spark, sf_dir):
    """Sweep-line concurrency: phase 1's running sum partitions BY DAY
    (parallel), so the only SinglePartition window is the day-grain carry
    — the two-phase prefix-sum contract."""
    plan = plan_of(QUERIES["q_max_concurrent_sessions"].build(spark, sf_dir))
    assert "hashpartitioning(day" in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_cumulative_distinct_no_expanding_window(spark, sf_dir):
    """Cumulative distinct: both heavy aggregates hash-partition; the only
    ordered window runs over the day grain (≤1 SinglePartition)."""
    plan = plan_of(QUERIES["q_cumulative_distinct_users"].build(spark, sf_dir))
    assert "hashpartitioning(day" in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_triangle_count_hash_joins_and_take_ordered(spark, sf_dir):
    """Triangles: wedge + closure joins stay keyed hash/sort-merge joins
    (never a nested loop over edge pairs); top-20 is TakeOrdered; no
    global sort or SinglePartition anywhere."""
    plan = lazy_plan(spark, sf_dir, "q_triangle_count_parts")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_equidepth_deciles_bounded_windows(spark, sf_dir):
    """Global exact deciles, phase-3 plan (phases 1-2 end in a bounded
    ≤9-row collect): rows filter to the hit buckets map-side, the rank
    window partitions by bucket, the 9-row target table broadcasts — and
    no SinglePartition exchange survives into the returned plan."""
    plan = lazy_plan(spark, sf_dir, "q_equidepth_deciles")
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(b" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_rolling_distinct_broadcasts_calendar(spark, sf_dir):
    """Rolling 7-day distinct: the range join broadcasts the DAY side
    (calendar-bounded), the fact side collapses to (day,user) grain
    first; no SinglePartition anywhere."""
    plan = plan_of(QUERIES["q_rolling_7d_distinct_users"].build(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_bfs_rounds_are_keyed_joins(spark, sf_dir):
    """BFS: every round is a keyed hash/merge join + hash aggregate —
    no cartesian/nested-loop expansion, no global sort."""
    plan = lazy_plan(spark, sf_dir, "q_bfs_part_distances")
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_hash_featurizers_single_rollup(spark, sf_dir):
    """k-fold and feature hashing: fit-free per-row expressions into one
    partial-aggregated rollup — exactly one shuffle each, no sort, no
    join."""
    for name in ("q_kfold_assignment", "q_feature_hashing"):
        plan = plan_of(QUERIES[name].build(spark, sf_dir))
        assert plan.count("Exchange") <= 1, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "SinglePartition" not in plan, (name, plan)


def test_incremental_join_maintenance_delta_sided_joins(spark, sf_dir):
    """Delta-join view maintenance: all four (old/delta × old/delta)
    joins must stay keyed hash/merge equi-joins (no cartesian anywhere —
    a cross term that degenerated to a nested loop would be O(|O|·|L|)),
    the date cut must reach both parquet scans as a pushed filter, and
    the month rollups must be partial+final hash aggregates."""
    plan = plan_of(QUERIES["q_incremental_join_maintenance"].build(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashAggregate" in plan, plan
    fmt = formatted(QUERIES["q_incremental_join_maintenance"].build(spark, sf_dir))
    pushed = [l for l in fmt.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l for l in pushed), fmt
    assert any("l_shipdate" in l for l in pushed), fmt


def test_k_anonymity_level0_is_keyed_aggregate(spark, sf_dir):
    """K-anonymity ladder: level 0 must be a partial+final hash aggregate
    on the quasi-identifier key (the only table-sized pass); the ladder
    re-aggregations touch group-grain rows only. The single final
    catch-all aggregate is the one legitimate global agg — bounded by
    the QI domain, not the table — so the assertion here is on the
    keyed level-0 exchange, not a blanket no-SinglePartition."""
    plan = plan_of(QUERIES["q_k_anonymity_generalize"].build(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(nation" in plan or "hashpartitioning(c_nationkey" in plan, plan
    assert "HashAggregate" in plan, plan


def test_rerank_two_stage_broadcasts_and_avoids_smj(spark, sf_dir):
    """Shape gate: both rerank stages must broadcast their small
    side (stage-1 query vectors against the bucketed corpus; stage-2
    shortlist + query vectors against the embedding table) — a
    SortMergeJoin anywhere means the corpus got sorted for a
    shortlist-sized probe."""
    plan = lazy_plan(spark, sf_dir, "q_rerank_two_stage_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rerank_stage2_reads_only_needed_columns(spark, sf_dir):
    """The stage-2 re-fetch joins the embedding table by id; the scan must
    prune to (vec_id, embedding) — dragging label or other columns through
    the rerank join would be wasted I/O at every scale."""
    plan = lazy_plan(spark, sf_dir, "q_rerank_two_stage_topk", formatted)
    read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_lines
    assert all("label" not in l for l in read_lines), read_lines


def test_semantic_clusters_pair_join_is_bucket_keyed(spark, sf_dir):
    """The semantic dedup edge join must be an equi-join on the LSH bucket
    key (hash-partitioned both sides), never a cartesian/broadcast-nested-
    loop over the corpus — the all-pairs trap the LSH blocking exists to
    avoid."""
    from als_pyspark_spark.similarity.queries import (
        _DUP_BLOCKS,
        _DUP_PLANES,
        _with_buckets,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b = _with_buckets(e, _DUP_PLANES, _DUP_BLOCKS)
    a, c = b.alias("a"), b.alias("b")
    pairs = a.join(
        c,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cms_probe_join_is_broadcast_and_topk_is_take_ordered(spark, sf_dir):
    """The CMS probe join must broadcast the 80-row probe set against the
    d×w grid (never sort either side), and the top-20 selection must plan
    as TakeOrderedAndProject (per-partition top-k), not a global sort —
    the two shapes that keep everything downstream of the token-grain
    aggregate corpus-size-independent."""
    plan = plan_of(QUERIES["q_cms_heavy_hitters"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ivfpq_broadcast_only_no_smj(spark, sf_dir):
    """IVF-PQ: same join discipline as IVF — probes and per-query LUTs
    broadcast against the code table; a SortMergeJoin would mean the
    corpus got sorted for a bounded probe."""
    plan = lazy_plan(spark, sf_dir, "q_ann_ivfpq_top10")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_broadcast_only_no_smj(spark, sf_dir):
    """IVF ANN: every join must broadcast its bounded side (centroid
    probes, shortlist, witness) — a SortMergeJoin means the corpus got
    sorted for a query-set-sized probe."""
    plan = lazy_plan(spark, sf_dir, "q_ann_ivf_top10")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_reservoir_windows_are_salted(spark, sf_dir):
    """The A-ES reservoir's first top-k window must partition by
    (source, salt) — never by source alone in the corpus-sized pass —
    and nothing runs in a single partition."""
    plan = plan_of(QUERIES["q_sample_weighted_reservoir"].build(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(source" in plan and "salt" in plan, plan


def test_consistent_shard_zero_shuffle_probe(spark, sf_dir):
    """The ring probe is in-row: exactly one exchange in the whole plan
    (the final per-shard rollup), no join, no window."""
    plan = plan_of(QUERIES["q_consistent_shard_assignment"].build(spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_label_propagation_keyed_joins_no_window(spark, sf_dir):
    """LPA rounds are keyed hash operations over the persisted edge
    relation: no cartesian product, no window (the argmax is a packed
    max AGGREGATE), and the bounded top-25 is TakeOrderedAndProject."""
    plan = lazy_plan(spark, sf_dir, "q_label_propagation_communities")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_kcore_checkpoint_bounds_lineage(spark, sf_dir, monkeypatch):
    """K-core's round plan references its predecessor THREE times (degree
    + both semi-join filters), so unrolled lineage grows 3^rounds — 120
    exchanges measured at 3 rounds before the fix. The per-round
    checkpoint must truncate each round to a leaf scan: bounded exchange
    count, no window, no cartesian in every round the query's build
    runs."""
    from als_pyspark_spark.operators import graph

    shapes, fixpoint = {}, graph.fixpoint
    monkeypatch.setattr(
        graph, "fixpoint",
        lambda first, step, probe, **kw: fixpoint(first, step, _recording(probe, shapes), **kw),
    )
    with built(spark, QUERIES["q_kcore_peeling"], sf_dir):
        pass
    assert sorted(shapes) == [1, 2, 3], shapes
    for plan, n_exchanges, _ in shapes.values():
        assert "CartesianProduct" not in plan, plan
        assert "Window" not in plan, plan
        assert n_exchanges <= 12, plan


def test_pagerank_converged_constant_plan_across_rounds(spark, sf_dir):
    """The convergence-driven PageRank's whole scaling claim: with a
    reliable checkpoint every 3 rounds, the round plan is rooted at most
    3 rounds above a leaf at ANY iteration count. Pin it by running the
    query's own rounds, with no convergence stop, to round 10: rounds 4,
    7 and 10 (one past each checkpoint boundary) run identical exchange
    counts and identical operator mix — the plan does not grow with the
    round number."""
    from functools import partial

    from als_pyspark_spark.caching import release_deferred
    from als_pyspark_spark.operators.graph import (
        _PRC_CHECKPOINT_EVERY,
        _copurchase_rank_base,
        _pr_round,
        _prc_residual,
        fixpoint,
    )

    shapes = {}
    eo = _copurchase_rank_base(spark, sf_dir)
    try:
        fixpoint(
            _pr_round(eo), partial(_pr_round, eo), _recording(_prc_residual, shapes),
            max_rounds=10, checkpoint_every=_PRC_CHECKPOINT_EVERY,
        )
    finally:
        release_deferred()
    rounds = [shapes[r][1:] for r in (4, 7, 10)]
    assert rounds[0] == rounds[1] == rounds[2], rounds


def _jobs_in_second_build(spark, sf_dir, name) -> int:
    """Spark jobs started by a build of ``name`` once a first build has
    read the parquet schemas."""
    sc = spark.sparkContext

    def build():
        with built(spark, QUERIES[name], sf_dir):
            pass

    build()
    sc.setJobGroup(f"build-{name}", "second build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(f"build-{name}"))


# The bounded queries whose build is their lazy plan, with the jobs of the
# bounded driver phase each may still run (counted at sf0.01): the IVF and
# IVF-PQ quantizer fit and probe routing, BFS's root lookup, and
# equidepth's row count and ≤9-row hit table.
_LAZY_BUILD_JOBS = {
    "q_ann_ivf_top10": 2,
    "q_ann_ivfpq_top10": 2,
    "q_ann_lsh_top10": 0,
    "q_bfs_part_distances": 2,
    "q_boilerplate_ngrams": 0,
    "q_equidepth_deciles": 7,
    "q_label_propagation_communities": 0,
    "q_pagerank_copurchase": 0,
    "q_pipeline_e2e": 0,
    "q_rerank_two_stage_topk": 0,
    "q_triangle_count_parts": 0,
}


@pytest.mark.parametrize("name", sorted(_LAZY_BUILD_JOBS))
def test_bounded_build_runs_only_its_driver_phase(spark, sf_dir, name):
    """A bounded query's build returns its plan unrun: the only jobs it
    starts are its bounded driver phase, never the query itself."""
    jobs = _jobs_in_second_build(spark, sf_dir, name)
    assert jobs <= _LAZY_BUILD_JOBS[name]


def _audit_module():
    """``scripts/explain_audit.py``, imported from its path."""
    import importlib.util

    path = os.path.join(_REPO, "scripts", "explain_audit.py")
    spec = importlib.util.spec_from_file_location("explain_audit", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


# Builds that return the rows their data-dependent driver loop collected:
# their audit line reads the local relation those rows become.
_DRIVER_LOOP = ("q_bpe_train_merges", "q_kcore_peeling", "q_pagerank_converged")


@pytest.mark.parametrize(
    "name", [*sorted(_LAZY_BUILD_JOBS), *_DRIVER_LOOP, "als_implicit_top3"]
)
def test_audit_line_matches_plan_baseline(spark, sf_dir, name):
    """The audit's line for ``name`` is the one scripts/plan_baseline.txt
    holds (an sf0.001 snapshot), so a plan change on these queries, or a
    baseline left stale, fails here."""
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip("plan_baseline.txt is an sf0.001 snapshot")
    with open(os.path.join(_REPO, "scripts", "plan_baseline.txt")) as f:
        baseline = {line.split()[0]: line.rstrip("\n") for line in f}
    assert _audit_module().audit_line(spark, QUERIES[name], sf_dir) == baseline[name]


def test_bpe_train_cluster_footprint_is_one_aggregate(spark, sf_dir):
    """The BPE trainer's scaling claim: with merge resolution on the
    driver, the trainer's WHOLE cluster footprint is the one corpus
    collapse to the distinct-word table — a single partial+final count
    aggregate (one exchange), no joins, no per-merge jobs. Merge
    resolution is driver-side over that vocabulary-bounded table and
    never touches the cluster again at any merge count."""
    from als_pyspark_spark.functions.text_queries import _bpe_words0
    from als_pyspark_spark.plans.inspect import exchange_count, join_kinds

    df = _bpe_words0(spark, sf_dir)
    plan = plan_of(df)
    assert exchange_count(df) == 1, plan
    assert join_kinds(df) == [], plan
    assert plan.count("HashAggregate") == 2, plan


def test_pipeline_e2e_single_documents_scan(spark, sf_dir):
    """The composed pipeline's stage-fusion claim: every stage reads the
    ONE persisted corpus projection — there is exactly one distinct
    documents parquet scan definition in the whole composed plan (the
    static text repeats it per cache reader, but a second DISTINCT scan
    line would mean some stage grew its own disjoint corpus scan), the
    plan reuses caches (InMemoryTableScan present), and nothing
    degenerates to a cartesian product."""
    plan = lazy_plan(spark, sf_dir, "q_pipeline_e2e")
    doc_scans = {
        l.strip().lstrip("+-: ")
        for l in plan.splitlines()
        if "Scan parquet" in l and "documents" in l
    }
    assert len(doc_scans) == 1, doc_scans
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


_PYTHON_NODE = re.compile(r"ArrowEvalPython|MapInArrow|MapInPandas|BatchEvalPython")
_EXCHANGE_WIDTH = re.compile(r"Exchange (SinglePartition|hashpartitioning\(.*, (\d+)\))")


@pytest.mark.parametrize(
    "name, sized_by_rows",
    [
        ("q_ann_ivf_top10", True),
        ("q_ann_ivfpq_top10", True),
        ("q_embedding_pca_project", True),
        ("q_ann_lsh_top10", False),
        ("q_embedding_neardup_pairs", False),
        ("q_rerank_two_stage_topk", False),
        ("q_semantic_dedup_clusters", False),
    ],
)
def test_embedding_python_stage_width(spark, sf_dir, monkeypatch, name, sized_by_rows):
    """IVF, IVF-PQ and PCA read their Python node over an exchange one
    partition per Arrow batch of input (session.python_stage_tasks): a
    single partition for the fixture's 500 vectors. The four queries that
    persist an LSH bucket table keep one partition per core, since the JVM
    joins reading that table inherit its width. The bucket frames are read
    as built, since semantic dedup's returned plan starts from its
    components' checkpoint."""
    from als_pyspark_spark.similarity import queries as sim

    if not sf_dir.endswith("sf0.001"):
        pytest.skip("widths pinned for the sf0.001 fixture")
    bucketed = []
    with_buckets = sim._with_buckets

    def recording(*args, **kwargs):
        bucketed.append(with_buckets(*args, **kwargs))
        return bucketed[-1]

    monkeypatch.setattr(sim, "_with_buckets", recording)
    plans = [lazy_plan(spark, sf_dir, name)] + [plan_of(b) for b in bucketed]
    lines = "\n".join(plans).splitlines()
    widths = []
    for i, line in enumerate(lines):
        if _PYTHON_NODE.search(line):
            # a run plan puts a ShuffleQueryStage between the two
            m = _EXCHANGE_WIDTH.search("".join(lines[i + 1 : i + 3]))
            assert m, f"{name}: no exchange under {line.strip()}"
            widths.append(1 if m.group(1) == "SinglePartition" else int(m.group(2)))
    want = 1 if sized_by_rows else spark.sparkContext.defaultParallelism
    assert widths and set(widths) == {want}, (name, widths)
