"""Plan-shape assertions (SURVEY §4.2): the optimizations we rely on at
100 TB must be visible in the physical plan, not assumed."""

from npc_recommender_netflix_spark import registry
from tests.conftest import SF_SMALL


def _plan(spark, key):
    df = registry.QUERIES[key](spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_column_pruning(spark):
    plan = _plan(spark, "s_pruned_scan")
    assert "ReadSchema" in plan
    # only the 2 selected columns reach the scan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read


def test_predicate_pushdown(spark):
    plan = _plan(spark, "s_pushdown_scan")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_broadcast_join_selected(spark):
    assert "BroadcastHashJoin" in _plan(spark, "j_broadcast")


def test_sortmerge_join_selected(spark):
    assert "SortMergeJoin" in _plan(spark, "j_sortmerge")


def test_topk_pushdown(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "o_topk")


def test_window_group_limit(spark):
    # Spark 3.5+ rank<=k rewrite: no full-partition materialization for top-k
    assert "WindowGroupLimit" in _plan(spark, "w_topk_group")


def test_partial_final_aggregation(spark):
    plan = _plan(spark, "a_groupby")
    assert plan.count("HashAggregate") >= 2  # partial + final (MR combiner)


def test_whole_stage_codegen(spark):
    # codegen'd operators carry the "*(n)" stage marker in toString()
    assert "*(1)" in _plan(spark, "fn_math")


def test_bucketed_scan_avoids_shuffle(spark, tmp_path):
    """Aggregating a bucketed table on its bucket key must not shuffle —
    the persisted layout provides the distribution (SCALE.md join story)."""
    import uuid

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    name = "npc_bkt_plan_" + uuid.uuid4().hex[:8]
    try:
        (
            orders.write.mode("overwrite")
            .option("path", str(tmp_path / "t"))
            .bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .saveAsTable(name)
        )
        from pyspark.sql import functions as F

        agg = spark.table(name).groupBy("o_custkey").agg(F.count("*").alias("n"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert agg.count() == orders.select("o_custkey").distinct().count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """Reading one partition of a hive-partitioned layout must show the
    filter as a PartitionFilter (directory pruning), not a data filter."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    path = str(tmp_path / "orders_part")
    orders.write.partitionBy("o_orderstatus").parquet(path)
    one = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters")[1].split("]")[0]
    assert one.count() == orders.where(F.col("o_orderstatus") == "F").count()


def test_ann_ivf_prunes_before_scoring(spark):
    """IVF must filter candidates to the probed cell BELOW the cosine
    projection: the zip_with dot-product Project is an ancestor of the
    BroadcastHashJoin on probe_label, so only in-cell pairs are scored."""
    lines = _plan(spark, "v_ann_ivf").splitlines()
    score = next(i for i, ln in enumerate(lines) if "zip_with" in ln)
    prune = next(
        i
        for i, ln in enumerate(lines)
        if "BroadcastHashJoin" in ln and "probe_label" in ln
    )
    # toString prints root-first, so ancestor == smaller line index
    assert score < prune, "\n".join(lines[:15])


def test_embed_neardup_has_no_driver_collect(spark):
    """v_embed_neardup must be one distributed plan (block-pair
    applyInPandas), not a driver-side collect + broadcast: the plan contains
    the Arrow group-map operator and builds from the parquet scan."""
    plan = _plan(spark, "v_embed_neardup")
    assert "FlatMapGroupsInPandas" in plan
    assert "FileScan parquet" in plan


def test_chunking_is_shuffle_free(spark):
    """Context-window chunking must be a pure map-side explode: no Exchange
    anywhere in the plan (at 100 TB a shuffle here would move the corpus)."""
    assert "Exchange" not in _plan(spark, "t_chunk_docs")


def test_colocated_bucketed_join_has_no_join_shuffle(spark):
    """Both join sides are bucketed+sorted on the join key, so the
    SortMergeJoin consumes the persisted layout: the ONLY shuffle in the
    plan belongs to the final low-cardinality aggregate (an unbucketed
    fact-fact join would add one per side). Auto-broadcast is disabled for
    the assertion — at fixture scale the optimizer rightly prefers
    broadcasting the tiny side, which would hide the bucketed-SMJ path
    this test pins."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "j_bucketed_colocated")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_decontaminate_broadcasts_bench_grams(spark):
    """The benchmark gram set is fixed-size at any corpus scale; the
    contamination check must be a broadcast hash join, not a shuffle."""
    plan = _plan(spark, "t_decontaminate")
    assert "BroadcastHashJoin" in plan


def test_limit_offset_plans_as_global_topk(spark):
    """LIMIT 20 OFFSET 10 over a sort must plan as a global top-(30) pick,
    never a full sort of the table."""
    plan = _plan(spark, "o_limit_offset")
    assert "TakeOrderedAndProject" in plan


def test_minhash_lsh_has_no_allpairs_join(spark):
    """Candidate generation must be the banded equi-join — any nested-loop/
    cartesian operator would mean an O(N^2) all-pairs comparison."""
    plan = _plan(spark, "t_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_and_incremental_dedup_are_equi_joins(spark):
    """SemDeDup's within-cell self-pairs must come from the cell-id hash
    join (cross-cell comparisons would be the N^2 it exists to avoid), and
    incremental dedup must join digests, not text."""
    for key in ("v_semantic_dedup", "t_incremental_dedup"):
        plan = _plan(spark, key)
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_embed_neardup_lsh_candidates_are_equi_join(spark):
    """The LSH prefilter's candidate generation must plan as a hash
    equi-join on (band, bucket) — a cartesian/nested-loop operator would
    mean the prefilter degenerated to the all-pairs scan it exists to
    avoid. The vec_id '<' predicate must ride the equi-join as a
    post-condition, not force a nested loop."""
    plan = _plan(spark, "v_embed_neardup_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dpp_join_prunes_partitions_at_runtime(spark):
    """The partitioned-fact join must carry a dynamicpruning subquery in the
    scan (runtime partition pruning from the broadcast dim), not scan all
    partitions."""
    plan = _plan(spark, "j_dpp_partitioned")
    assert "dynamicpruning" in plan


def test_bloom_runtime_filter_injected_on_probe_side(spark):
    """With broadcast ruled out (the at-scale shape), the selective creation
    side must inject bloom_filter_agg and the probe side must carry
    might_contain before its shuffle. At fixture scale the same query
    correctly broadcasts instead (no bloom needed), hence the conf pin."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "j_bloom_runtime_filter")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan


def test_cached_table_reads_from_memory(spark):
    plan = _plan(spark, "s_cached_table")
    assert "InMemoryTableScan" in plan


def test_hist_bins_partial_final_agg(spark):
    # constant-size histogram state must combine map-side
    assert _plan(spark, "a_hist_bins").count("HashAggregate") >= 2


def test_promo_revenue_pushdown_and_broadcast(spark):
    plan = _plan(spark, "q_promo_revenue")
    assert "BroadcastHashJoin" in plan  # part dim never shuffles lineitem
    assert "PushedFilters: [" in plan and "l_shipdate" in plan


def test_top_supplier_broadcast_max(spark):
    # global max attaches as a broadcast single-row join, not a global window
    plan = _plan(spark, "q_top_supplier")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_sessionize_single_shuffle(spark):
    """lag + running-sum windows and the session rollup must share ONE
    user_id exchange: hashpartitioning(user_id) satisfies the rollup's
    (user_id, sid) clustered distribution."""
    plan = _plan(spark, "w_sessionize")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_winnowing_single_shuffle(spark):
    # window-min and the per-doc rollup share the doc_id exchange
    plan = _plan(spark, "t_winnowing")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pricing_summary_single_agg_pass(spark):
    # Q1: one partial+final agg over the fact, predicate at the scan
    plan = _plan(spark, "q_pricing_summary")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Join" not in plan
    assert "PushedFilters: [" in plan and "l_shipdate" in plan


def test_forecast_revenue_pure_pushdown(spark):
    # Q6: scan-filter-agg, no join, shipdate+quantity reach the scan
    plan = _plan(spark, "q_forecast_revenue")
    assert "Join" not in plan
    assert "LessThan(l_quantity,24.0)" in plan or "l_quantity" in plan
    assert "l_shipdate" in plan and "PushedFilters: [" in plan


def test_volume_shipping_broadcasts_dims(spark):
    # Q7: supplier + both nation copies broadcast; one fact-fact shuffle
    plan = _plan(spark, "q_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 3


def test_customer_distribution_left_join_survives(spark):
    # Q13: the priority predicate must stay in the join condition (left
    # join preserved), not collapse to inner
    plan = _plan(spark, "q_customer_distribution")
    assert "LeftOuter" in plan


def test_discounted_revenue_or_factoring(spark):
    # Q19: one broadcast join; Catalyst factors the OR into a part-side
    # brand/size disjunction below the join and a fact-side quantity
    # disjunction at the lineitem scan (both visible in DataFilters)
    plan = _plan(spark, "q_discounted_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    part_scans = [ln for ln in plan.splitlines()
                  if "FileScan" in ln and "part.parquet" in ln]
    assert part_scans and "p_brand" in part_scans[0]
    li_scans = [ln for ln in plan.splitlines()
                if "FileScan" in ln and "lineitem" in ln]
    assert li_scans and "l_quantity" in li_scans[0]


def test_dormant_customers_anti_join_pruned(spark):
    # Q22: dormancy = left anti against the date-pruned orders scan
    plan = _plan(spark, "q_dormant_customers")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_pack_sequences_single_lang_shuffle(spark):
    # window cumsum + (lang, pack_id) rollup share one lang exchange
    plan = _plan(spark, "t_pack_sequences")
    assert plan.count("Exchange hashpartitioning") <= 1


def test_gopher_quality_no_shuffle(spark):
    # pure codegen projection: no exchange, no UDF
    plan = _plan(spark, "t_gopher_quality")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_int8_quantize_no_shuffle_no_udf(spark):
    plan = _plan(spark, "v_int8_quantize")
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_streaks_single_user_shuffle(spark):
    # distinct + window + two rollups share one user_id exchange
    plan = _plan(spark, "w_streaks")
    assert plan.count("Exchange hashpartitioning") <= 1


def test_domain_mix_broadcasts_rate_table(spark):
    # per-source rate table broadcasts onto the corpus scan
    plan = _plan(spark, "t_domain_mix")
    assert "BroadcastHashJoin" in plan


def test_mode_deterministic_window_group_limit(spark):
    # top-1-per-user rank filter must use the WindowGroupLimit rewrite
    assert "WindowGroupLimit" in _plan(spark, "a_mode_deterministic")


def test_weighted_median_single_flag_exchange(spark):
    # both windows + final rollup cluster on l_returnflag: one hash exchange
    plan = _plan(spark, "a_weighted_median")
    assert plan.count("Exchange hashpartitioning") <= 1


def test_basket_rules_broadcasts_dims(spark):
    plan = _plan(spark, "q_basket_rules")
    assert "BroadcastHashJoin" in plan  # item/order-count tables broadcast


def test_order_priority_semi_join(spark):
    # Q4's EXISTS decorrelates to a semi join, never a count-all
    plan = _plan(spark, "q_order_priority")
    assert "LeftSemi" in plan


def test_market_share_broadcasts_all_dims(spark):
    # part/supplier/nation(x2)/region all attach broadcast
    plan = _plan(spark, "q_market_share")
    assert plan.count("BroadcastHashJoin") >= 4


def test_waiting_suppliers_bounded_shuffles(spark):
    # join + (order,supp) agg + order window reuse orderkey partitioning;
    # supplier attaches broadcast
    plan = _plan(spark, "q_waiting_suppliers")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_ndcg_broadcasts_candidate_pool(spark):
    # top-20 pool crosses users via broadcast, never a shuffled cross join
    plan = _plan(spark, "r_ndcg")
    assert "BroadcastNestedLoopJoin" in plan


def test_quality_survivor_single_digest_exchange(spark):
    # both window specs (rank + cluster count) share one digest shuffle
    plan = _plan(spark, "t_quality_survivor")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gap_fill_distributed_spine(spark):
    # date spine explodes per user (Generate), no driver-side calendar
    plan = _plan(spark, "w_gap_fill")
    assert "Generate explode" in plan


def test_matryoshka_recall_jvm_only(spark):
    # both widths' cosines run as JVM array lambdas, queries broadcast
    plan = _plan(spark, "v_matryoshka_recall")
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ccnet_bucket_broadcasts_lm(spark):
    # vocabulary-sized unigram table broadcasts onto the token stream
    plan = _plan(spark, "t_ccnet_bucket")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_entropy_single_user_partitioning(spark):
    # count table joins back to its own rollup on user_id: the join and
    # both aggregates cluster on user_id (no extra full-width shuffle)
    plan = _plan(spark, "a_entropy")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_rolling_zscore_single_window_exchange(spark):
    # one user_id shuffle; all three frame aggregates share one Window exec
    plan = _plan(spark, "w_rolling_zscore")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert plan.count("Window") <= 1


def test_pq_quantize_broadcast_codebook_jvm_only(spark):
    # 16-row codebook broadcasts; distances are JVM array lambdas
    plan = _plan(spark, "v_pq_quantize")
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_covisitation_topk_pushdown(spark):
    # final top-50 must be a per-partition heap, not a global sort
    plan = _plan(spark, "r_covisitation")
    assert "TakeOrderedAndProject" in plan


def test_asof_nearest_single_exchange(spark):
    # both direction frames share one user_id sort/partitioning
    plan = _plan(spark, "j_asof_nearest")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert plan.count("Window") <= 1


def test_ewma_jvm_fold_single_window(spark):
    # weight fold is a JVM array lambda over one collect_list window
    plan = _plan(spark, "w_ewma")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_order_gaps_window_and_agg_share_custkey(spark):
    # lag window + rollup cluster on o_custkey: one exchange
    plan = _plan(spark, "q_order_gaps")
    assert plan.count("Exchange hashpartitioning") <= 1


def test_user_cosine_pairs_key_on_item(spark):
    # user pairs generate via the shared-item equi-join, never a cross join
    plan = _plan(spark, "r_user_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ks_drift_window_over_aggregated_axis(spark):
    # the global CDF window runs over the distinct-cents axis, after the
    # counting aggregate — a single-partition window over bounded rows
    plan = _plan(spark, "a_ks_drift")
    assert plan.index("Window") < plan.index("FileScan") or "HashAggregate" in plan[:plan.index("Window")]


def test_psi_drift_constant_axis_no_shuffle_blowup(spark):
    # fixed 10-bin grid: the bin-count table feeds the totals and the PSI
    # terms; its one exchange prints once per consumer in the plan string
    plan = _plan(spark, "a_psi_drift")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_ffill_single_sort_no_self_join(spark):
    # forward fill = one window pass, not a gap self-join
    plan = _plan(spark, "w_backfill_ffill")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Join" not in plan


def test_ivf_nprobe_prunes_before_scoring(spark):
    """nprobe=2 keeps v_ann_ivf's filter-then-score shape: the zip_with
    cosine Project sits above the probe-label join."""
    lines = _plan(spark, "v_ann_ivf_nprobe").splitlines()
    score = next(i for i, ln in enumerate(lines) if "zip_with" in ln)
    prune = next(
        i for i, ln in enumerate(lines)
        if "BroadcastHashJoin" in ln and "probe_label" in ln
    )
    assert score < prune


def test_benford_constant_axis(spark):
    # digit axis is 9 rows; no Python anywhere
    plan = _plan(spark, "a_benford_fit")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gini_sorts_aggregated_axis_only(spark):
    """The global rank window must consume the per-customer aggregate
    (bounded rows), never the raw orders scan."""
    lines = _plan(spark, "a_gini").splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    agg = next(i for i, ln in enumerate(lines)
               if "HashAggregate" in ln and "o_custkey" in ln)
    # toString prints root-first: the aggregate must sit BELOW the window
    assert agg > win


def test_sentence_split_mapside_until_rollup(spark):
    # sentinel replace + split + explode are map-side; one doc_id shuffle
    plan = _plan(spark, "t_sentence_split")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ohlc_bars_single_exchange(spark):
    # both row_number specs + the bar rollup share (user_id, day): one
    # shuffle, all-JVM expressions
    plan = _plan(spark, "w_ohlc_bars")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ltv_deciles_ranks_aggregated_axis_only(spark):
    """The global ntile window must consume the per-customer spend
    aggregate (bounded rows), never the raw orders scan."""
    lines = _plan(spark, "w_ltv_deciles").splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    agg = next(i for i, ln in enumerate(lines)
               if "HashAggregate" in ln and "o_custkey" in ln)
    assert agg > win  # root-first print: aggregate below the window


def test_cramers_v_windows_over_contingency_cells(spark):
    """Margin windows run over the |types|x7 cell aggregate, not raw
    events; everything stays JVM-side."""
    lines = _plan(spark, "a_cramers_v").splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    agg = next(i for i, ln in enumerate(lines)
               if "HashAggregate" in ln and "event_type" in ln)
    assert agg > win
    plan = "\n".join(lines)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ship_latency_no_cartesian_no_python(spark):
    plan = _plan(spark, "q_ship_latency")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_lm_tables_broadcast_topk_pushdown(spark):
    # vocabulary-bounded LM tables broadcast; top-20 is a heap, not a sort
    plan = _plan(spark, "t_dsir_score")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fertility_no_token_explode(spark):
    # token counts via size(split()) in the projection — no Generate node,
    # one lang shuffle
    plan = _plan(spark, "t_fertility")
    assert "Generate" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_item_jaccard_degrees_broadcast(spark):
    plan = _plan(spark, "r_item_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_dim_variance_single_shuffle(spark):
    # posexplode is map-side; only the 64-group dim aggregate shuffles
    plan = _plan(spark, "v_dim_variance")
    assert "Generate" in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rfm_ranks_aggregated_customer_axis(spark):
    """All three ntile windows consume the per-customer aggregate, never
    raw orders (root-first print: the custkey aggregate sits below)."""
    lines = _plan(spark, "q_rfm_segments").splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    agg = next(i for i, ln in enumerate(lines)
               if "HashAggregate" in ln and "o_custkey" in ln)
    assert agg > win


def test_jackknife_constant_bucket_axis(spark):
    # 10 hash buckets -> totals broadcast; everything JVM-side
    plan = _plan(spark, "a_jackknife_ci")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_yield_curve_digests_only_shuffle(spark):
    """Text is consumed map-side (digest projection under the Generate);
    the distinct-agg shuffles 32-char digests, never bodies."""
    lines = _plan(spark, "t_dedup_yield_curve").splitlines()
    plan = "\n".join(lines)
    assert "Generate" in plan
    # root-first print: the md5 digest Project must sit BELOW every
    # Exchange (computed map-side, before any shuffle)
    digest = next(i for i, ln in enumerate(lines) if "Project" in ln and "md5" in ln)
    assert all(i < digest for i, ln in enumerate(lines) if "Exchange" in ln)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lang_confusion_no_explode_no_python(spark):
    plan = _plan(spark, "t_lang_confusion")
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dau_wau_no_range_join(spark):
    # rolling distinct via pair-explode + equi-joins, never a range join
    plan = _plan(spark, "q_dau_wau")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the 7-anchor explode


def test_new_vs_returning_single_custkey_partitioning(spark):
    # first-month fold + tag join both key on o_custkey
    plan = _plan(spark, "q_new_vs_returning")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_novelty_popularity_broadcast(spark):
    plan = _plan(spark, "r_novelty")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_trigram_profile_broadcast_onto_stream(spark):
    # the |langs|x30 learned profile broadcasts; trigram explode is
    # distributed (Generate), no Python
    plan = _plan(spark, "t_trigram_lid")
    assert "BroadcastHashJoin" in plan
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cohort_ltv_window_over_cohort_age_aggregate(spark):
    """The cumulative window runs over the cohort×age aggregate, below it
    in the root-first print; cohort sizes broadcast."""
    lines = _plan(spark, "q_cohort_ltv").splitlines()
    plan = "\n".join(lines)
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    agg = next(i for i, ln in enumerate(lines)
               if "HashAggregate" in ln and "age_months" in ln)
    assert agg > win
    assert "BroadcastHashJoin" in plan


def test_hamming_topk_all_integer(spark):
    # packing + XOR/popcount: no float ops, no Python, rank-filter top-k
    plan = _plan(spark, "v_hamming_topk")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WindowGroupLimit" in plan  # rank<=10 rewrite


def test_jsd_counts_broadcast_onto_grid(spark):
    plan = _plan(spark, "t_jsd_sources")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hill_threshold_broadcast(spark):
    plan = _plan(spark, "a_hill_tail")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan \
        or "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_triangle_edges_cached_once(spark):
    """The edge frame feeds all three triangle-join scans from one
    materialization, and triangle enumeration is pure equi-join."""
    plan = _plan(spark, "r_triangle_count")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_symspell_no_cross_join(spark):
    """Candidate generation must be the deletion-variant equi-join —
    a cartesian operator would mean the |vocab|² scan SymSpell avoids."""
    plan = _plan(spark, "t_symspell_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # variant explode


def test_event_transitions_window_then_bounded_census(spark):
    """The prob window runs over the |types|² census, below it in the
    root-first print sits only the bounded aggregate."""
    lines = _plan(spark, "q_event_transitions").splitlines()
    # two windows: the lag (over raw events) and the prob normalizer
    # (over the census); the census HashAggregate must sit between them
    wins = [i for i, ln in enumerate(lines) if "Window" in ln]
    agg = next(i for i, ln in enumerate(lines)
               if "HashAggregate" in ln and "prev_type" in ln)
    assert min(wins) < agg  # prob window above the census aggregate


def test_autocorr_integer_sums_single_row(spark):
    plan = _plan(spark, "a_autocorr_daily")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_cogroup_pandas_arrow_operator(spark):
    # the cogrouped map is the Arrow FlatMapCoGroupsInPandas operator
    plan = _plan(spark, "u_cogroup_pandas")
    assert "FlatMapCoGroupsInPandas" in plan


def test_seasonality_windows_over_month_axis(spark):
    lines = _plan(spark, "w_seasonality").splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    agg = next(i for i, ln in enumerate(lines)
               if "HashAggregate" in ln and "cents" in ln)
    assert agg > win  # normalizer window over the 12-row month aggregate


def test_elasticity_fit_broadcast(spark):
    plan = _plan(spark, "q_discount_elasticity")
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_serendipity_pop_set_broadcast(spark):
    plan = _plan(spark, "r_serendipity")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_mann_whitney_window_over_distinct_axis(spark):
    """Rank window runs over the distinct-cents aggregate (a_ks_drift
    rule), never raw events."""
    lines = _plan(spark, "a_mann_whitney").splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    agg = next(i for i, ln in enumerate(lines)
               if "HashAggregate" in ln and "cents" in ln)
    assert agg > win


def test_winsorized_fences_broadcast(spark):
    plan = _plan(spark, "a_winsorized_mean")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_backlog_window_over_daily_axis(spark):
    lines = _plan(spark, "q_running_backlog").splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    agg = next(i for i, ln in enumerate(lines)
               if "HashAggregate" in ln and "delta" in ln)
    assert agg > win  # running sum over the day-bounded aggregate
    assert "Union" in "\n".join(lines)


def test_mips_rank_filter_heap(spark):
    plan = _plan(spark, "v_topk_mips")
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_centroid_matrix_bounded_frames(spark):
    """Pair sums run over the labels×64 centroid axis (below the explode
    aggregate), never raw vectors."""
    plan = _plan(spark, "v_centroid_matrix")
    assert "Generate" in plan  # posexplode
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpr_negative_check_is_anti_join(spark):
    plan = _plan(spark, "r_bpr_triplets")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_supplier_hhi_single_fact_fold(spark):
    # rev + totals reuse one (partkey, suppkey)->partkey agg chain; top-20
    # is a heap
    plan = _plan(spark, "q_supplier_hhi")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_make_datetime_no_shuffle(spark):
    assert "Exchange" not in _plan(spark, "fn_make_datetime")


def test_product_profit_dims_broadcast_one_fact_shuffle(spark):
    """Q9 analog: part/supplier/nation all broadcast; the only SortMerge
    candidate is the lineitem x orders orderkey join."""
    plan = _plan(spark, "q_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_min_cost_supplier_window_group_limit(spark):
    """Q2 analog: per-part min is rn=1 -> WindowGroupLimit; EUROPE
    supplier slice broadcasts into the fact scan."""
    plan = _plan(spark, "q_min_cost_supplier")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_parts_supplier_relation_anti_broadcast(spark):
    """Q16 analog: complaint-supplier exclusion is a broadcast LEFT ANTI;
    distinct count expands but never cartesians."""
    plan = _plan(spark, "q_parts_supplier_relation")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_theil_totals_broadcast_no_sort(spark):
    """Theil: the 1-row totals broadcast back; no global Sort anywhere
    (that's the decomposability selling point vs a_gini's ranked form)."""
    plan = _plan(spark, "a_theil_index")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    lines = [ln for ln in plan.splitlines() if "Sort " in ln or "Sort[" in ln]
    assert not any("global=true" in ln for ln in lines)


def test_cusum_window_over_daily_axis(spark):
    """CUSUM's running sum must run over the (type, day) aggregate —
    the HashAggregate sits below the Window in the plan."""
    lines = _plan(spark, "w_cusum").splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    agg = next(
        i for i, ln in enumerate(lines) if "HashAggregate" in ln and "mean6" in ln
    )
    assert agg > win
    assert "BroadcastHashJoin" in "\n".join(lines)


def test_conversion_lag_single_user_agg_no_self_join(spark):
    """Both firsts come from one conditional-min aggregation — exactly
    one join-free agg chain, no events self-join."""
    plan = _plan(spark, "q_conversion_lag")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_char_entropy_two_exchange_combine_first(spark):
    """Two exchanges by design: the (doc, char) count shuffles with
    map-side combine FIRST (raw exploded chars never cross the wire),
    then the alphabet-bounded counts re-key to doc_id for window +
    rollup. Forcing one doc_id exchange would ship the ~n_chars-x
    explode raw — strictly worse at scale."""
    plan = _plan(spark, "t_char_entropy")
    n_hash_exchanges = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash_exchanges == 2
    assert plan.count("HashAggregate") >= 2  # partial + final on (doc, char)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_wilson_lcb_takeordered_no_python(spark):
    plan = _plan(spark, "r_wilson_lcb")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_adamic_adar_no_cartesian(spark):
    """Pair gen must key on the shared user — a cartesian item x item
    would be the classic scale bug here."""
    plan = _plan(spark, "r_adamic_adar")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rolling_median_window_over_daily_axis(spark):
    lines = _plan(spark, "w_rolling_median").splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    agg = next(
        i for i, ln in enumerate(lines) if "HashAggregate" in ln and "sum6" in ln
    )
    assert agg > win


def test_cohens_d_single_scan_no_join(spark):
    plan = _plan(spark, "a_cohens_d")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_code_detect_zero_shuffle_projection(spark):
    """Pure map + top-k: the only allowed exchange is the TakeOrdered
    driver merge; counts are codegen, never Python."""
    plan = _plan(spark, "t_code_detect")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_popularity_recency_exp_on_bounded_axis(spark):
    """exp() must run above the (item, age) aggregate — the decay axis
    is calendar-bounded, never per fact row (toString is root-first, so
    ancestor == smaller index)."""
    lines = _plan(spark, "r_popularity_recency").splitlines()
    exp_line = next(i for i, ln in enumerate(lines) if "EXP(" in ln)
    bounded_agg = next(
        i
        for i, ln in enumerate(lines)
        if "HashAggregate(keys=[item_id" in ln
        and "age_d" in ln.split("functions=")[0]
    )
    assert exp_line < bounded_agg


def test_log_histogram_partial_final_no_window(spark):
    plan = _plan(spark, "a_log_histogram")
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_abc_ranking_over_part_axis(spark):
    """The cumulative window runs over the per-part aggregate, not raw
    lineitem (HashAggregate below the Window)."""
    lines = _plan(spark, "q_abc_analysis").splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    part_fold = next(
        i for i, ln in enumerate(lines)
        if "HashAggregate(keys=[l_partkey" in ln
    )
    assert part_fold > win


def test_frame_dedup_hashes_after_arrow_extract(spark):
    """Frame extraction is the one Arrow stage; md5 + the census joins
    are JVM-side above it (payloads never shuffle)."""
    plan = _plan(spark, "m_frame_dedup")
    assert "MapInPandas" in plan
    assert "md5" in plan
    assert "CartesianProduct" not in plan


def test_null_safe_eq_plans_as_hash_join(spark):
    """<=> must stay a hash/broadcast join — never the nested loop the
    hand-rolled OR-of-null-checks formulation degrades to."""
    plan = _plan(spark, "j_null_safe_eq")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_count_min_grid_partial_final(spark):
    """The CMS grid build must show partial+final aggregation — that IS
    the distributed sketch merge."""
    plan = _plan(spark, "a_count_min")
    assert plan.count("HashAggregate") >= 4  # grid + top-20, each 2-phase
    assert "CartesianProduct" not in plan


def test_pq_adc_scoring_is_equi_join_on_codes(spark):
    """ADC scoring must join the code table against the broadcast
    distance table on (sub_id, code) — never a cartesian against raw
    embeddings."""
    plan = _plan(spark, "v_pq_adc")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kll_sketch_partial_final_merge(spark):
    """The KLL build must show partial+final aggregation — the sketch
    merges per-partition summaries, never raw rows at the driver."""
    plan = _plan(spark, "a_kll_quantiles")
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan
    assert "CollectLimit" not in plan.split("Aggregate")[0]


def test_theta_sketches_merge_distributed(spark):
    """Both audience sketches build in ONE scan with partial+final
    ObjectHashAggregate (the mergeable-sketch shape)."""
    plan = _plan(spark, "a_theta_set_ops")
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan
    assert plan.count("FileScan") == 1


def test_hist2d_single_agg_no_window(spark):
    plan = _plan(spark, "a_hist2d")
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan and "Join" not in plan


def test_survival_lifetimes_fold_before_spine(spark):
    """The per-user lifetime agg must sit BELOW the day-spine cross
    join (the only fact-sized work is the user fold)."""
    lines = _plan(spark, "q_survival_curve").splitlines()
    cross = next(i for i, ln in enumerate(lines) if "NestedLoopJoin" in ln)
    user_fold = next(
        i for i, ln in enumerate(lines)
        if "HashAggregate(keys=[user_id" in ln
    )
    assert user_fold > cross


def test_hits_is_finite_dag_no_python(spark):
    """Two unrolled HITS iterations = one declarative DAG: hash joins +
    keyed aggs only, no driver loop artifacts, no Python."""
    plan = _plan(spark, "r_hits")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_kfold_is_map_side_hash(spark):
    """Fold assignment must be pure projection math feeding one agg —
    no join, no window, no sample operator."""
    plan = _plan(spark, "t_kfold_split")
    assert "Join" not in plan
    assert "Sample" not in plan
    assert plan.count("HashAggregate") >= 2


def test_pythagorean_means_single_scan(spark):
    plan = _plan(spark, "a_pythagorean_means")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_ratio_ci_user_fold_below_moments(spark):
    """The per-user fold is the only fact-sized aggregate; moments run
    over the user axis above it."""
    lines = _plan(spark, "a_ratio_ci_delta").splitlines()
    user_fold = next(
        i for i, ln in enumerate(lines) if "HashAggregate(keys=[user_id" in ln
    )
    global_agg = next(
        i for i, ln in enumerate(lines)
        if "HashAggregate(keys=[]" in ln
    )
    assert user_fold > global_agg


def test_knn_loo_broadcast_sample_no_cartesian_blowup(spark):
    """The eval-sample side broadcasts; the join is a BNLJ of sample x
    corpus (bounded by the 200-vector cap), never corpus x corpus."""
    plan = _plan(spark, "v_knn_loo_accuracy")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WindowGroupLimit" in plan


def test_variant_zero_shuffle_pushdown(spark):
    plan = _plan(spark, "fn_variant")
    assert "Exchange hashpartitioning" not in plan
    assert "PushedFilters: [" in plan


def test_py_datasource_four_partitions(spark):
    """The custom source must expose its 4 input partitions to the
    scan (distributed read, not a driver collect)."""
    df = registry.QUERIES["u_py_datasource"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # source rows, not a UDF
    # number of partitions of the source scan
    src = spark.read.format("npc_synth_feed").load()
    assert src.rdd.getNumPartitions() == 4


def test_hamming_rerank_exact_touches_candidates_only(spark):
    """Stage-2 cosine must consume the rank-filtered candidate set —
    a WindowGroupLimit below the cosine projection."""
    plan = _plan(spark, "v_hamming_rerank")
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_revenue_retention_folds_before_grid(spark):
    """The (cust, month) revenue fold happens below the spine join;
    the lag window rides the cust clustering."""
    plan = _plan(spark, "q_revenue_retention")
    assert "Window" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_attribution_user_keyed_interval_join(spark):
    """The purchase-touch pairing must be a user-keyed join with the
    interval as a post-condition — never a pure time cross join."""
    plan = _plan(spark, "q_attribution_last_touch")
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan  # rn=1 last-touch pick


def test_did_single_scan_2x2(spark):
    """DiD folds to four cells in one pass; midpoint is a broadcast
    1-row join."""
    plan = _plan(spark, "a_diff_in_diff")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 4  # cells + final, each 2-phase


def test_modality_router_three_arrow_branches_union(spark):
    plan = _plan(spark, "m_modality_router")
    assert plan.count("MapInPandas") == 3
    assert "Union" in plan


def test_cuped_user_fold_only_fact_work(spark):
    lines = _plan(spark, "a_cuped").splitlines()
    user_fold = next(
        i for i, ln in enumerate(lines) if "HashAggregate(keys=[user_id" in ln
    )
    final = next(i for i, ln in enumerate(lines) if "HashAggregate(keys=[]" in ln)
    assert user_fold > final


def test_kmeans_step_broadcast_seeds(spark):
    """Seeds broadcast onto the corpus scan; assignment is a
    rank-filter, component recompute is a keyed agg."""
    plan = _plan(spark, "v_kmeans_step")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_map_lambda_zero_shuffle(spark):
    plan = _plan(spark, "fn_map_lambda")
    assert "Exchange hashpartitioning" not in plan
    assert "Generate" not in plan  # no explode — stays functional


def test_bm25_term_filter_before_tf(spark):
    """The 3-term broadcast join must prune the token stream below the
    (doc, term) aggregate."""
    plan = _plan(spark, "t_bm25_score")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_activity_islands_two_exchange_combine_first(spark):
    """Two exchanges by design: the (user, day) distinct shuffles with
    map-side partial dedup FIRST (raw events never cross the wire),
    then the day-deduped pairs re-key to user_id for the window; the
    island rollup shares that second clustering (t_char_entropy's
    combine-first argument)."""
    lines = _plan(spark, "w_activity_islands").splitlines()
    n_user = sum(1 for ln in lines if "Exchange hashpartitioning(user_id#" in ln
                 and ", d#" not in ln)
    n_pair = sum(1 for ln in lines if "Exchange hashpartitioning(user_id#" in ln
                 and ", d#" in ln)
    assert n_user == 1 and n_pair == 1
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    rollup = next(i for i, ln in enumerate(lines)
                  if "HashAggregate(keys=[user_id" in ln and "anchor" in ln)
    assert rollup < win  # rollup consumes the window's clustering


def test_skyline_window_over_part_axis(spark):
    lines = _plan(spark, "q_skyline_parts").splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window" in ln)
    fold = next(
        i for i, ln in enumerate(lines) if "HashAggregate(keys=[l_partkey" in ln
    )
    assert fold > win


def test_aes_zero_shuffle(spark):
    plan = _plan(spark, "fn_aes_roundtrip")
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_vocab_broadcast_probe(spark):
    """The rank-limited vocab must broadcast back onto the token
    stream (a shuffle join would re-key the whole corpus)."""
    plan = _plan(spark, "t_vocab_coverage")
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan  # rank-limited vocab (global window, no
    # WindowGroupLimit rewrite for unpartitioned specs)


def test_rank_movers_windows_over_brand_month_fold(spark):
    """Both window axes run over the (brand, month) aggregate."""
    lines = _plan(spark, "w_rank_movers").splitlines()
    fold = next(
        i for i, ln in enumerate(lines)
        if "HashAggregate(keys=[brand" in ln or "HashAggregate(keys=[p_brand" in ln
    )
    wins = [i for i, ln in enumerate(lines) if "Window" in ln]
    assert len(wins) >= 2
    assert all(w < fold for w in wins)


def test_arrow_udf_uses_arrow_eval(spark):
    """useArrow=True must plan as ArrowEvalPython, not the pickled
    BatchEvalPython path."""
    plan = _plan(spark, "u_arrow_udf")
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_bridge_pivot_over_brand_year_fold(spark):
    lines = _plan(spark, "q_price_volume_bridge").splitlines()
    fold = next(
        i for i, ln in enumerate(lines)
        if "HashAggregate(keys=[brand" in ln or "HashAggregate(keys=[p_brand" in ln
    )
    top = next(i for i, ln in enumerate(lines) if "TakeOrderedAndProject" in ln)
    assert top < fold


def test_candidate_rerank_pool_broadcast_no_full_scoring(spark):
    """The candidate pool must broadcast; scoring never touches the
    full catalog (no item x item growth)."""
    plan = _plan(spark, "r_candidate_rerank")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan


def test_join_hints_steer_strategy_not_semantics(spark):
    """BROADCAST vs MERGE hints must flip the physical join operator
    while returning identical rows."""
    from npc_recommender_netflix_spark.session import load_table

    load_table(spark, SF_SMALL, "customer").createOrReplaceTempView("hint_cust")
    load_table(spark, SF_SMALL, "nation").createOrReplaceTempView("hint_nation")
    q = """
        SELECT /*+ {hint}(hint_nation) */ n_nationkey,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM hint_cust JOIN hint_nation ON n_nationkey = c_nationkey
        GROUP BY n_nationkey ORDER BY n_nationkey
    """
    bc = spark.sql(q.format(hint="BROADCAST"))
    mg = spark.sql(q.format(hint="MERGE"))
    bc_plan = bc._jdf.queryExecution().executedPlan().toString()
    mg_plan = mg._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in bc_plan
    assert "SortMergeJoin" in mg_plan
    assert bc.collect() == mg.collect()


def test_capped_pair_joins_filter_hot_keys_before_selfjoin(spark):
    """The df-cap (hot users for the item-item join, hot items for the
    user-user join) must land BEFORE the pair self-join: the plan shows
    the degree filter (df <= cap) upstream of an equi-join, and no
    cartesian/nested-loop operator anywhere — the cap exists precisely
    so candidate generation stays an equi-join at any corpus size."""
    for key, cap in (("r_cosine_sim_capped", 48), ("r_user_cosine_capped", 40)):
        plan = _plan(spark, key)
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key
        assert f"<= {cap}" in plan, f"{key}: degree-cap filter missing from plan"


def test_strict_neardup_candidates_are_equi_join(spark):
    """v_embed_neardup_strict's candidate generation must plan as the
    (band, bucket) hash equi-join — a cartesian operator would mean the
    adaptive banding degenerated to all-pairs. Since round 9 the plan
    legitimately contains BroadcastNestedLoopJoin nodes: the 1-row
    nbits params aggregate cross-joins in as a broadcast (bounded by
    construction), so the assertion pins the CANDIDATE join's shape
    instead of banning nested loops outright."""
    import re

    plan = _plan(spark, "v_embed_neardup_strict")
    assert "CartesianProduct" not in plan
    assert re.search(r"Join \[band#\d+, bucket#\d+L?\]", plan), plan


def test_simhash_pairs_candidates_are_equi_join(spark):
    """Same pin for t_simhash_pairs: the (band, bv) candidate join is a
    hash equi-join, the only nested loops are the bounded broadcast
    params/band-index cross joins, and the adaptive-width vote
    aggregation adds no exchange after the explicit doc_id repartition
    (dedup + groupBy reuse its partitioning)."""
    import re

    plan = _plan(spark, "t_simhash_pairs")
    assert "CartesianProduct" not in plan
    assert re.search(r"Join \[band#\d+, bv#\d+L?\]", plan), plan
    # exchanges: one repartition(doc_id) for the vote pipeline, one for
    # the candidate distinct, plus AQE-inserted exchanges on the small
    # post-agg sides — but no exchange between the doc_id repartition
    # and the fingerprint aggregate (count the dedup/vote chain's own)
    assert "hashpartitioning(doc_id" in plan


def test_ivfpq_cascade_no_allpairs(spark):
    """The IVF-PQ cascade must never form an unbounded cartesian: cell
    probe, code assignment, ADC lookup, and rerank are all equi-joins
    (the only crossJoin is the broadcast 16-row codebook)."""
    plan = _plan(spark, "v_ann_ivfpq_rerank")
    assert "CartesianProduct" not in plan


def test_bloom_dedup_bitmap_broadcasts(spark):
    """t_bloom_dedup's bitmap join must be a broadcast hash join (the
    bitmap is bounded at m rows by construction) and the probe an
    equi-join on the bit position."""
    plan = _plan(spark, "t_bloom_dedup")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's skew-join handling must actually engage: build a join where
    one key holds ~90% of the fact rows, lower the skew thresholds to
    fixture scale, run to completion, and assert the FINAL adaptive plan
    marked the sort-merge join skew=true (the hot partition was split).
    This is the runtime half of the j_skew_salted story — the salting
    pattern is for when you can't rely on this engaging."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        from pyspark.sql import functions as F

        fact = spark.range(0, 400_000).select(
            F.when(F.col("id") < 360_000, 0).otherwise(F.col("id")).alias("k"),
            (F.col("id") * 7).alias("v"),
        )
        dim = spark.range(0, 50_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("w")
        )
        joined = fact.join(dim, "k").groupBy().sum("v", "w")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not split the skewed join:\n{plan[:2000]}"
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


# ---- round 7 plan shapes ----


def test_kdtree_route_never_shuffles_the_data(spark):
    """v_kdtree_route claims the vector data is never exchanged — every
    Exchange in the plan must be either a tiny-aggregate shuffle (the
    <=8-row threshold tables / final census partials) or a broadcast of
    those. Concretely: no Exchange hashpartitioning on vec_id-carrying
    relations; the three threshold joins must be broadcasts."""
    plan = _plan(spark, "v_kdtree_route")
    assert plan.count("BroadcastHashJoin") >= 3, plan[:1500]
    # the only hash exchanges allowed are the level aggregates + census
    # (single-int-key groupBys); none may partition by vec_id
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "vec_id" not in ln, ln


def test_hdr_histogram_powers_join_is_broadcast(spark):
    """The 41-row powers-of-two axis must broadcast — a shuffled join
    against a 41-row table would be the classic small-dim mistake."""
    plan = _plan(spark, "a_hdr_histogram")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_semantic_dedup_capped_single_cell_exchange(spark):
    """v_semantic_dedup_capped's rank window and bounded self-join must
    share the (label, sub) partitioning: the plan may exchange on
    (label, sub) but never on a pair-row key, and the heavy self-join
    must be over the windowed (already co-partitioned) relation."""
    plan = _plan(spark, "v_semantic_dedup_capped")
    # the window over (label, sub) exists
    assert "Window" in plan
    # no exchange keyed by the PAIR columns (va/vb) — pairs never shuffle
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "va" not in ln and "vb" not in ln, ln


def test_merge_upsert_is_one_full_outer_join(spark):
    """s_merge_upsert's merge is exactly one full outer join on the key."""
    plan = _plan(spark, "s_merge_upsert")
    assert "FullOuter" in plan
    assert plan.count("FullOuter") == 1


def test_slope_one_capped_prunes_before_pairing(spark):
    """r_slope_one_capped must apply the df<=48 cap BEFORE the pair
    self-join: the plan's join inputs carry the semi-join against the
    capped-user set (no unfiltered pair join anywhere)."""
    df = registry.QUERIES["r_slope_one_capped"](spark, SF_SMALL)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "48" in optimized  # the cap constant survives into the plan


def test_hourly_heatmap_single_aggregate(spark):
    """q_hourly_heatmap must be one partial+final aggregate over the
    scan — a second full-data exchange would betray a missed map-side
    combine on the 168-cell grid."""
    plan = _plan(spark, "q_hourly_heatmap")
    assert "partial" in plan.lower()
    # one hash exchange for the grid agg + one broadcast of the total
    grid_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "dow" in ln
    ]
    assert len(grid_exchanges) <= 1, grid_exchanges


def test_peak_detection_windows_share_one_exchange(spark):
    """w_peak_detection's four windows (lag, lead, sum, count) all
    partition by event_type — the plan must not re-exchange between
    them."""
    plan = _plan(spark, "w_peak_detection")
    ex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(event_type" in ln
    ]
    assert len(ex) <= 2, ex  # daily agg + one window partitioning


def test_asof_tolerance_no_extra_shuffle_for_gate(spark):
    """j_asof_tolerance's staleness gate is a post-aggregation filter:
    the plan must carry the same number of exchanges as the ungated
    as-of aggregate (join + groupBy), with no shuffle keyed on the
    tolerance."""
    plan = _plan(spark, "j_asof_tolerance")
    assert not any(
        "3600" in ln for ln in plan.splitlines() if "Exchange" in ln
    ), "tolerance leaked into an exchange key"


def test_logistic_irls_moments_are_partial_final(spark):
    """a_logistic_irls's per-iteration weighted moments must reduce via
    partial+final HashAggregate (map-side combine on the bounded cell
    axis) and broadcast the 1-row beta — never shuffle the fact rows
    per iteration."""
    plan = _plan(spark, "a_logistic_irls")
    assert plan.count("HashAggregate") >= 8  # 4 iterations x partial+final
    assert "BroadcastExchange" in plan


def test_nsw_adjacency_is_window_group_limit(spark):
    """v_nsw_greedy's degree cap must be the rank<=k rewrite (bounded
    buffer per src), and every greedy hop a broadcast join of the
    1-row-per-query frontier."""
    plan = _plan(spark, "v_nsw_greedy")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_bitmap_overlap_shuffles_words_not_users(spark):
    """a_bitmap_overlap's pair join must key on (type, bucket) AFTER the
    bit_or densification — the exchange carries 64-users-per-row words.
    The bitmap functions must be JVM-side (no Python eval in plan)."""
    plan = _plan(spark, "a_bitmap_overlap")
    assert "bit_or" in plan and "bit_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_merkle_leaves_hash_before_exchange(spark):
    """s_merkle_manifest must md5 leaves map-side (partial aggregate
    below the bucket exchange), so row content never shuffles — only
    256 bucket digests."""
    plan = _plan(spark, "s_merkle_manifest")
    assert "md5" in plan
    assert plan.count("HashAggregate") >= 2


def test_shortest_path_frontier_joins_stay_hash(spark):
    """r_shortest_path's per-level frontier expansion must be hash
    joins on the item key with distinct-aggregates per level — no
    cartesian product anywhere in the iterative plan."""
    plan = _plan(spark, "r_shortest_path")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_growth_accounting_user_keyed_no_cartesian(spark):
    """q_growth_accounting's windows and rollups must all key on
    user_id/day hash exchanges (the act and churn branches may each
    carry the window subtree pre-AQE-reuse) — never a cartesian
    product, never a single-partition global window."""
    plan = _plan(spark, "q_growth_accounting")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(user_id" in plan


def test_codec_keys_decode_without_payload_shuffle(spark):
    """m_gif_decode and m_zip_archive_extract must run synth+decode as
    chained Arrow stages with no aggregation or join over the payload
    column — payload bytes never enter a shuffle key."""
    for key in ("m_gif_decode", "m_zip_archive_extract"):
        plan = _plan(spark, key)
        assert plan.count("MapInPandas") >= 2, key
        assert "hashpartitioning(payload" not in plan, key
        assert "CartesianProduct" not in plan, key


def test_fraud_rings_no_cartesian_and_bounded_iterations(spark):
    """q_fraud_rings' label propagation must stay equi-join shaped —
    no cartesian products; edges and labels meet on hash joins."""
    plan = _plan(spark, "q_fraud_rings")
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_partitionless_window_whitelist_hygiene(spark):
    """Round-9 verdict item 4: the partitionless-window convention is a
    TRIPWIRE now. Full-registry enforcement runs inside tools/check.py
    (every sweep walks every key's executed plan and FAILS on an
    unlisted partitionless window); this test keeps the whitelist and
    the detector honest: (a) every whitelisted key must be registered
    (no stale entries), (b) the detector must flag a known by-contract
    global window (w_ntile) and stay silent on partitioned-window keys,
    (c) every entry must carry an axis classification."""
    from tools.plans import (
        PARTITIONLESS_WINDOW_WHITELIST,
        partitionless_windows,
    )

    stale = set(PARTITIONLESS_WINDOW_WHITELIST) - set(registry.QUERIES)
    assert not stale, f"whitelisted but not registered: {sorted(stale)}"
    for key, why in PARTITIONLESS_WINDOW_WHITELIST.items():
        assert why.split(":")[0] in {
            "bounded", "saturating", "catalog", "by-contract"
        }, f"{key}: axis class missing in {why!r}"

    hits = partitionless_windows(
        registry.QUERIES["w_ntile"](spark, SF_SMALL)
    )
    assert hits, "detector missed w_ntile's global ntile window"

    for key in ("w_topk_group", "w_sessionize", "j_lateral_topn"):
        df = registry.QUERIES[key](spark, SF_SMALL)
        assert not partitionless_windows(df), (
            f"{key} shows a partitionless window; its windows are "
            "supposed to be partitioned"
        )


def test_rank_stats_avoid_row_level_global_sort(spark):
    """The round-10 rewrites: top-k order statistics must be
    TakeOrderedAndProject (per-partition heap), not a catalog- or
    fact-wide row_number window."""
    for key in ("a_hill_tail", "r_precision_at_k", "r_mrr", "r_map_at_k",
                "t_weighted_sample_aes"):
        assert "TakeOrderedAndProject" in _plan(spark, key), key


def test_theil_sen_median_sorts_the_slope_set(spark):
    """a_theil_sen takes its median by one sort of the bounded slope
    set, not through percentile's hash map, over one pair join."""
    plan = _plan(spark, "a_theil_sen")
    assert "percentile(" not in plan
    assert plan.count("NestedLoopJoin") + plan.count("CartesianProduct") == 1


def test_bigram_sizes_filter_does_not_resplit_text(spark):
    """bigram_sizes' n is non-nullable, so no sizes join infers
    isnotnull(n) and pushes it below the projection, where the inlined
    lambda would split the text again once per bigram."""
    from npc_recommender_netflix_spark.llm.dedup import _jaccard05_edges

    frames = {key: registry.QUERIES[key](spark, SF_SMALL)
              for key in ("t_jaccard_neardup", "t_pipeline_e2e")}
    frames["_jaccard05_edges"] = _jaccard05_edges(spark, SF_SMALL)
    for name, df in frames.items():
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "isnotnull(size(" not in optimized, name
