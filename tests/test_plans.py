"""Plan-level regression tests: the 100 TB scale contract asserted on
physical plans (SURVEY.md §4) — broadcasts stay broadcasts, filters
reach the parquet scan, narrow ops never shuffle."""

from __future__ import annotations

from network_ids_using_pyspark_spark.plans.inspect import (
    count_shuffles,
    explain_str,
    has_pushed_filters,
)
from network_ids_using_pyspark_spark.queries import REGISTRY

from .conftest import SF_DIR


def _df(spark, name):
    return REGISTRY[name][0](spark, SF_DIR)


def test_star_join_all_broadcast(spark):
    df = _df(spark, "nation_revenue")
    plan = explain_str(df, "simple")
    assert plan.count("BroadcastHashJoin") == 4  # all four dims broadcast
    assert "SortMergeJoin" not in plan
    # the fact table shuffles once — for the final tiny group-by only
    assert count_shuffles(df) == 1


def test_add_row_id_no_shuffle(spark):
    df = _df(spark, "add_row_id")
    assert count_shuffles(df) == 0  # hash-of-PK ids: pure projection
    assert "Window" not in explain_str(df, "simple")  # never the global window


def test_q1_filter_pushed_to_scan(spark):
    assert has_pushed_filters(_df(spark, "q1_pricing_summary"))


def test_drop_null_rows_pushes_isnotnull(spark):
    # IsNotNull (unlike na.drop's AtLeastNNonNulls) reaches the scan
    from network_ids_using_pyspark_spark.operators.cleaning import drop_null_rows
    from network_ids_using_pyspark_spark.sources.tables import load_table

    df = drop_null_rows(load_table(spark, SF_DIR, "lineitem"), ["l_quantity"])
    assert has_pushed_filters(df)


def test_label_histogram_partial_agg(spark):
    df = _df(spark, "label_histogram")
    # map-side combine below the exchange; agg + orderBy = ≤2 shuffles
    assert "partial_count" in explain_str(df, "formatted")
    assert count_shuffles(df) <= 2


def test_minhash_single_exchange(spark):
    # mins computed before the doc_id shuffle: exactly one data exchange
    assert count_shuffles(_df(spark, "minhash_signatures")) == 1


def test_global_topk_no_full_sort(spark):
    plan = explain_str(_df(spark, "global_top_orders"), "simple")
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, not a global sort


def test_profile_is_single_row_agg(spark):
    plan = explain_str(_df(spark, "profile_max"), "simple")
    assert "Join" not in plan and "Window" not in plan


def test_replace_inf_with_max_broadcasts_scalar(spark):
    # the one-row max aggregate is broadcast back, never collected
    plan = explain_str(_df(spark, "replace_inf_with_max"), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ivf_joins_all_broadcast(spark):
    """IVF: centroid cross-joins and the probe-list join must all be
    broadcasts — the candidate corpus (100 TB side) never shuffles for
    a join; its only exchanges are the two window partitionings."""
    df = _df(spark, "cosine_topk_ivf")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_simhash_near_dup_shuffles_on_band_keys(spark):
    """Banded blocking is an equi-join on (band_idx, band_val) — a hash
    join, never a nested-loop all-pairs."""
    df = _df(spark, "simhash_near_dup")
    plan = explain_str(df, "simple")
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_scalar_subquery_broadcasts_threshold(spark):
    """The one-row global-avg threshold reaches the fact scan as a
    broadcast, not a driver collect baked into the plan."""
    df = _df(spark, "lineitem_above_global_avg")
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interval_join_is_equi_not_nested_loop(spark):
    """The bucketed interval join must plan as a hash/sort-merge EQUI
    join on the bucket id — never the BroadcastNestedLoopJoin a naive
    BETWEEN theta-join produces."""
    df = _df(spark, "interval_join_window_stats")
    plan = explain_str(df, "simple")
    # the windows side contains a 1-row broadcast (t0 scalar) — the
    # point-to-interval join itself must not be a nested loop over events
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # only the t0 scalar
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_no_fact_shuffle_before_filter(spark):
    """The Bloom bit-array reaches the fact scan as a 1-row broadcast;
    the fact side's first exchange is the semi-join of survivors, so
    the full fact table is never shuffled for the membership test."""
    df = _df(spark, "bloom_semi_join_lineitem")
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_cms_counters_broadcast_for_estimation(spark):
    """CMS estimation joins the d×w counter relation as a broadcast —
    the probe side never shuffles for the lookup."""
    df = _df(spark, "cms_heavy_hitters")
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunking_is_map_side(spark):
    """Chunk explosion pipelines inside the scan stage — no exchange."""
    df = _df(spark, "doc_chunks")
    assert count_shuffles(df) == 0


def test_pii_scrub_is_map_side(spark):
    df = _df(spark, "pii_scrub_audit")
    assert count_shuffles(df) == 0


def test_registry_entries_documented_and_wellformed(spark):
    """Every registry entry carries a docstring (traceability to
    SURVEY/reference is cited there) and a well-formed oracle (None or
    non-empty SQL)."""
    for name, (fn, sql) in REGISTRY.items():
        assert fn.__doc__ and len(fn.__doc__.strip()) >= 10, name
        assert sql is None or len(sql.strip()) > 10, name


def test_corpus_e2e_pipeline_no_quadratic_joins(spark):
    """The flagship five-stage pipeline must contain no cartesian or
    nested-loop join anywhere — candidates come from band equi-joins,
    dedup from a fingerprint window, chunking from map-side arrays."""
    df = _df(spark, "corpus_e2e_pipeline")
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_aqe_splits_skewed_join(spark):
    """The skew story is not just a doc claim: with a 90%-one-key left
    side and thresholds scaled to fixture size, AQE must split the
    skewed partition at runtime (AQEShuffleRead ... skewed) and still
    produce exactly the right rows."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force a shuffle join
    try:
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.repeat(F.lit("x"), 64).alias("pad"),
        )
        right = spark.range(1_000).select(F.col("id").alias("k"))
        joined = left.join(right, "k").select("k")
        # collect() executes THIS frame's QueryExecution, so the final
        # adaptive plan is inspectable afterwards (count() would build
        # and run a separate one, leaving this plan isFinalPlan=false)
        n = len(joined.collect())
        # 180k rows with k=0 (matches right k=0) + ids ending in 9 that are <= 999
        assert n == 180_000 + 100
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skewed" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q6_pure_scan_pushdown(spark):
    # TPC-H Q6: all three predicates reach the parquet scan; only the
    # 3 needed columns are read; no join anywhere in the plan.
    df = _df(spark, "q6_forecast_revenue")
    plan = explain_str(df, "formatted")
    assert has_pushed_filters(df)
    assert "Join" not in plan
    assert "l_shipdate" in plan.split("ReadSchema")[1].splitlines()[0]
    # single global aggregate: partial per partition + one final reduce
    assert count_shuffles(df) == 1


def test_q14_broadcasts_part(spark):
    df = _df(spark, "q14_promo_revenue")
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_superstep_shuffles(spark):
    # 3 supersteps must not multiply shuffles beyond O(iters)
    # (ADVICE r2 #4: assert the actual count, not just the top-k node).
    # Lineage must be inspected raw: checkpoint/materialize truncate the
    # explain plan, so the production path (both on) can't regress here
    # without the raw path regressing too.
    from pyspark.sql import functions as F

    from network_ids_using_pyspark_spark.operators.graphops import pagerank_int

    edges = spark.range(100).select(
        (F.col("id") % 10).cast("string").alias("src"),
        ((F.col("id") + 1) % 10).cast("string").alias("dst"),
    )
    counts = [
        count_shuffles(pagerank_int(edges, iters=i, checkpoint=False, materialize=False))
        for i in (1, 2, 3)
    ]
    per_step = counts[1] - counts[0]
    assert counts[2] - counts[1] == per_step, counts  # linear, not quadratic
    assert per_step <= 5, counts  # rank-join + dst-agg + node re-attach
    # top-k over ranks never global-sorts
    df = _df(spark, "pagerank_trade_graph")
    assert "TakeOrderedAndProject" in explain_str(df, "simple")


def test_int8_quantize_map_side(spark):
    # quantization is a pure projection: zero exchanges, stays in
    # whole-stage codegen (no UDF, array lambdas are JVM expressions)
    df = _df(spark, "embedding_int8_quantize")
    assert count_shuffles(df) == 0
    assert "BatchEvalPython" not in explain_str(df, "simple")


def test_q4_exists_is_left_semi(spark):
    df = _df(spark, "q4_priority_with_returns")
    plan = explain_str(df, "simple")
    assert "LeftSemi" in plan
    assert has_pushed_filters(df)


def test_q16_not_exists_is_left_anti(spark):
    df = _df(spark, "q16_parts_not_ordered")
    plan = explain_str(df, "simple")
    assert "LeftAnti" in plan


def test_salted_join_spreads_key(spark):
    # the salt must be part of the join key (spreading hot keys over
    # S sub-partitions) and the replication must be a Generate, not a
    # cross join
    df = _df(spark, "salted_skew_join_revenue")
    plan = explain_str(df, "simple")
    assert "Generate" in plan and "_salt" in plan
    assert "CartesianProduct" not in plan


def test_merge_hint_overrides_broadcast(spark):
    # nation (25 rows) would auto-broadcast; the MERGE hint must win
    df = _df(spark, "hinted_merge_join_counts")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_q7_q8_single_shuffle_all_dims_broadcast(spark):
    # the only data exchange is the final group-by: every dimension
    # attach broadcasts, and date/type/region filters reach the scans
    for name in ("q7_volume_shipping", "q8_market_share"):
        df = _df(spark, name)
        plan = explain_str(df, "simple")
        assert count_shuffles(df) == 1, name
        assert "SortMergeJoin" not in plan, name
        assert has_pushed_filters(df), name


def test_q19_disjunction_stays_map_side(spark):
    # OR-of-ANDs: one broadcast join + one final 1-row aggregate
    # exchange; the disjunction never forces a shuffle or a UDF
    df = _df(spark, "q19_discounted_revenue")
    plan = explain_str(df, "simple")
    assert count_shuffles(df) == 1
    assert plan.count("BroadcastHashJoin") == 1
    assert "BatchEvalPython" not in plan


def test_q15_argmax_never_collects(spark):
    # the scalar MAX is a broadcast join against a 1-row aggregate —
    # the G4 pattern; a driver collect would show as a LocalTableScan
    # feeding the filter instead
    df = _df(spark, "q15_top_supplier")
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert count_shuffles(df) <= 3


def test_q21_self_join_pair_semi_anti(spark):
    # EXISTS/NOT-EXISTS pair must appear as semi + anti joins over the
    # distinct pair relation — never a fan-out join + dedup
    df = _df(spark, "q21_suppliers_blamed")
    plan = explain_str(df, "simple")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_dynamic_partition_pruning_subquery(spark):
    # the years to read come from a join, not a literal — the plan must
    # carry a dynamicpruning subquery on the fact's partition column
    # (static PartitionFilters can't express this)
    df = _df(spark, "dynamic_partition_pruning_join")
    assert "dynamicpruning" in explain_str(df, "formatted")


def test_q2_argmin_window_no_self_join(spark):
    # correlated-MIN decorrelation via window-over-own-aggregate: the
    # per-part min must NOT appear as an aggregate + join-back (which
    # would re-shuffle and SMJ); two exchanges total — the (part,supp)
    # aggregate (whose partkey prefix the window reuses) + final wide
    # window ordering
    df = _df(spark, "q2_min_cost_supplier")
    plan = explain_str(df, "simple")
    assert "Window" in plan
    assert "SortMergeJoin" not in plan
    assert count_shuffles(df) == 2
    assert has_pushed_filters(df)


def test_q9_profit_dims_all_broadcast(spark):
    # 6-relation profit rollup: every dimension attach broadcasts; the
    # LIKE filter reaches the part scan before its broadcast
    df = _df(spark, "q9_product_type_profit")
    plan = explain_str(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert has_pushed_filters(df)


def test_q11_threshold_never_collects(spark):
    # the share threshold is a 1-row re-aggregate joined back by
    # broadcast (G4 pattern) — a driver collect would surface as a
    # LocalTableScan feeding the filter
    df = _df(spark, "q11_important_stock_value")
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "LocalTableScan" not in plan
    assert count_shuffles(df) <= 3


def test_q12_conditional_counts_map_side(spark):
    # CASE counts must stay inside the aggregate (partial map-side
    # combine), never a UDF; the year filter reaches the lineitem scan
    df = _df(spark, "q12_priority_by_linestatus")
    plan = explain_str(df, "simple")
    assert "BatchEvalPython" not in plan
    assert has_pushed_filters(df)
    assert count_shuffles(df) <= 3


def test_q13_outer_join_histogram_two_shuffles(spark):
    # custkey join + c_count histogram; the first group-by must reuse
    # the join's custkey partitioning (no third exchange)
    df = _df(spark, "q13_customer_order_distribution")
    assert count_shuffles(df) == 2


def test_q20_dominance_window_no_join_back(spark):
    # nested-aggregate comparison via window sum over the aggregate's
    # own partkey prefix — no per-part total self-join
    df = _df(spark, "q20_dominant_part_suppliers")
    plan = explain_str(df, "simple")
    assert "Window" in plan
    assert "LeftSemi" in plan
    assert count_shuffles(df) <= 4


def test_epoch_shuffle_is_map_side(spark):
    # the per-epoch training order must be pure projection (hash + mod
    # per row, epoch dim fanned out by broadcast) — zero exchanges, no
    # global sort, no Window
    df = _df(spark, "epoch_shuffle_order")
    plan = explain_str(df, "simple")
    assert count_shuffles(df) == 0
    assert "Window" not in plan and "Sort" not in plan


def test_curriculum_bins_no_global_window(spark):
    # fixed-grid binning: one tiny aggregate exchange, never an NTILE
    # (a corpus-wide NTILE would be a global sort at 100 TB)
    df = _df(spark, "curriculum_difficulty_bins")
    plan = explain_str(df, "simple")
    assert count_shuffles(df) == 1
    assert "Window" not in plan


def test_semantic_decontam_broadcasts_eval_set(spark):
    # the eval set must broadcast (corpus streams map-side past it);
    # the corpus itself is only exchanged by the two aggregates
    df = _df(spark, "semantic_decontam_report")
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert count_shuffles(df) <= 2
    assert "BatchEvalPython" not in plan  # dot product is JVM expressions


def test_mixture_and_budget_corpus_touched_once(spark):
    # everything after the source-keyed corpus aggregate runs on the
    # |sources|-bounded relation; the window in the budget query
    # orders ≤|sources| rows, never the corpus
    for name in ("domain_mixture_weights", "token_budget_allocation"):
        df = _df(spark, name)
        plan = explain_str(df, "simple")
        assert plan.count("FileScan") == 1, name  # totals via window, no re-scan branch
        assert "BatchEvalPython" not in plan, name


def test_snapshot_diff_hashes_below_join(spark):
    # the payload fingerprint must be computed map-side on each input
    # (2 md5 sites), with the full-outer join carrying only (key, hash)
    df = _df(spark, "snapshot_diff_report")
    plan = explain_str(df, "simple")
    assert "FullOuter" in plan
    assert plan.count("md5") == 2
    assert "BatchEvalPython" not in plan
    assert count_shuffles(df) <= 3


def test_windowed_udf_is_arrow_window(spark):
    # the custom rolling median must run as an Arrow window evaluation,
    # not row-at-a-time Python, with exactly the one event_type shuffle
    df = _df(spark, "windowed_udf_rolling_median")
    plan = explain_str(df, "simple")
    assert "ArrowWindowPython" in plan
    assert "BatchEvalPython" not in plan
    assert count_shuffles(df) == 1


def test_kfold_assignment_is_map_side(spark):
    # fold = hash mod k per row; only the k-row profile aggregates
    # (distinct-user count adds the second exchange)
    df = _df(spark, "kfold_cv_assignments")
    assert count_shuffles(df) <= 2
    assert "BatchEvalPython" not in explain_str(df, "simple")


def test_mad_outliers_two_rank_sorts(spark):
    # two lower-median rank picks (value, absdev) — four exchanges max,
    # both windows partitioned by the 5-value type key
    df = _df(spark, "value_outliers_mad")
    plan = explain_str(df, "simple")
    assert plan.count("Window") >= 2
    assert count_shuffles(df) <= 4


# --- continuation batch: entity / assoc / hybrid search / anomaly ---------


def test_fuzzy_pairs_no_cartesian(spark):
    """SymSpell blocking must keep the lev-1 join an equi-join — the
    whole point is that all-pairs never appears."""
    df = _df(spark, "fuzzy_name_pairs_symspell")
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_assoc_rules_broadcasts_dims(spark):
    """Support relation and basket count attach by broadcast; the only
    data shuffles are the basket-keyed self-join and pair aggregate."""
    df = _df(spark, "assoc_rules_lift")
    plan = explain_str(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_pool_cut_is_take_ordered(spark):
    """Both ranker pools must compile to TakeOrderedAndProject (never a
    global sort of the scored corpus); rank windows run post-limit."""
    df = _df(spark, "hybrid_search_rrf")
    plan = explain_str(df, "simple")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "BatchEvalPython" not in plan  # built-in expressions only


def test_cusum_windows_partition_by_type(spark):
    """The running-sum window partitions by event_type — no global
    single-partition window over the hourly relation."""
    df = _df(spark, "cusum_changepoint")
    plan = explain_str(df)
    assert "Window" in plan
    # every window spec partitions by event_type (first windowspec arg)
    import re

    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and all(s == "event_type" for s in specs)


def test_seasonal_wape_equi_join(spark):
    df = _df(spark, "seasonal_naive_wape")
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weak_label_report_single_scan_no_udf(spark):
    """All three LFs are map-side expressions over ONE corpus scan;
    the only shuffle is the majority-class aggregate."""
    df = _df(spark, "weak_label_report")
    plan = explain_str(df, "simple")
    assert count_shuffles(df) == 1
    assert plan.count("FileScan") == 1
    assert "BatchEvalPython" not in plan


def test_equidepth_single_sort_then_partial_agg(spark):
    """The deliberate exact form: one global sort window, then the
    16-key aggregate; no second pass over orders."""
    df = _df(spark, "equidepth_histogram")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan") == 1
    assert "Window" in plan


def test_bigram_lm_broadcasts_count_tables(spark):
    """LM tables (bigram/context counts, vocab) attach by broadcast —
    the corpus is never shuffled on the skewed token key; the only
    data shuffles build the counts and the final doc-keyed aggregate."""
    df = _df(spark, "bigram_lm_logloss")
    plan = explain_str(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_k_anonymity_two_aggregates_one_scan(spark):
    df = _df(spark, "k_anonymity_risk")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan") == 1
    assert "BatchEvalPython" not in plan


def test_dp_noisy_counts_map_side_noise(spark):
    """Noise is a built-in expression after the aggregate: exactly one
    data shuffle (the (type, day) aggregate), no UDF."""
    df = _df(spark, "dp_noisy_daily_counts")
    plan = explain_str(df, "simple")
    assert count_shuffles(df) == 1
    assert "BatchEvalPython" not in plan


def test_lpa_shuffles_linear_in_supersteps(spark):
    """O(iters) shuffle skeleton like PageRank: 2 supersteps ≈ each one
    label join + count agg + argmax agg; no per-node sort window."""
    df = _df(spark, "lpa_communities_trade_graph")
    plan = explain_str(df, "simple")
    assert "Window" not in plan  # argmax is min(struct), not row_number
    assert count_shuffles(df) <= 12


def test_new_vs_returning_no_window_over_fact(spark):
    """First-order days come from a MIN aggregate, not a per-customer
    window sort over the orders fact."""
    df = _df(spark, "new_vs_returning_customers")
    assert "Window" not in explain_str(df, "simple")


def test_psi_single_scan_then_dim_sized(spark):
    df = _df(spark, "psi_split_drift")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan") == 1
    assert count_shuffles(df) <= 2  # band agg + 1-row total agg


def test_event_trigrams_take_ordered(spark):
    plan = explain_str(_df(spark, "event_type_trigrams"), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_containment_inverted_index_join(spark):
    """Candidate pairs come from the shingle equi-join — no all-pairs."""
    df = _df(spark, "containment_dedup_pairs")
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_gram_set_broadcast(spark):
    """The df-thresholded boilerplate set attaches by broadcast; the
    corpus-side probe never shuffles for the membership join."""
    df = _df(spark, "boilerplate_gram_share")
    plan = explain_str(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_adamic_adar_no_cartesian_topk_heap(spark):
    df = _df(spark, "adamic_adar_link_prediction")
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pareto_single_pass_no_self_join(spark):
    """The skyline is ONE window pass — no dominance self-join."""
    df = _df(spark, "pareto_frontier_orders")
    plan = explain_str(df, "simple")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_snm_no_self_join(spark):
    """SNM candidates come from LEAD windows over one sorted pass —
    never a self-join of the customer relation."""
    df = _df(spark, "snm_candidate_pairs")
    plan = explain_str(df, "simple")
    assert "Join" not in plan


def test_gini_windows_are_dim_sized(spark):
    """The rank/total windows run over the KEY relation (post-agg), so
    every window sits above a HashAggregate, not the raw scan."""
    df = _df(spark, "key_skew_gini")
    plan = explain_str(df, "simple")
    assert "BatchEvalPython" not in plan
    # 4 branches → 4 scans of 3 distinct tables (lineitem twice)
    assert plan.count("FileScan") == 4


def test_mi_windows_over_contingency_not_fact(spark):
    """MI's first-in-group windows run over the contingency table —
    every window input sits above a HashAggregate."""
    df = _df(spark, "mutual_information_report")
    plan = explain_str(df, "simple")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_fingerprints_no_shuffle_of_rows(spark):
    """Fingerprints are pure partial-aggregate reductions: the only
    exchanges are 1-row SinglePartition finals, no hash repartition of
    data rows."""
    df = _df(spark, "table_fingerprints")
    plan = explain_str(df, "simple")
    assert "hashpartitioning" not in plan
    assert plan.count("FileScan") == 4


def test_ks_windows_over_value_domain(spark):
    """The KS cumulative windows run on the per-distinct-value counts
    (above an aggregate), never the raw event rows."""
    df = _df(spark, "ks_two_sample_drift")
    plan = explain_str(df)
    assert "Window" in plan
    assert has_pushed_filters(df)  # event_type IN (...) reaches the scan


def test_bootstrap_single_scan(spark):
    """All B replicates come from ONE scan + map-side weight explode;
    the second scan is only the point-estimate branch."""
    df = _df(spark, "poisson_bootstrap_ci")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan") == 2
    assert "BatchEvalPython" not in plan


def test_ab_cuped_single_event_scan(spark):
    """CUPED costs one event-log scan: moments and per-arm rollup both
    derive from the user-level aggregate."""
    df = _df(spark, "ab_cuped_readout")
    plan = explain_str(df, "simple")
    # events scanned once for bounds + once for per-user (2 scans max)
    assert plan.count("FileScan") <= 3
    assert "BatchEvalPython" not in plan


def test_cep_windows_share_one_partitioning(spark):
    """Both CEP windows partition by user — one sort serves the whole
    pattern; no self-join."""
    df = _df(spark, "cep_click_purchase_no_error")
    plan = explain_str(df, "simple")
    assert "Join" not in plan
    import re

    specs = re.findall(r"windowspecdefinition\((\w+)#", explain_str(df))
    assert specs and all(s == "user_id" for s in specs)


def test_ri_audit_dims_broadcast(spark):
    df = _df(spark, "referential_integrity_audit")
    plan = explain_str(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_span_mask_zero_shuffles(spark):
    """Masking is pure map-side array math inside the scan stage."""
    df = _df(spark, "span_mask_augment")
    assert count_shuffles(df) == 0
    assert "BatchEvalPython" not in explain_str(df, "simple")


def test_dau_wau_equi_fanout_no_nested_loop(spark):
    """The sliding distinct uses the map-side day fan-out — an equi
    join against the day dim, never a range nested-loop."""
    df = _df(spark, "active_users_dau_wau")
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rfm_windows_over_customer_dim(spark):
    """All three NTILEs run above the per-customer aggregate."""
    df = _df(spark, "rfm_segment_counts")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan") <= 2  # orders + the 1-row max-date branch
    assert "BatchEvalPython" not in plan


def test_km_windows_over_time_dim(spark):
    """The at-risk and log-survival prefixes run over the per-distinct-
    time relation, not the orders fact: windows sit above aggregates."""
    df = _df(spark, "kaplan_meier_repeat_purchase")
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan


def test_trending_take_ordered_and_broadcast_totals(spark):
    df = _df(spark, "trending_parts_rank_delta")
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_funnel3_windows_share_user_partitioning(spark):
    """All funnel-step windows partition by user — n-step funnel = n
    windows on one sort, no join."""
    df = _df(spark, "funnel_three_step")
    plan = explain_str(df, "simple")
    assert "Join" not in plan
    import re

    specs = re.findall(r"windowspecdefinition\((\w+)#", explain_str(df))
    assert specs and all(s == "user_id" for s in specs)


def test_twap_lead_window_then_agg(spark):
    df = _df(spark, "twap_daily_value")
    plan = explain_str(df, "simple")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_pit_feature_join_no_range_join(spark):
    """Both as-of steps are union+window — never a range nested-loop."""
    df = _df(spark, "pit_feature_join")
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rolling_corr_windows_over_calendar(spark):
    df = _df(spark, "rolling_correlation_counts")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_trimmed_mean_partitioned_sort(spark):
    """Rank windows partition by event_type — no global sort."""
    import re

    df = _df(spark, "trimmed_mean_value")
    specs = re.findall(r"windowspecdefinition\((\w+)#", explain_str(df))
    assert specs and all(s == "event_type" for s in specs)


def test_kappa_single_scan_per_pair_branch(spark):
    df = _df(spark, "lf_agreement_kappa")
    plan = explain_str(df, "simple")
    assert "Join" not in plan
    assert plan.count("FileScan") == 3  # one per pair branch


def test_episode_reversed_running_min_not_following_frame(spark):
    """The next-occurrence state uses the REVERSED running frame —
    O(n) — never an unbounded-FOLLOWING frame (which Spark recomputes
    per row).  All windows partition by user."""
    df = _df(spark, "episode_follow_counts")
    plan = explain_str(df)
    assert "unboundedfollowing" not in plan.lower()
    import re

    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and all(s == "user_id" for s in specs)


def test_ir_metrics_pool_sized_windows(spark):
    """The ranking cut is TakeOrdered; metric windows run on the pool."""
    df = _df(spark, "search_ranking_metrics")
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_wilson_single_aggregate(spark):
    df = _df(spark, "wilson_conversion_intervals")
    plan = explain_str(df, "simple")
    assert count_shuffles(df) == 1
    assert has_pushed_filters(df)


def test_decayed_ltv_take_ordered(spark):
    df = _df(spark, "time_decayed_customer_value")
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_neyman_windows_dim_sized(spark):
    """Apportionment windows run over the |types|-row moment relation."""
    df = _df(spark, "neyman_allocation")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan") == 1


def test_poisson_bootstrap_single_scan_per_branch(spark):
    """The B-replicate fan-out is a map-side Generate (explode of
    hash-derived weights), never a per-replicate re-scan or join: the
    plan holds exactly TWO orders scans regardless of B — one for the
    replicate branch, one for the point estimate — so the cost is
    linear in B only through rows flowing, not I/O."""
    df = _df(spark, "poisson_bootstrap_ci")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan") == 2, plan.count("FileScan")
    assert "Generate explode" in plan  # the fan-out IS the explode
    assert "SortMergeJoin" not in plan


def test_exact_k_samplers_take_ordered(spark):
    """bottom-k / Efraimidis-Spirakis: per-partition top-k + k-row
    driver merge (TakeOrderedAndProject) — the corpus is never globally
    sorted or exchanged."""
    for name in ("bottomk_uniform_sample", "weighted_topk_sample_es"):
        df = _df(spark, name)
        plan = explain_str(df, "simple")
        assert "TakeOrderedAndProject" in plan, name
        assert count_shuffles(df) == 0, name


def test_logreg_irls_scan_count_is_linear_in_iterations(spark):
    """3 Newton steps + the loss pass + the point estimate = bounded
    scans, no per-row state: coefficients must ride in as literals,
    never a SortMergeJoin."""
    df = _df(spark, "logreg_irls_exact")
    plan = explain_str(df, "simple")
    # the T Newton scans run at build time and leave the coefficients
    # on the driver as literals; the serving plan re-scans orders
    # exactly once (the loss pass) — it must NOT replay the iteration
    # lineage
    assert plan.count("FileScan") == 1, plan.count("FileScan")
    assert "SortMergeJoin" not in plan


def test_gnb_scoring_is_broadcast(spark):
    """Model and scoring: the |classes|-row model reaches every test
    row via broadcast (nested-loop on a 3-row build side), never a
    shuffled join."""
    df = _df(spark, "gnb_train_confusion_exact")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pq_encode_broadcasts_codebook(spark):
    """PQ encoding joins every (vector, subspace) against the M*CODES
    codebook — dim-sized, must broadcast; the corpus never shuffles
    for the encode."""
    df = _df(spark, "pq_adc_recall")
    plan = explain_str(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 2  # encode + ADC joins
    assert "CartesianProduct" not in plan


def test_bpe_training_stays_on_histogram(spark):
    """The K merge iterations run over the checkpointed word histogram:
    the returned merge table's plan must contain NO corpus FileScan
    (the one corpus pass happened at histogram build) and no shuffled
    join — the argmax rides 1-row broadcasts."""
    df = _df(spark, "bpe_merge_training")
    plan = explain_str(df, "simple")
    assert "FileScan parquet" not in plan, "corpus must not be re-scanned"
    assert "SortMergeJoin" not in plan


def test_bpe_tokenize_single_corpus_join(spark):
    """Applying the trained vocab is ONE equi-join of the corpus word
    stream against the vocab relation — never a merge-per-pass replay,
    never a cartesian."""
    df = _df(spark, "bpe_tokenize_profile")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1  # the corpus word stream
    assert "CartesianProduct" not in plan


def test_hard_negative_anchor_broadcast(spark):
    """The anchor side is broadcast against the candidate scan; the
    label-mismatch filter must not force a shuffled join."""
    df = _df(spark, "hard_negative_mining")
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mmr_loop_pool_sized(spark):
    """The greedy MMR loop touches only checkpointed pool-sized
    relations: one corpus FileScan builds the pool; the K selection
    steps must not re-scan it or fall into a sort-merge join."""
    df = _df(spark, "mmr_diversified_rerank")
    plan = explain_str(df, "simple")
    assert "FileScan parquet" not in plan  # pool + pairs are checkpointed
    assert "SortMergeJoin" not in plan


def test_quality_filter_scan_linear_in_iterations(spark):
    """Same contract as logreg_irls: the literal coefficients carry
    no training lineage — the serving plan re-scans documents exactly
    once for the scoring pass."""
    df = _df(spark, "quality_classifier_filter")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan") == 1, plan.count("FileScan")
    assert "SortMergeJoin" not in plan


def test_semdedup_assignment_broadcast_pairs_equi_join(spark):
    """SemDeDup's centroid assignment is a K-row broadcast; the
    within-cluster pair stage must be an EQUI-join on cid (cluster-
    local quadratic is the SemDeDup contract), never a nested-loop
    over the corpus."""
    df = _df(spark, "semdedup_prune_report")
    plan = explain_str(df, "simple")
    # the assignment chain is localCheckpointed away: the live plan reads
    # the materialized membership, so no corpus FileScan and no
    # nested-loop join anywhere above the checkpoint
    assert "FileScan parquet" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair join keys on the cluster id — an equi join on x_cid/y_cid
    assert "SortMergeJoin [x_cid" in plan or "ShuffledHashJoin [x_cid" in plan


def test_er_golden_records_take_ordered(spark):
    """Golden-record merge: star assignment + survivorship is pure
    aggregation (no iteration, no window over raw rows) and the final
    top-k is TakeOrderedAndProject."""
    df = _df(spark, "er_golden_records")
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_sssp_relaxation_rounds_bounded(spark):
    """Bellman-Ford: tentative distances are localCheckpointed per
    round, so the final plan must not replay the k-round join chain —
    at most one live join (the last relaxation) above the checkpoint
    scans, and the top-k is TakeOrderedAndProject."""
    df = _df(spark, "sssp_cheapest_reach")
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("FileScan parquet") == 0  # all rounds checkpointed


def test_holt_winters_single_corpus_scan(spark):
    """The seasonal fold runs over ONE collected daily series: a single
    orders scan, one aggregate chain, no join anywhere."""
    df = _df(spark, "holt_winters_seasonal_forecast")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_fd_audit_one_denorm_build(spark):
    """Five FD candidates must share ONE build of the denormalized
    relation (localCheckpoint), not five lineitem⨝orders joins."""
    df = _df(spark, "functional_dependency_audit")
    plan = explain_str(df, "simple")
    assert "FileScan parquet" not in plan  # denorm checkpointed once
    assert "Join" not in plan  # per-FD work is pure aggregation


def test_itemcf_sims_broadcast_profile_anti_join(spark):
    """Item-kNN serving: the similarity relation is the small side —
    support relations broadcast into it — and owned items are removed
    by an anti join (never a collected set)."""
    df = _df(spark, "itemcf_topk_recs")
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_diff_in_diff_single_reduction(spark):
    """The whole 2×2 DiD is one conditional aggregate over one filtered
    scan plus broadcast scalar attachment — no extra fact scans."""
    df = _df(spark, "diff_in_diff_readout")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 4  # one per broadcast cell branch
    assert "SortMergeJoin" not in plan
    assert has_pushed_filters(df)  # event_type = 'purchase' reaches the scan


def test_unigram_viterbi_corpus_never_rescanned(spark):
    """Everything iterative runs on checkpointed histogram/arc/vocab
    relations: the live plan must not read the corpus parquet at all."""
    df = _df(spark, "unigram_viterbi_tokenize")
    plan = explain_str(df, "simple")
    assert "FileScan parquet" not in plan
    assert "BroadcastHashJoin" in plan  # vocab attaches by broadcast


def test_suffix_doubling_levels_checkpointed(spark):
    """Ranks are localCheckpointed per doubling level: the final plan
    reads materialized level outputs, never replays the 13-level sort
    chain or the corpus scan."""
    df = _df(spark, "suffix_array_doubling_profile")
    plan = explain_str(df, "simple")
    assert "FileScan parquet" not in plan
    assert "SortMergeJoin" not in plan


def test_negative_sampling_vocab_sized_window(spark):
    """The cumulative window runs over the vocab relation, and the
    1-row weight total attaches by broadcast — one corpus scan total."""
    df = _df(spark, "negative_sampling_table")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") <= 2  # hist + the 1-row total branch
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_kmv_union_is_equi_join(spark):
    """The per-source set union is a FULL OUTER equi join on (cmp,
    bigram); the reference vocabulary fans out by broadcast."""
    df = _df(spark, "kmv_jaccard_sources")
    plan = explain_str(df, "simple")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_stl_single_scan_seasonal_broadcast(spark):
    """One orders scan; the 7-row seasonal relation attaches back to
    the detrended series by broadcast."""
    df = _df(spark, "stl_decompose_profile")
    plan = explain_str(df, "simple")
    assert "FileScan parquet" not in plan  # detrended interior checkpointed
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_wasserstein_rank_window_per_source(spark):
    """The rank window partitions by source (parallel), and the
    reference order statistics attach by broadcast."""
    df = _df(spark, "wasserstein_length_drift")
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cms_join_size_sketch_sized_dot_product(spark):
    """Each side compresses to d×w counters before any join: the
    dot-product joins run on sketch-sized relations (hash equi joins),
    never a key-level join of the raw sides in the estimate branch."""
    df = _df(spark, "cms_join_size_estimate")
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    # true-size branches keep their per-key joins (that's the point of
    # reporting honesty); the estimate must stay equi-join shaped
    assert "BroadcastNestedLoopJoin" not in plan or plan.count(
        "BroadcastNestedLoopJoin"
    ) <= 2  # only the 1-row scalar attachments


def test_huber_iterations_are_broadcast_scalar(spark):
    """Each IRLS pass re-scans the checkpointed value relation with the
    iterate and scale as driver literals — no join at all, and the
    returned frame reads the checkpoint, not the parquet file."""
    df = _df(spark, "huber_location_irls")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan
    assert "FileScan parquet" not in plan  # values checkpointed once


def test_dataset_card_two_corpus_scans(spark):
    """The card is two corpus passes (doc stats via checkpoint + word
    stream) with dim-sized broadcast attachments."""
    df = _df(spark, "dataset_card_report")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1  # word stream; doc stats checkpointed
    assert "BroadcastHashJoin" in plan


def test_holt_fleet_no_global_window(spark):
    """The fleet fold partitions by series key: no empty-partition-spec
    window, no join — one rollup, one grouped fold."""
    df = _df(spark, "holt_fleet_by_type")
    plan = explain_str(df, "simple")
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1


def test_ppmi_pairs_map_side_marginals_broadcast(spark):
    """Pair generation must come from the doc token arrays (no
    positional self-join); marginals and the N scalar broadcast."""
    df = _df(spark, "ppmi_cooccurrence_topk")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_w2v_cooc_scoring_broadcast_bounded(spark):
    """The count-vector synonym scorer (r10): pair generation map-side
    from the token arrays (same contract as PPMI); the query word's
    context vector, its norm, and the query-word scalar all attach by
    BROADCAST — the scoring pass is a linear scan of the vocab²-bounded
    count relation, never a sort-merge join; top-k is
    TakeOrderedAndProject."""
    df = _df(spark, "word2vec_cooc_synonyms")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_median_ci_rank_window_partitioned(spark):
    """The rank window partitions by event_type; bound arithmetic and
    the median relation attach by broadcast."""
    df = _df(spark, "median_ci_order_stats")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_kcenter_steps_scan_checkpointed_relation(spark):
    """Each greedy step scans the checkpointed (point, mind) relation
    with the new center as a 1-row broadcast: no corpus FileScan, no
    sort-merge join, argmax TakeOrdered-shaped."""
    df = _df(spark, "kcenter_coreset_select")
    plan = explain_str(df, "simple")
    assert "FileScan parquet" not in plan
    assert "SortMergeJoin" not in plan


def test_lsh_sweep_shares_signature_build(spark):
    """All three banding configs must read the ONE checkpointed
    signature relation — no corpus FileScan in the live plan, no
    nested-loop candidate generation anywhere."""
    df = _df(spark, "lsh_parameter_sweep")
    plan = explain_str(df, "simple")
    assert "FileScan parquet" not in plan
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the 1-row scalar-count attachments
    # (the G4 pattern); candidate∩truth runs as an equi join
    assert "SortMergeJoin [doc_a" in plan or "ShuffledHashJoin [doc_a" in plan


def test_sprt_single_scan_walk(spark):
    """The SPRT walk is one daily aggregate + a |days|-row cumulative
    window; the first-decision scalar attaches by broadcast."""
    df = _df(spark, "sprt_ab_monitor")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") <= 1
    assert "SortMergeJoin" not in plan


def test_gopher_and_c4_ride_the_scan(spark):
    """Both published-rule filters are pure higher-order array
    expressions: zero shuffles, no joins, no windows — at 100 TB the
    whole pass pipelines inside the parquet scan stage."""
    for name in ("gopher_quality_filter", "c4_line_filter_report"):
        df = _df(spark, name)
        assert count_shuffles(df) == 0, name
        plan = explain_str(df, "simple")
        assert "Join" not in plan and "Window" not in plan, name


def test_hits_supersteps_broadcast_topk_no_global_sort(spark):
    """Each HITS superstep attaches a node-set-sized (dimension-scale)
    score relation by broadcast, and the final top-k is per-partition
    heaps — never a sort-merge join or a full global sort."""
    df = _df(spark, "hits_hub_authority")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_kn_lm_relations_broadcast(spark):
    """The four KN model relations are vocabulary-bounded and must
    attach to the scoring pass by broadcast — the corpus is never
    shuffled on the skewed token key."""
    df = _df(spark, "kn_bigram_score")
    plan = explain_str(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_ipw_final_pass_is_single_scan_broadcast_beta(spark):
    """The IPW estimate is one fact scan with the fitted 3-coefficient
    beta attached as literals (the Newton passes already ran at build
    time) — no wide joins anywhere."""
    df = _df(spark, "propensity_ipw_ate")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan parquet") <= 1


def test_geo_grid_join_is_hash_join_never_theta(spark):
    """The spatial proximity join must run as an equi hash join on the
    compound cell key (small side exploded 9x and broadcast) — never a
    cartesian/nested-loop theta join, at any scale."""
    for name in ("geo_grid_neighbor_pairs", "geo_grid_knn_suppliers"):
        df = _df(spark, name)
        plan = explain_str(df, "simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name
        assert plan.count("BroadcastHashJoin") >= 1, name


def test_aipw_final_pass_is_single_scan_broadcast_models(spark):
    """AIPW estimation = one fact scan with the propensity beta as
    literals and the two 1-row outcome-model relations broadcast in."""
    df = _df(spark, "aipw_doubly_robust_ate")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan parquet") <= 1


def test_shapley_coalition_side_all_broadcast(spark):
    """Everything past the one fact pass lives on the 16-row coalition
    relation: no sort-merge join, no unbounded cartesian anywhere."""
    df = _df(spark, "shapley_channel_attribution")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rdd_cutoff_single_scan_filter_pushed(spark):
    """Sharp RD = ONE filtered fact scan feeding one conditional-sum
    aggregate; both side fits are arithmetic on the 1-row result."""
    df = _df(spark, "rdd_cutoff_effect")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_uplift_tlearner_two_scans_broadcast_coef(spark):
    """T-learner = one moments scan (both arms via conditional sums) +
    one cell-grid scan, coefficients broadcast onto the tiny grid."""
    df = _df(spark, "uplift_tlearner_segments")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 2
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row coef relation


def test_cem_matching_single_scan_no_join(spark):
    """CEM matches on the coarsened stratum KEY — one group-by, a
    second aggregate over the tiny strata relation, zero joins."""
    df = _df(spark, "cem_matching_att")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan and "Window" not in plan


def test_gsp_patterns_broadcast_topk_cut(spark):
    """GSP support = one user-keyed shuffle + broadcast 125-row pattern
    relation + map-side automaton; the cut is TakeOrdered, never a
    global sort of the support relation."""
    df = _df(spark, "gsp_subsequence_support")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_fdr_bh_windows_only_on_type_grain(spark):
    """BH ranking windows run over the |types|-row aggregate, fed by
    ONE map-side combined scan of the fact table."""
    df = _df(spark, "fdr_bh_metric_screen")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1
    assert "SortMergeJoin" not in plan and "Join" not in plan


def test_cox_newton_never_rescans_fact(spark):
    """Cox PH: the fact is scanned once for the observation build (the
    per-time relation is checkpointed); the three Newton iterations
    and the SE pass run on that tiny relation plus 1-row betas."""
    df = _df(spark, "cox_ph_exact")
    plan = explain_str(df, "simple")
    # the n_obs/n_events pass + its broadcast max-date scalar — the
    # Newton side reads only the checkpointed per-time relation
    assert plan.count("FileScan parquet") == 2
    assert "ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_fertility_vocab_broadcast(spark):
    """Fertility apply = the word stream equi-joined against the
    BROADCAST vocab (fixed-size), rolled up map-side on lang."""
    df = _df(spark, "bpe_fertility_by_lang")
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chow_single_day_grain_pass(spark):
    """Chow: one fact scan to the day grain, one aggregate over days —
    pooled moments are textual a+b sums, so no third pass exists."""
    df = _df(spark, "chow_break_test")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan and "Window" not in plan


def test_preference_pairs_no_window_no_join(spark):
    """Both extremes come from one struct-MAX/MIN group-by: the engine
    plan must contain neither the oracle's rank windows nor a
    document-grain self-join."""
    df = _df(spark, "preference_pair_mining")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan and "Window" not in plan


def test_mahalanobis_two_pass_broadcast_cov(spark):
    """Mahalanobis: moment pass + scoring pass with the 1-row
    covariance broadcast in; the cut is per-partition heaps."""
    df = _df(spark, "mahalanobis_outlier_topk")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 2
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_rake_no_global_window(spark):
    """RAKE: phrase ids come from per-document windows; joins are
    word-keyed hash joins; the cut is TakeOrdered."""
    df = _df(spark, "rake_keyword_extraction")
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_assortativity_hash_joins_on_node_key(spark):
    """Degree attachment must be equi-joins on the node id — no
    nested loop, no cartesian; the corr is one moment aggregate."""
    df = _df(spark, "degree_assortativity_trade_graph")
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # only the 1-row n_nodes


def test_loo_ablation_single_pass(spark):
    """|sources| ablations from ONE fact pass: group-by to source
    grain + 1-row totals broadcast — never a rescan per source."""
    df = _df(spark, "loo_source_ablation")
    plan = explain_str(df, "simple")
    # the one fact pass materialized the |sources|-row relation; both
    # consumers (slice + totals) read THAT, never the fact again
    assert plan.count("FileScan parquet") == 0
    assert "ExistingRDD" in plan
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_tail_dependence_census_no_sort_no_window(spark):
    """The tail census is one conditional-sum aggregate with literal
    cutoffs (resolved by the rank-selection descent) — the final plan
    must contain no sort, window, or join."""
    df = _df(spark, "tail_dependence_qty_price")
    plan = explain_str(df, "simple")
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("FileScan parquet") == 1


def test_lang_id_eval_never_shuffles_doc_grain(spark):
    """Predictions are map-side; both rollups partial-aggregate before
    their class-key exchanges; the class join is a broadcast."""
    df = _df(spark, "lang_id_eval_metrics")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_overdispersion_zero_days_without_calendar_join(spark):
    """Zero-day correction is arithmetic on the 1-row span relation —
    no day-table join, no window."""
    df = _df(spark, "overdispersion_daily_counts")
    plan = explain_str(df, "simple")
    assert "Window" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # only the span scalar


def test_lexical_diversity_histogram_space(spark):
    """The per-source rollup runs on the (source, word) histogram —
    one corpus explode, no window, no join."""
    df = _df(spark, "lexical_diversity_by_source")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan and "Window" not in plan


def test_simpson_detector_single_fact_pass(spark):
    """Pooled and per-stratum contrasts both derive from the
    checkpointed 12-row cell grid — the fact is scanned once."""
    df = _df(spark, "simpson_paradox_detector")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 0
    assert "ExistingRDD" in plan


def test_james_stein_never_rescans_corpus(spark):
    """Grand mean / pooled variance / spread / shrink are tiny-relation
    arithmetic over the checkpointed per-source moments."""
    df = _df(spark, "james_stein_source_means")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 0
    assert "ExistingRDD" in plan and "SortMergeJoin" not in plan


def test_kendall_quadratic_only_in_grid(spark):
    """The only pairwise structure is the K×K CELL join over the
    checkpointed contingency grid — the data grain never self-joins."""
    df = _df(spark, "kendall_tau_contingency")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 0
    assert "ExistingRDD" in plan


def test_spearman_grid_windows_only(spark):
    """Rank windows run over the K-row marginals of the checkpointed
    grid — the lineitem grain is scanned during the eager collapse,
    never in the final plan."""
    df = _df(spark, "spearman_rho_contingency")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 0
    assert "ExistingRDD" in plan


def test_bloom_fpr_probe_is_one_aggregate(spark):
    """The probe pass is one conditional-sum aggregate with the 1-row
    bit array broadcast in — no join on the key, no window."""
    df = _df(spark, "bloom_fpr_audit")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan and "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_lda_two_pass_broadcast_weights(spark):
    """LDA: one conditional-moment scan + one scoring scan with the
    1-row weight relation broadcast — no joins beyond broadcasts."""
    df = _df(spark, "lda_two_class_exact")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") <= 3
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_kl_by_source_histogram_space(spark):
    """KL runs on the checkpointed (source, word) histogram: marginals,
    corpus scalar, and per-source terms never rescan the corpus."""
    df = _df(spark, "kl_divergence_by_source")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 0
    assert "ExistingRDD" in plan and "CartesianProduct" not in plan


def test_partition_advisor_single_histogram_pass(spark):
    """The advisor is one key histogram + a 1-row total broadcast."""
    df = _df(spark, "partition_plan_advisor")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 0
    assert "ExistingRDD" in plan and "Window" not in plan


def test_entropy_rate_on_transition_relation(spark):
    """Entropy terms run on the checkpointed |states|²-row transition
    relation; the journey windows are per-user, never global."""
    df = _df(spark, "markov_entropy_rate")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 0
    assert "ExistingRDD" in plan


def test_circular_stats_single_aggregate(spark):
    """Circular moments = one map-side combined group-by; no joins,
    no windows."""
    df = _df(spark, "circular_hour_stats")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan and "Window" not in plan


def test_poisson_glm_iterations_on_checkpointed_counts(spark):
    """The PK-grouped count relation is built once (checkpointed); the
    Newton scans read it with the betas carried in as literals."""
    df = _df(spark, "poisson_glm_exact")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 0
    assert "ExistingRDD" in plan and "SortMergeJoin" not in plan


def test_mantel_haenszel_single_fact_pass(spark):
    """The MH estimator is one stratum-grid group-by + one aggregate
    over it — no joins, no windows."""
    df = _df(spark, "mantel_haenszel_or")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan and "Window" not in plan


def test_causal_e2e_no_fact_grain_joins(spark):
    """The five-estimator union inherits its members' contracts: every
    join in the plan is a broadcast (1-row coefficient relations; the
    propensity betas are literals), no sort-merge join, no window over
    any fact grain."""
    df = _df(spark, "causal_e2e_readout")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_isotropy_explode_then_dim_aggregate(spark):
    """D·N explode reduces map-side to the D-row per-dim relation; the
    summary aggregates THAT — no joins beyond the 1-row n_vecs."""
    df = _df(spark, "embedding_isotropy_profile")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan and "Window" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_woe_binning_no_sort(spark):
    """Cutpoints are literals from the rank-selection descent; the
    binning scan is a map-side CASE over the checkpointed cells."""
    df = _df(spark, "woe_iv_binning")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 0
    assert "ExistingRDD" in plan and "Window" not in plan


def test_readability_single_groupby(spark):
    df = _df(spark, "readability_by_source")
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan and "Window" not in plan


def test_round6_stats_no_window_operators(spark):
    """The round-6 series statistics must do their recursions as array
    folds over the day-grain relation, never as a window over fact
    rows; kappa must be one scan of documents with no join."""
    for name in ("ljung_box_acf_test", "cusum_mean_shift_daily"):
        plan = explain_str(_df(spark, name), "simple")
        assert "Window" not in plan, name
    kappa = explain_str(_df(spark, "cohens_kappa_raters"), "simple")
    assert "Window" not in kappa
    assert "Join" not in kappa  # single-scan contingency aggregate


def test_rbo_ranking_is_takeordered(spark):
    """rank_biased_overlap_parts builds each top-K side with a limit
    (TakeOrdered at the fact grain), never a global row_number over the
    part table — asserted on the pre-checkpoint ranking plan."""
    from pyspark.sql import Window, functions as F

    from network_ids_using_pyspark_spark.queries.search import _RBO_K
    from network_ids_using_pyspark_spark.sources.tables import load_table

    part = load_table(spark, SF_DIR, "part")
    a_sorted = (
        part.select("p_partkey", "p_retailprice")
        .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .limit(_RBO_K)
    )
    plan = explain_str(a_sorted, "simple")
    assert "TakeOrderedAndProject" in plan
    # the rank assignment's window runs over the ≤K-row bounded side
    ranked = a_sorted.select(
        "p_partkey",
        F.row_number()
        .over(Window.orderBy(F.desc("p_retailprice"), F.asc("p_partkey")))
        .alias("r"),
    )
    rplan = explain_str(ranked, "simple")
    assert "TakeOrderedAndProject" in rplan  # window sits above the limit


def test_semdedup_pair_stage_equi_join_no_cartesian(spark):
    """The within-cluster pair stage (r9: corpus-relative K so occupancy
    is bounded) must join on cid as an equi join, never a cartesian.
    The registered query's plan is truncated at the assignment stage's
    localCheckpoint, so the K-scalar broadcast is asserted on the
    assignment sub-plan built without the checkpoint below."""
    df = _df(spark, "semdedup_prune_report")
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan  # never an unbounded cross join
    # the vec x vec pair stage is an equi join on cid, not a loop join
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_semdedup_relative_k_is_broadcast_scalar(spark):
    """K = max(8, ceil(N/256)) must reach the seed filter as a 1-row
    broadcast (the G4 scalar pattern) — never a driver collect.  Built
    from the same operators as the query's assignment stage, without
    the plan-truncating checkpoint."""
    from pyspark.sql import functions as F

    from network_ids_using_pyspark_spark.operators.similarity import (
        as_double_array,
        l2_norm,
    )
    from network_ids_using_pyspark_spark.queries.dedup import _SD_K, _SD_OCC
    from network_ids_using_pyspark_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    e = emb.select("vec_id", as_double_array("embedding").alias("v")).select(
        "vec_id", "v", l2_norm(F.col("v")).alias("nv")
    )
    kdf = emb.agg(
        F.greatest(
            F.lit(_SD_K).cast("long"),
            F.ceil(F.count(F.lit(1)) / F.lit(float(_SD_OCC))).cast("long"),
        ).alias("k")
    )
    c = e.crossJoin(F.broadcast(kdf)).filter(F.col("vec_id") < F.col("k"))
    plan = explain_str(c, "simple")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row K scalar, broadcast
    assert "CartesianProduct" not in plan


def test_knn_exact_exchanges_carry_scalar_rows_only(spark):
    """Pin the r10 kNN fix (VERDICT r10 ask #4): the cross-join stage
    projects the scalar distance BEFORE any exchange, so the 128-dim
    embedding arrays (qv/cv/v) never cross a shuffle boundary.  The
    regression that let the pair rows carry both arrays into the
    row_number sort exchange cost 505 s and a session-fatal OOM at 30×
    (~1 KB/row over 324 M pairs vs ~40 B skinny rows)."""
    import re

    df = _df(spark, "knn_classifier_exact")
    plan = explain_str(df, "formatted")
    exchanges = re.findall(
        r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", plan
    )
    assert exchanges, "expected at least one Exchange in the kNN plan"
    array_attrs = re.compile(r"\b(?:qv|cv|v)#\d+")
    for inputs in exchanges:
        assert not array_attrs.search(inputs), (
            "embedding array attribute crosses an exchange: " + inputs
        )
        # skinny-row contract: the pair exchange ships ≤5 scalar cols
        assert len(inputs.split(",")) <= 5, inputs


def test_hard_negative_mining_scalar_exchange_no_cartesian(spark):
    """Hard-negative mining is bucket-equi-join ANN: the query side is
    broadcast (never a cartesian), and only scalar pair rows reach the
    single ranking exchange — the vectors are dropped in the pair
    projection (knn_classifier_exact lesson)."""
    import re

    df = _df(spark, "hard_negative_mining_lsh")
    plan = explain_str(df, "simple")
    assert "Cartesian" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert count_shuffles(df) == 1
    fmt = explain_str(df, "formatted")
    for inputs in re.findall(r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", fmt):
        assert not re.search(r"\b(?:qe|ce|v)#\d+", inputs), inputs


def test_doc_novelty_no_shingle_join_back(spark):
    """Novelty attribution must never join the gram relation back on
    shingle (the hot-gram fan-out anti-plan): per-doc novel counts come
    from re-aggregating (gram -> first_doc) by first_doc, so exactly
    ONE exchange carries a shingle attribute — the map-side-combined
    MIN."""
    import re

    df = _df(spark, "doc_novelty_fraction")
    plan = explain_str(df, "simple")
    assert "Cartesian" not in plan
    fmt = explain_str(df, "formatted")
    exchanges = re.findall(r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", fmt)
    shingle_exchanges = [e for e in exchanges if re.search(r"\bshingle#\d+", e)]
    assert len(shingle_exchanges) == 1, exchanges
