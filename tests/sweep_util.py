"""Shared runner for the whole-registry robustness sweeps (empty-input
and null-injection): every registered query is still exercised, but the
PLAN-PURE population — queries that are pure plan constructions with no
eager state builds, session-conf writes, or persisted artifacts —
overlaps on a small driver thread pool (the optimization guide's §2.6
pattern: actions are only sequential because the driver calls them
sequentially).  Everything else (table verbs, streaming waves, funnel
state, ANN trainers, conf-toggling queries) keeps the exact serial
order it always had, because those paths share state directories and
session confs that must not race.

The pooled set is an explicit name list, not derived from the plan
audit's tables, so adding a plan pin never silently widens it.  While
the pool runs, opening a ``StateStore`` raises: a pooled query that
persists state fails the sweep instead of racing its peers.

This is wall-time recovery, not coverage reduction: the same 297
queries run with the same assertion (r12 verdict #1 — the driver's
pytest run was cut off on wall time; these two sweeps were ~10 minutes
of serial sub-second collects)."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from shopify_youtube_etl_spark.plans.common import StateStore

PLAN_PURE = frozenset({
    "ab_test_conversion", "abc_xyz_classification", "adaptive_join_revenue",
    "allocation_proportional", "ann_cosine_topk", "approx_top_terms_sketch",
    "arrow_native_quant_error", "asof_click_attribution",
    "behavior_entropy_census", "benford_law_audit", "bigram_lm_heldout_ppl",
    "bom_explosion", "brand_substitution_screen", "chi_square_independence",
    "cohort_ltv_curve", "collated_cross_source_census", "column_profile_orders",
    "conversion_lag_percentiles", "cusum_daily_drift", "daily_revenue_autocorr",
    "dau_mau_stickiness", "debounce_events", "dedup_exact",
    "dictionary_encode_types", "doc_novelty_profile", "duplicate_payment_audit",
    "duplicated_span_profile", "embedding_decontamination",
    "equi_depth_histogram", "events_daily_rollup", "ewma_daily_revenue",
    "exact_stratified_split_manifest", "flagship_revenue",
    "fulfillment_sla_attainment", "gini_segment_inequality",
    "grouping_sets_revenue", "hhi_market_concentration", "int8_ann_topk",
    "keep_first_dedup", "knn_label_eval", "latest_order_per_customer",
    "linear_attribution_revenue", "longest_active_streak", "lorenz_curve_points",
    "market_basket_lift", "matryoshka_truncation_recall", "media_header_decode",
    "minhash_lsh_neardup", "ndcg_retrieval_eval", "new_vs_returning_revenue",
    "ntile_value_quartiles", "order_cycle_time_percentiles",
    "percent_of_parent_share", "pipe_syntax_revenue", "pivot_revenue_matrix",
    "position_based_attribution", "price_elasticity_by_brand",
    "pseudonymize_join_integrity", "pvm_decomposition",
    "quality_knee_quantile_grid", "quality_threshold_knee",
    "repeat_purchase_hazard", "repeated_span_removal", "rfm_segmentation",
    "robust_trend_theil_sen", "rrf_hybrid_retrieval", "seasonal_decompose_daily",
    "seasonal_naive_backtest", "segment_migration_matrix", "session_window_30m",
    "sessionize_gaps_islands", "simhash_neardup", "skyline_pareto_parts",
    "sliding_distinct_users_7d", "sql_nation_rank", "sql_scalar_udf_revenue",
    "sql_script_recent_rollup", "star_join_revenue_by_nation",
    "supply_concentration_risk", "survivorship_golden_record", "tfidf_top_terms",
    "token_stats", "top_event_paths", "topk_orders", "tpch_q11_important_parts",
    "tpch_q11_real", "tpch_q12_late_lines_by_class",
    "tpch_q13_customer_distribution", "tpch_q15_top_supplier",
    "tpch_q16_supplier_counts", "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_orders", "tpch_q19_disjunctive_revenue",
    "tpch_q1_pricing_summary", "tpch_q20_surplus_suppliers",
    "tpch_q22_idle_rich_customers", "tpch_q2_min_cost_supplier", "tpch_q2_real",
    "tpch_q3_shipping_priority", "tpch_q4_priority_census",
    "tpch_q5_local_supplier_volume", "tpch_q9_product_profit",
    "triplet_margin_mining", "tumbling_window_15m",
    "two_stage_distinct_daily_users", "udtf_burst_sessions",
    "unigram_logprob_score", "uniqueness_profile", "unpivot_charge_components",
    "variant_json_analytics", "weighted_median_price", "window_funnel_depths",
    "winsorized_mean_profile",
})


def _refuse_state(store):
    raise AssertionError(f"a pooled query opened a StateStore ({store.path})")


def run_sweep(specs: dict, sf: str, spark) -> list[str]:
    """Run every query's fn(spark, sf).collect(); return failure lines."""
    failures: list[str] = []

    def attempt(item):
        name, spec = item
        try:
            spec.fn(spark, sf).collect()
            return None
        except Exception as exc:  # noqa: BLE001 — collecting the full report
            return f"{name}: {type(exc).__name__}: {str(exc)[:120]}"

    pooled = [(n, s) for n, s in specs.items() if n in PLAN_PURE]
    serial = [(n, s) for n, s in specs.items() if n not in PLAN_PURE]
    real_lock = StateStore._lock
    StateStore._lock = _refuse_state
    try:
        with ThreadPoolExecutor(max_workers=6) as pool:
            failures.extend(f for f in pool.map(attempt, pooled) if f)
    finally:
        StateStore._lock = real_lock
    failures.extend(f for f in map(attempt, serial) if f)
    return failures
