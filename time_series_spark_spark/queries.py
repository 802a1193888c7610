"""Query registry: every SURVEY.md §2 operator surfaced as a named query.

Each entry pairs a PySpark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent DuckDB oracle SQL string (or ``None`` for non-SQL-expressible
operators → the driver does a rows-only check).

Dialect/determinism rules applied throughout (SURVEY.md §5.1):
- every computed column aliased identically in both engines;
- fp aggregates rounded identically in both engines (granularity chosen
  per-magnitude so cross-engine fp association drift cannot flip a digit);
- ``events.ts`` compared at µs precision (oracle casts ns → µs);
- Spark ``dayofweek`` is 1=Sunday, DuckDB ``dayofweek`` is 0=Sunday —
  oracle SQL normalizes;
- under LIMIT, ORDER BY always carries a unique tiebreaker;
- integer-valued percentiles use NEAREST-RANK order statistics, never
  interpolation (interpolated quantiles land a half-ulp apart across
  engines and flip integer truncation — the view_to_purchase_latency
  lesson); fp quantiles over doubles (percentile/quantile_cont on
  already-fp data) remain fine under the rounding rule.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        # A duplicate name would silently SHADOW the earlier query (last
        # module import wins) — the earlier query's oracle and external
        # confirmations would then describe code that no longer runs.
        if name in REGISTRY:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                "registered; pick a distinct name"
            )
        REGISTRY[name] = Query(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# Import for side effects: each module registers its queries.
from time_series_spark_spark import queries_relational  # noqa: E402,F401
from time_series_spark_spark import queries_timeseries  # noqa: E402,F401
from time_series_spark_spark import queries_forecast  # noqa: E402,F401
from time_series_spark_spark import queries_llm  # noqa: E402,F401
from time_series_spark_spark import queries_streaming  # noqa: E402,F401
from time_series_spark_spark import queries_composite  # noqa: E402,F401
from time_series_spark_spark import queries_udfs  # noqa: E402,F401
from time_series_spark_spark import queries_tpch  # noqa: E402,F401
from time_series_spark_spark import queries_sketches  # noqa: E402,F401
from time_series_spark_spark import queries_cdc  # noqa: E402,F401
from time_series_spark_spark import queries_analytics  # noqa: E402,F401
from time_series_spark_spark import queries_tsmining  # noqa: E402,F401
from time_series_spark_spark import queries_quant  # noqa: E402,F401
from time_series_spark_spark import queries_geo  # noqa: E402,F401
from time_series_spark_spark import queries_privacy  # noqa: E402,F401

# The external correctness gate samples the FIRST 50 registry entries, so
# REGISTRY insertion order is semantically significant (pinned by
# tests/test_registry.py). Rotation policy, documented for the gate's owner
# (also in COVERAGE.md): queries the driver has already confirmed green move
# to the END so each round's sample window reaches not-yet-checked queries;
# a query that FAILED externally stays at the FRONT of the window until the
# driver re-confirms the fix. Green = rows+schema+hash all matching (or a
# rows-only check by design) — an err==None hash-fail is NOT green. Once
# every query has been externally checked at least once, confirmed slices
# rotate back in so the external gate keeps regression-detection power.
# Locally, tests/test_oracle.py still gates ALL entries every pytest run.
_EXTERNALLY_CONFIRMED = [
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_nation_revenue",
    "left_join_customer_orders", "semi_join_active_customers",
    "anti_join_orderless_customers", "cross_join_region_pairs",
    "theta_join_late_shipments", "filter_in_between", "filter_like_regexp",
    "distinct_projection", "case_when_price_bands", "global_agg_lineitem",
    "count_distinct_customers", "approx_count_distinct_users",
    "stats_aggs_lineitem", "percentiles_quantity", "minby_maxby_customers",
    "collect_sorted_nations", "rollup_orders", "cube_returnflag_status",
    "grouping_sets_orders", "pivot_docs_lang_source", "window_running_rev",
    "window_rank_distribution", "window_moving_avg", "window_first_last",
    "topk_parts_per_brand", "top_orders_global", "union_all_high_value_keys",
    "union_distinct_nation_keys", "intersect_building_f_orders",
    "except_inactive_customers", "string_funcs_nation", "date_funcs_orders",
    "math_funcs_summary", "array_funcs_embeddings", "json_funcs_events",
    "scalar_subquery_big_spenders", "not_exists_idle_suppliers",
    "events_hourly", "events_gap_fill_hourly", "events_ffill_daily",
    "events_interpolate_daily", "events_sessionize", "train_test_split_daily",
    "naive_forecast_metrics", "seasonal_profile_dow", "anomaly_rolling_z",
    "series_stats_users",
    # round-3 driver greens (CORRECTNESS_r03.json: rows+schema+hash matched,
    # or rows-only by design):
    "asof_purchase_view", "asof_forward_next_view", "range_join_views_1h",
    "lag_lead_event_pairs", "time_range_frame_3d",
    # "ewma_user_daily" moved to _RECHECK_FIRST (round 12): upgraded
    # rows-only → oracle (closed-form weighted-running-sum ratio) and its
    # daily-mean input switched to exact integer-cents derivation — the
    # old rows-only record does not confirm the new, stronger check.
    "geo_mean_grouped_udaf", "events_change_points", "events_trailing_7d_users",
    "forecast_daily_revenue", "forecast_user_events", "backtest_daily_revenue",
    "docs_dedup", "docs_dedup_keep_first", "docs_lang_stats", "docs_top_terms",
    "docs_tfidf_top_terms", "docs_token_count_bpe", "docs_quality_filter",
    "docs_quality_gate", "docs_ngram_jaccard_pairs", "docs_dup_clusters",
    "docs_minhash_lsh_pairs", "docs_simhash_pairs", "emb_cosine_topk",
    "emb_near_dup_pairs", "emb_lsh_topk", "emb_ivf_topk", "emb_sq8_topk",
    "docs_pii_redaction", "docs_hash_sample_per_lang", "docs_lang_id",
    "docs_fingerprints", "corpus_stats_report", "docs_stratified_sample",
    "docs_weighted_mix", "docs_pack_sequences", "docs_upsample_repeat",
    "docs_edit_pairs", "emb_semantic_dedup", "docs_weighted_sample",
    "docs_dup_spans", "docs_remove_dup_spans", "docs_lm_perplexity",
    "docs_repetition_stats", "docs_contamination_check", "docs_chunk_windows",
    # round-5 driver greens (CORRECTNESS_r05.json: all 50 sampled queries
    # rows+schema+hash matched, or rows-only by design — including the three
    # round-3 failures re-verified fixed):
    "events_rollup_cascade", "docs_curation_pipeline", "docs_multimodal_features",
    "events_variant_props", "nation_collation_fold", "orders_pipe_summary",
    "lateral_customer_order_stats", "nation_name_jw_pairs",
    "orders_benford_first_digit", "star_integrity_report", "orders_group_by_all",
    "lineitem_try_arithmetic", "order_ship_leadtime_by_priority",
    "part_revenue_pareto", "region_nations_listagg", "orders_constraint_suite",
    "supplier_order_counts_merge_join", "orders_pivot_sql",
    "lineitem_weighted_median_price", "users_mode_event_type",
    "events_sliding_hll_users", "events_local_date_nyc",
    "event_type_corr_matrix", "events_slo_burn_alerts",
    "forecast_hw_weekly_revenue", "forecast_model_selection",
    "forecast_conformal_revenue", "forecast_theta_revenue",
    "forecast_croston_purchases",
    "forecast_conformal_daily_revenue",
    "docs_shuffle_shards", "docs_token_budget_fill",
    "docs_incremental_dedup_exact", "docs_incremental_bloom_dedup",
    "docs_pmi_bigrams", "docs_zipf_fit", "docs_heaps_curve", "emb_pq_topk",
    "docs_rake_keywords",
    # "docs_dup_graph_pagerank" moved to _RECHECK_FIRST (round 12):
    # upgraded rows-only → oracle (15 unrolled power-iteration CTEs).
    "docs_bpe_train_merges",
    "docs_ppmi_top_pairs", "docs_ppmi_svd_neighbors", "emb_pca_variance",
    "emb_ann_quality_report", "docs_vocab_coverage", "docs_quality_classifier",
    "docs_token_entropy", "emb_mips_topk", "docs_temperature_mix",
    # round-6 driver greens (CORRECTNESS_r06.json: 24 rows+schema+hash
    # matched; the rest ran clean rows-only by design). The eleven
    # stream_* queries that gained DuckDB oracles in round 7 are
    # deliberately NOT listed — they re-enter the sample window via
    # _RECHECK_FIRST so the driver can upgrade their rows-only record to
    # a full hash confirmation:
    "orders_duplicate_payments", "orders_yoy_growth_monthly",
    "lineitem_pricing_waterfall", "orders_fiscal_445_rollup",
    "lineitem_price_indices_yearly", "events_debounce_user_type",
    "orders_target_encoding_oof", "docs_inverted_index", "docs_bm25_search",
    "docs_feature_hashing", "docs_kn_bigram_ppl", "docs_cluster_keep_best",
    "docs_lexical_diversity", "emb_jl_projection_report",
    "docs_vocab_unseen_estimate", "docs_source_overlap_matrix",
    "docs_audio_window_features", "events_watermark_lateness_audit",
    "q10_returned_revenue", "q14_promo_revenue_share",
    "q18_large_volume_customers", "q19_disjunctive_part_revenue",
    "market_share_by_year", "mom_revenue_growth",
    "docs_multimodal_frame_sample", "docs_quality_cv_tuning",
    "docs_quality_calibration", "emb_kmeans_clusters",
    "docs_bpe_encode_stats", "docs_neardup_quality_report",
    "emb_diverse_exemplars", "docs_dedup_impact_report",
    "stream_anomaly_flags", "stream_forecast_serving",
    # "stream_left_outer_views" moved to _RECHECK_FIRST (round 9): it
    # gained a piecewise batch-equivalence oracle this round.
    # "stream_python_source_ticks" moved to _RECHECK_FIRST (round 9): its
    # round-8 VALUES oracle has never faced the external gate — the old
    # rows-only record does not confirm the new, stronger check.
    "stream_page_hinkley_drift", "stream_heavy_hitters_users",
    "stream_rate_limit_audit",
    # round-7 driver greens (CORRECTNESS_r07.json: all 50 sampled queries
    # rows+schema+hash matched — the first fully hash-verifiable window,
    # including the eleven stream_* replays re-confirmed under their
    # round-7 DuckDB batch-equivalence oracles):
    "stream_hourly_counts", "stream_sliding_counts",
    "stream_session_windows", "stream_dedup_counts",
    "stream_stateful_user_totals", "stream_static_join_enriched",
    "stream_stream_join_pairs", "stream_dedup_within_watermark",
    "stream_debounce_user_type", "stream_sprt_ab_decision",
    "stream_state_audit", "stream_versioned_sink_roundtrip",
    "customers_rfm_segments", "purchase_attribution_last_touch",
    "customer_revenue_pareto", "orders_price_decile_bins",
    "orders_lineitem_reconciliation", "purchase_attribution_time_decay",
    "udf_value_band_row", "udf_token_count_pandas",
    "udf_embedding_norm_iter", "udtf_doc_shingles", "events_bfill_daily",
    "udf_vowels_arrow", "events_cents_map_in_arrow",
    "udtf_first_tokens_dynamic", "user_value_stats_arrow",
    "q2_min_unit_price_supplier", "q4_late_shipment_priority",
    "q6_revenue_change", "q7_volume_shipping", "q8_national_market_share",
    "q9_product_profit", "q11_important_parts", "q12_latency_priority",
    "q13_order_count_distribution", "q15_top_supplier",
    "q16_supplier_part_variety", "q17_small_quantity_revenue",
    "q20_heavy_shippers", "q21_sole_late_supplier",
    "q22_idle_rich_customers", "events_bitmap_daily_users",
    "events_hist_p95_daily", "events_theta_sketch_users",
    "orders_snapshot_diff", "orders_apply_changes", "events_scd2_user_type",
    "purchases_pit_activity_state", "orders_lineitem_incremental_join",
    # round-8 driver greens (CORRECTNESS_r08.json: all 50 sampled queries
    # rows+schema+hash matched — second consecutive fully hash-verifiable
    # window, including the round-8 versioned-table VACUUM roundtrip and
    # the synthetic-source VALUES oracle):
    "synthetic_source_series_stats", "orders_rollup_incremental_merge",
    "orders_versioned_compaction_roundtrip", "orders_merkle_bucket_diff",
    "orders_versioned_vacuum_roundtrip", "events_ohlc_daily",
    "events_twa_user", "events_counter_increase_daily",
    "events_type_streaks", "events_rolling_corr_7d",
    "user_retention_weekly", "events_funnel_ordered",
    "events_decompose_daily", "events_rolling_median_7",
    "events_value_histogram", "events_drift_psi",
    "customer_active_periods", "events_transition_matrix",
    "events_unpivot_daily", "orders_profile_numeric",
    "events_seasonal_ratio_anomaly", "events_pattern_view_click_purchase",
    "events_key_skew_profile", "events_interarrival_burstiness",
    "events_ab_welch_test", "users_kaplan_meier",
    "orders_decimal_exact_totals", "events_session_window_batch",
    "purchase_attribution_u_shaped", "events_ks_two_sample",
    "events_chi2_independence", "events_mann_whitney_u",
    "events_trimmed_mean_by_type", "cohort_ltv_curve",
    "view_to_purchase_latency", "events_id_gap_audit",
    "events_value_iqr_outliers", "events_dow_hour_heatmap",
    "docs_length_log_histogram", "events_bootstrap_ci",
    "events_theil_sen_trend", "events_diff_in_diff",
    "events_cuped_adjusted_ab", "events_new_vs_returning_daily",
    "events_ab_power_mde", "cohort_ltv_curves", "events_m4_type",
    "events_paa_sax_user", "events_sax_words_user", "events_lead_lag_corr",
    # round-9 driver greens (CORRECTNESS_r09.json: all 50 sampled queries
    # rows+schema+hash matched — third consecutive fully hash-verifiable
    # window, including both _RECHECK_FIRST re-pins confirmed under their
    # upgraded oracles):
    # (stream_versioned_source_feed, orders_incremental_pipeline_roundtrip
    # and orders_versioned_layout_health were round-9 greens, but the
    # round-10 delta-manifest format change invalidated those
    # confirmations — they broke at HEAD and are re-pinned in
    # _RECHECK_FIRST below until the driver re-confirms them under the
    # new format.)
    "stream_python_source_ticks", "stream_left_outer_views",
    "orders_versioned_schema_evolution",
    "events_parquet_layout_audit", "events_acf_daily_total",
    "events_bollinger_daily", "orders_daily_drawdown",
    "events_rolling_skew_kurt", "events_rsi_cutler", "customer_revenue_gini",
    "session_top_paths", "orders_business_day_revenue",
    "full_outer_hourly_type_matrix", "events_anomaly_mad",
    "brand_discount_elasticity", "topk_parts_with_ties",
    "orders_budget_runoff_rcte", "orders_param_sql_priority_summary",
    "nation_revenue_share_of_region", "events_purchase_carry_forward",
    "events_user_behavior_entropy", "supplier_part_bipartite_degree",
    "events_salted_user_enrichment", "supplier_cosupply_triangles",
    "supplier_cosupply_bfs_hops", "users_clamped_balance", "orders_ks_drift",
    "orders_mannwhitney_period", "events_chi2_type_dow",
    "orders_benford_audit", "lineitem_vwap_monthly",
    "events_page_hinkley_drift", "events_adf_unit_root",
    "events_granger_view_purchase", "events_anova_value_by_type",
    "events_cointegration_view_click", "events_mann_kendall_daily",
    "events_runs_test_daily", "events_ljung_box_daily",
    "orders_var_cvar_daily", "part_item_item_recs", "supplier_cosupply_sssp",
    "events_esd_outliers", "users_lifetime_kaplan_meier",
    "events_binseg_changepoints", "users_logrank_heavy_light",
    "events_kendall_tau_daily",
    # round-10 driver greens (CORRECTNESS_r10.json: all 50 sampled queries
    # rows+schema+hash matched — fourth consecutive fully hash-verifiable
    # window):
    "events_spearman_daily", "orders_trimmed_winsorized_price",
    "events_shesd_outliers", "events_compression_report",
    "events_quantile_normalize_types", "events_seasonal_mann_kendall",
    "orders_cvm_drift", "orders_jonckheere_priority",
    "events_brown_forsythe_value", "events_friedman_daily",
    "events_durbin_watson_daily", "events_jarque_bera_daily",
    "users_nelson_aalen_hazard", "events_mood_median_test",
    "users_eb_purchase_rates", "customer_concentration_report",
    "events_poisson_rate_test", "events_mutual_info_type_dow",
    "events_bh_fdr_type_drift", "users_cochran_q_types",
    "events_ansari_bradley_scale", "events_allan_variance_daily",
    "events_pettitt_changepoint", "events_kpss_stationarity",
    "events_bartels_rank_test", "events_bayes_ab_superiority",
    "events_buishand_range", "events_median_polish_effects",
    "events_circular_daypart", "events_markov_entropy_rate",
    "users_activity_h_index", "users_rmst_lifetime",
    "events_gpd_tail_fit", "events_ratio_metric_ab",
    "events_session_concurrency", "events_partial_corr_types",
    "users_click_purchase_odds", "events_icc_design_effect",
    "events_median_ci_by_type", "events_rolling_beta_daily",
    "events_hodges_lehmann_daily", "events_deming_view_click",
    "users_hill_tail_index", "events_pairwise_ks_matrix",
    "events_record_days_test", "events_turning_points_test",
    "events_transition_latency", "users_growth_accounting_weekly",
    "events_haar_energy_daily", "users_top_movers",
    # round-11 driver greens (CORRECTNESS_r11.json: 47 sampled queries
    # rows+schema+hash matched and 3 rows-only-by-design queries executed
    # clean — fifth consecutive zero-failure window, including the three
    # round-10 delta-manifest regressions re-confirmed under the new
    # format from _RECHECK_FIRST):
    "stream_versioned_source_feed", "orders_incremental_pipeline_roundtrip",
    "orders_versioned_layout_health", "orders_time_travel_report",
    "orders_versioned_history", "orders_versioned_restore_roundtrip",
    "orders_version_change_feed", "orders_dpp_pruned_join",
    "orders_schema_compat_report", "orders_mv_rollup_navigation",
    "events_trend_hac_inference", "events_qq_halves",
    "events_hampel_outliers", "users_activation_latency",
    "users_tenure_activity_curve", "events_wilcoxon_signed_rank",
    "users_stickiness_panel", "users_spend_migration_matrix",
    "events_kruskal_wallis_value", "lineitem_return_rate_pchart",
    "events_error_cchart", "customer_lorenz_curve",
    "customer_theil_decomposition", "events_arch_lm_test",
    "users_cronbach_alpha", "orders_cadence_renewal_check",
    "events_daily_mix_divergence", "users_weibull_lifetime_fit",
    "events_market_model_betas", "orders_time_under_water",
    "events_strength_indices", "events_mean_reversion_halflife",
    "users_cochran_armitage_trend", "users_capture_recapture",
    "users_mcnemar_kappa_halves", "users_standardized_rates",
    "events_type_reach_wilson", "supplier_cosupply_assortativity",
    "geo_radius_pairs", "geo_nearest_supplier", "geo_grid_density",
    "geo_supplier_coverage", "geo_grid_dbscan_clusters",
    "docs_k_anonymity_report", "docs_dp_noisy_counts",
    "docs_l_diversity_report", "docs_dp_histogram_fixed_domain",
    "training_data_pipeline_report", "purchase_attribution_markov",
    "ml_purchase_propensity",
    # round-12 driver greens (CORRECTNESS_r12.json: 19 oracle-backed
    # queries rows+schema+hash matched — including both _RECHECK_FIRST
    # re-pins under their upgraded oracles — and all 31 rows-only-by-design
    # queries executed with spark_rows > 0; sixth consecutive zero-failure
    # window, clearing the never-sampled backlog to ZERO — cumulative
    # coverage is now 468/468):
    "ewma_user_daily", "docs_dup_graph_pagerank",
    "stream_merge_upsert_feed", "orders_versioned_merge_roundtrip",
    "orders_versioned_skipping_scan", "events_dominant_period",
    "events_hurst_user", "events_pacf_daily_total",
    "events_lomb_scargle_user", "bucketed_join_layout_report",
    "ml_als_part_recommendations", "ml_frequent_event_sequences",
    "ml_part_association_rules", "ml_als_eval_precision",
    "ml_aft_session_lifetime", "events_hll_daily_users",
    "events_kll_value_quantiles", "events_hll_type_overlap",
    "docs_token_heavy_hitters", "events_cm_user_counts",
    "orders_lineitem_ams_join_size", "emb_frequent_directions",
    "orders_versioned_zorder_report", "events_lttb_user",
    "events_zorder_layout_report", "events_compaction_plan",
    "explain_analyze_report", "events_swinging_door_user",
    "orders_compaction_report", "events_rate_limit_audit",
    "events_dtw_topk_user", "events_matrix_profile_type",
    "events_kalman_user_daily", "events_bursts_per_user",
    "events_series_shape_clusters", "events_cluster_silhouette_scan",
    "events_pelt_changepoints", "supplier_cosupply_kcore",
    "part_copurchase_lpa_communities",
    # round-13 driver greens (CORRECTNESS_r13.json: 28 oracle-backed
    # queries rows+schema+hash matched — including all 8 round-13
    # _RECHECK_FIRST re-pins under their changed code paths / upgraded
    # checks — and all 22 rows-only-by-design queries executed with
    # spark_rows > 0; seventh consecutive zero-failure window). The two
    # round-13 registrations were hash-green on first exposure:
    "orders_versioned_merge_evolve", "stream_optimize_skip_feed",
    # round-14 external greens (CORRECTNESS_r14.json):
    "orders_versioned_constraints_report", "orders_versioned_mor_roundtrip",
]

# Queries pinned to the very front of the sample window: externally-failed
# fixes awaiting re-confirmation, plus queries whose check STRENGTH changed
# (rows-only → oracle-backed) and should face the driver again under the
# stronger check. Round 14: all 8 round-13 re-pins were driver-confirmed
# hash-green under their changed code paths (CORRECTNESS_r13.json) and
# moved back into _EXTERNALLY_CONFIRMED; entries added below during the
# round are confirmed queries whose OWN CODE PATH changed and must face
# the driver again under the new code.
_RECHECK_FIRST: list[str] = [
    # round 14: compact_versioned now reads the snapshot under the
    # manifest-authoritative schema (ADVICE fix — evolved columns
    # previously risked being dropped by footer inference), reads
    # DV-aware, and rebases past blind-append winners — both
    # compaction-backed queries' code paths changed
    "orders_versioned_compaction_roundtrip",
    "orders_versioned_zorder_report",
    # round 14: the row-level commit paths gained merge-on-read support
    # (CoW base reads now route through the DV-aware _snapshot_frame),
    # constraint observation, and the extended conflict classes
    "orders_versioned_merge_roundtrip",
    "orders_versioned_merge_evolve",
    # round 14: vacuum gained the orphan-sidecar pass (+ report key),
    # restore carries dv/constraint state, the skipping planner was
    # refactored (_env_keeps + distributed path), and the J11e source
    # gained the DV snapshot-start guard
    "orders_versioned_vacuum_roundtrip",
    "orders_versioned_restore_roundtrip",
    "orders_versioned_skipping_scan",
    "stream_versioned_source_feed",
    # round 14: the J11g sink and incremental pipeline commit through
    # the changed merge/write paths
    "stream_merge_upsert_feed",
    "orders_incremental_pipeline_roundtrip",
]

SAMPLE_WINDOW = 50  # the external gate samples this many leading entries


def _apply_rotation(
    registry: dict,
    confirmed: list[str],
    recheck_first: list[str],
    window: int = SAMPLE_WINDOW,
    round_idx: int = 0,
) -> dict:
    """Order the registry for the external gate's leading-``window`` sample:
    externally-failed fixes first (re-verify before anything else), then
    never-confirmed queries, then the confirmed tail. Once the fresh pool
    no longer fills the window, the spare slots take a ROTATING slice of
    confirmed queries (offset advances with ``round_idx``, derived from
    the number of settled driver files) so the external check regains
    regression-detection power instead of re-sampling a stale fixed head
    — the documented COVERAGE.md policy, in code. Pure function; unit
    tests exercise both regimes directly."""
    conf_set = set(confirmed)
    front = [n for n in recheck_first if n in registry]
    fresh = [
        n for n in registry if n not in conf_set and n not in set(front)
    ]
    # Oracle-backed fresh queries first (stable within each class): every
    # driver round spends its ~50 sample slots on hash-verifiable entries;
    # rows-only entries trail until the oracle-backed backlog clears
    # (round-6 verdict item 3 — a window burning 26 slots on rows-only
    # checks confirms half as much as one that doesn't).
    fresh.sort(
        key=lambda n: getattr(registry[n], "oracle", None) is None
    )
    tail = [n for n in confirmed if n in registry]
    spare = window - len(front) - len(fresh)
    slice_names: list[str] = []
    if spare > 0 and tail:
        start = (round_idx * spare) % len(tail)
        slice_names = [
            tail[(start + i) % len(tail)] for i in range(min(spare, len(tail)))
        ]
    rest = [n for n in tail if n not in set(slice_names)]
    order = front + fresh + slice_names + rest
    return {n: registry[n] for n in order}


def _settled_round_count() -> int:
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    return len(list(repo.glob("CORRECTNESS_r*.json")))


REGISTRY = _apply_rotation(
    REGISTRY,
    _EXTERNALLY_CONFIRMED,
    _RECHECK_FIRST,
    round_idx=_settled_round_count(),
)


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
