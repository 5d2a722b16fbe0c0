"""Driver-facing query registry.

Every operator key from SURVEY.md §2 registers here as a
``(spark, sf_dir) -> DataFrame`` callable, most with a DuckDB oracle SQL twin
(ANSI SQL over the same parquet tables). Keys without an oracle are the
genuinely non-SQL-expressible ops (LSH, streaming, multimodal stubs) — the
driver records a weaker rows-only check for those.

Column-name discipline: every computed/aggregate column is aliased
IDENTICALLY in the Spark code and the oracle SQL — the driver sorts columns
by name before value-hashing. Float discipline: terminal float aggregates are
rounded the same way on both sides so IEEE summation-order noise can't flip
the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def dround(expr: str, n: int) -> str:
    """DuckDB SQL for Spark-compatible ROUND(expr, n) on doubles.

    Spark's F.round on a double is BigDecimal.valueOf(x).setScale(n, HALF_UP),
    i.e. HALF_UP applied to the SHORTEST decimal representation of x. Neither
    DuckDB's round() (floating multiply, off-by-one-ulp errors) nor its direct
    double->DECIMAL cast reproduces that. Its double->VARCHAR cast *is* the
    shortest representation, and VARCHAR->DECIMAL parses with ties away from
    zero — together exactly Spark's semantics.

    One DuckDB quirk (found by tests/test_round_parity.py fuzzing): the
    VARCHAR->DECIMAL parser mis-rounds NEGATIVE-exponent scientific-notation
    strings when the target scale is small ('5.96e-08' -> DECIMAL(38,2)
    gives 0.01, not 0.00). DuckDB prints scientific notation only below
    1e-4, so tiny magnitudes take a two-step path instead: parse at scale
    25 (exact for every double down to ~1e-9, and safely zero below — no
    scale-<=6 tie boundary is reachable from |x| < 1e-4 parse error), then
    decimal ROUND (ties away from zero == Java HALF_UP). Positive-exponent
    scientific strings parse correctly and stay on the plain path.

    A second quirk (same fuzz): DuckDB's DECIMAL->DOUBLE cast is not
    correctly rounded once the scaled integer needs > 53 bits (1e15 + 0.5
    at scale 2 comes back ...0.4); Java's BigDecimal.doubleValue IS
    correctly rounded. So the final conversion goes DECIMAL -> VARCHAR
    (exact digits) -> DOUBLE (strtod, correctly rounded) on both paths.
    """
    plain = f"CAST(CAST(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,{n})) AS VARCHAR) AS DOUBLE)"
    tiny = (
        f"CAST(CAST(ROUND(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,25)), {n})"
        f" AS VARCHAR) AS DOUBLE)"
    )
    return f"(CASE WHEN ABS({expr}) < 0.0001 THEN {tiny} ELSE {plain} END)"

_LOADED = False

# Keys registered by the round-4/5 statistical-analytics modules
# (r4_ops..r4e_ops, r5_ops) — populated at load time. These have the least
# driver-CORRECTNESS coverage, so the fresh partition of the driver ordering
# leads with them (after the re-sample fix keys).
_R4_KEYS: set[str] = set()


def register(name: str, oracle: str | None = None):
    """Decorator: register a query callable and (optionally) its oracle SQL."""

    def deco(fn):
        # Hard duplicate guard: dict insertion silently REPLACES, so a new
        # batch module reusing an existing key name would clobber a
        # driver-verified key without any test noticing (nearly happened in
        # round 6 with ext_fd_discovery / ext_graph_triangles).
        if name in QUERIES:
            raise ValueError(
                f"duplicate query key {name!r}: already registered by an "
                "earlier module — pick a new name"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    from . import flagship  # noqa: F401
    from . import core_scan  # noqa: F401
    from . import core_relational  # noqa: F401
    from . import core_extra  # noqa: F401
    from . import composites  # noqa: F401
    from . import extensions  # noqa: F401
    from . import correlated  # noqa: F401
    from . import llm_ops  # noqa: F401
    from . import scale_ops  # noqa: F401
    pre_r4 = set(QUERIES)
    from . import r4_ops  # noqa: F401
    from . import r4b_ops  # noqa: F401
    from . import r4c_ops  # noqa: F401
    from . import r4d_ops  # noqa: F401
    from . import r4e_ops  # noqa: F401
    from . import r5_ops  # noqa: F401
    from . import r5b_ops  # noqa: F401
    from . import r5c_ops  # noqa: F401
    from . import r5d_ops  # noqa: F401
    from . import r5e_ops  # noqa: F401
    from . import r6_ops  # noqa: F401
    from . import r6b_ops  # noqa: F401
    _R4_KEYS.update(set(QUERIES) - pre_r4)
    _LOADED = True


# Driver-facing key order. The driver verifies keys in dict insertion order
# under a bounded window (round 1 covered exactly the first 50), so the keys
# that matter most for the correctness gate must lead: flagship, the full
# SURVEY §2.A-J core, §2.K, then the LLM-pipeline extension set. Everything
# not listed (beyond-reference extras, TPC-H-shaped composites) trails in
# registration order.
_PRIORITY_TAIL = [
    # SURVEY §2.K — driver-mandated extension surface
    "ext_json_extract",
    "ext_window_tumbling",
    "ext_window_sliding",
    "ext_session_window",
    "ext_watermark_stream",
    "ext_dedup_exact",
    "ext_dedup_fuzzy",
    "ext_topk_cosine",
    "ext_text_tokenize",
    # LLM-data-pipeline operators (graded first-class)
    "ext_dedup_simhash",
    "ext_dedup_minhash_banded",
    "ext_dedup_ngram_jaccard",
    "ext_dedup_embedding",
    "ext_dedup_embedding_exact",
    "ext_dedup_clusters",
    "ext_ann_lsh",
    "ext_ann_ivf",
    "ext_topk_cosine_pandas",
    "ext_text_langid",
    "ext_text_quality",
    "ext_text_token_count",
    "ext_text_fingerprint",
    "ext_text_edit_distance",
    "ext_text_edit_distance_blocked",
    "ext_privacy_pseudonymize",
    "ext_mm_decode",
    "ext_mm_frame_sample",
    "ext_stateful_running_agg",
    "ext_stream_stream_join",
    "ext_stream_dedup",
    "ext_stream_foreachbatch_merge",
    "src_csv_rescued",
    "scan_partition_pruned",
    "ext_asof_join",
    "ext_text_pii_redact",
    "ext_text_chunk",
    "ext_data_split",
    "ext_sample_per_group",
    "ext_text_repetition",
    "ext_docs_composition",
    "ext_stream_static_join",
    "ext_approx_distinct",
    "ext_approx_quantile",
    "ext_mm_resize",
    "scan_zorder_key",
    "ext_stream_session_timeout",
    "ext_text_bm25",
    "src_jsonl_parse",
    "ext_scd2_snapshot",
    "ext_incremental_merge",
    "ext_graph_pagerank",
    "ext_sketch_merge",
    "ext_dedup_keep_best",
    "ext_text_decontaminate",
    "ext_text_pack",
    "ext_quality_filter",
    "ext_stream_outer_join",
    "src_schema_evolution",
    "ext_embed_centroids",
    "ext_mixture_resample",
    "ext_dedup_incremental",
    "ext_text_vocab",
    "ext_text_bpe_pairs",
    "src_orc_roundtrip",
    "sink_partition_overwrite",
    "test_accepted_values",
    "test_relationships",
    "ext_mm_audio_frames",
    "sink_compaction",
    "ext_text_unigram_xent",
    "ext_event_funnel",
    "ext_retention_cohorts",
    "ext_text_dup_ngram_spans",
    "ext_curation_pipeline",
    "ext_embed_quantize",
    "ext_sketch_countmin",
    "ext_date_spine_fill",
    "ext_mm_phash_dedup",
]

# §2.A-J registers first (flagship + core_scan + core_relational modules),
# so the priority prefix is: everything registered by those modules, in
# order, followed by _PRIORITY_TAIL, followed by the rest.
_CORE_MODULES_LAST_KEY = "audit_rowcount_log"

# Keys the driver's bounded CORRECTNESS window has already verified green —
# the union of every round's CORRECTNESS_rNN greens to date (r01-r11, 492
# keys), grouped below by the round that sampled them. The driver samples
# the first ~50 keys of queries() per round, so verified keys rotate to the
# tail and each round's window lands on never-sampled keys (enforced by
# tests/test_round_start.py::test_driver_window_lands_on_never_sampled_keys).
# Fold each new round's greens in at round start. The previously-verified
# keys stay pinned green by the in-repo oracle suite
# (tests/test_oracle_parity.py runs every oracled key through the identical
# DuckDB compare).
# ext_dedup_fuzzy (rows-only by design: pyspark.ml MinHashLSH banding has
# no SQL twin) got its best-possible driver check in r03 and rotates out
# with the rest; the ANN triad re-entered the window in round 7 when it
# gained real oracles.
_DRIVER_VERIFIED = {
    # r11 window (CORRECTNESS_r11.json — 45/50 hash-green fold-in)
    "agg_boolean_funcs", "agg_histogram_equidepth", "date_parts_misc",
    "ext_ab_ztest", "ext_basket_pairs", "ext_dedup_chunk_fuzzy",
    "ext_dedup_cluster_stats", "ext_dedup_containment",
    "ext_dedup_incremental_fuzzy", "ext_dedup_prefix_filter",
    "ext_drift_psi", "ext_dsir_resample", "ext_embed_dim_stats",
    "ext_embed_hard_negatives", "ext_eval_confusion",
    "ext_event_transition", "ext_interval_overlap_join",
    "ext_label_balance", "ext_length_bucket_batch", "ext_mm_blur_detect",
    "ext_mm_video_neardup", "ext_part_pareto", "ext_privacy_dp_noise",
    "ext_privacy_erasure", "ext_quality_logistic", "ext_rank_fusion",
    "ext_return_rate_wilson", "ext_source_overlap",
    "ext_stream_windowed_topk", "ext_supplier_hhi", "ext_surrogate_key",
    "ext_table_diff", "ext_text_dup_span_remove", "ext_text_gopher_rules",
    "ext_text_vocab_coverage", "ext_token_budget_plan",
    "ext_user_churn_features", "ext_user_streaks", "ext_win_ewma",
    "ext_win_rolling_median", "ext_winsorize", "setop_except_all",
    "setop_intersect_all", "str_funcs_misc", "win_nth_ratio",
    # r10 window (CORRECTNESS_r10.json — 50/50 hash-green fold-in)
    "agg_bitmask_or", "agg_corr_regression", "agg_grouping_id",
    "agg_grouping_sets", "agg_max_by", "agg_mode_moments",
    "ext_agg_skew_twophase", "ext_ccnet_bucket", "ext_cdc_apply",
    "ext_data_shard", "ext_dedup_minhash_est", "ext_embed_norm_stats",
    "ext_graph_triangles", "ext_outlier_mad", "ext_privacy_kanon",
    "ext_quality_quantile_cut", "ext_store_time_travel",
    "ext_text_bigram_lm", "ext_text_line_dedup", "ext_text_prefix_dup",
    "ext_text_tfidf", "ext_text_winnowing", "ext_text_zipf",
    "ext_time_interpolate", "ext_variant_json", "join_bucketed_colocate",
    "join_null_safe_eq", "join_range_interval", "q_disjunctive_pred",
    "q_dominant_supplier", "q_dormant_rich_customers",
    "q_forecast_revenue", "q_large_orders", "q_late_shipment_priority",
    "q_local_supplier_volume", "q_min_cost_supplier",
    "q_nation_trade_volume", "q_only_late_supplier", "q_part_value_share",
    "q_product_profit", "q_promo_revenue", "q_regional_share",
    "q_returned_item_ranking", "q_shipping_priority",
    "q_small_qty_revenue", "q_supplier_part_count", "q_top_supplier",
    "src_xml_parse", "win_moving_avg_rows", "win_time_range_rolling",
    # r09 window (CORRECTNESS_r09.json — 50/50 hash-green fold-in)
    "agg_histogram", "agg_string_concat_ordered", "expr_try_arithmetic",
    "ext_attr_markov_removal", "ext_calibration_temperature",
    "ext_causal_ipw_ate", "ext_causal_poststrat_ate", "ext_cochran_q",
    "ext_conv_sample_build", "ext_dpo_pair_build", "ext_dtw_distance",
    "ext_embed_cka_views", "ext_embed_mmd", "ext_eval_cv_auc",
    "ext_eval_qini_uplift", "ext_fit_lognormal", "ext_fit_negbinom",
    "ext_fleiss_kappa", "ext_good_turing", "ext_granger_causality",
    "ext_hclust_single_link", "ext_hmm_viterbi", "ext_holt_winters",
    "ext_isotonic_calibration", "ext_jackknife_ratio", "ext_kalman_filter",
    "ext_knee_elbow", "ext_kruskal_wallis", "ext_markov_absorption",
    "ext_max_drawdown", "ext_mediation_sobel", "ext_neyman_allocation",
    "ext_pandas_trimmed_mean", "ext_partial_corr", "ext_pinball_grid_fit",
    "ext_pr_average_precision", "ext_pref_bradley_terry",
    "ext_recursive_hierarchy", "ext_sample_negatives_plan",
    "ext_seq_alignment", "ext_tail_dependence", "ext_text_canary_scan",
    "join_bloom_prefilter", "q_customer_order_distribution",
    "q_shipmode_priority", "sink_codec_roundtrip", "src_binary_files",
    "src_python_datasource", "win_cume_percent_rank", "win_lead_next_gap",
    # r08 window (CORRECTNESS_r08.json — 50/50 hash-green, all
    # previously-never-sampled)
    "ext_anderson_darling_2s", "ext_asof_nearest", "ext_burrows_delta",
    "ext_capture_recapture", "ext_changepoint_binseg",
    "ext_cluster_silhouette", "ext_cluster_validity", "ext_contract_enforce",
    "ext_corpus_manifest", "ext_cramer_von_mises", "ext_data_epoch_order",
    "ext_embed_matryoshka_audit", "ext_embed_mmr_select", "ext_eoq",
    "ext_eval_pass_at_k", "ext_evt_gumbel", "ext_fdr_bh",
    "ext_feature_woe_iv", "ext_forecast_mase", "ext_friedman_test",
    "ext_gower_topk", "ext_graph_hits", "ext_grid_density_clusters",
    "ext_holt_linear", "ext_jl_projection", "ext_kendall_tau",
    "ext_kfold_assign", "ext_levene_bf", "ext_metric_delta_ratio",
    "ext_mm_aspect_bucket", "ext_mood_median", "ext_page_trend",
    "ext_permutation_test", "ext_qte", "ext_rdd_screen", "ext_rerank_rrf",
    "ext_retrieval_ndcg", "ext_retrieval_recall", "ext_scd2_hard_delete",
    "ext_shift_share", "ext_sketch_quantile_bottomk", "ext_source_freshness",
    "ext_stat_wasserstein_1d", "ext_text_char_entropy",
    "ext_text_curriculum", "ext_text_doc_novelty",
    "ext_text_greenlist_score", "ext_text_loss_mask",
    "ext_theil_decomposition", "ext_wilcoxon_signed_rank",
    # r07 window (CORRECTNESS_r07.json — 50/50 hash-green, including the
    # oracle-upgraded ANN triad and ext_dedup_semantic, plus the new
    # ext_incremental_delete)
    "ext_ann_lsh", "ext_ann_ivf", "ext_ann_pq", "ext_dedup_semantic",
    "ext_incremental_delete", "ext_sketch_kmv_setops", "ext_bizday_lag",
    "ext_nb_langid", "ext_seq_basket_pairs", "ext_simpson_screen",
    "ext_graph_modularity", "ext_forecast_reconcile", "ext_ab_srm_check",
    "ext_metric_cuped", "ext_sketch_ams_f2", "ext_eval_auc",
    "ext_fd_discovery", "ext_ab_power_analysis", "ext_cogroup_reconcile",
    "ext_lsh_bucket_stats", "ext_table_fingerprint", "ext_dow_quantile_bands",
    "ext_class_centroid_sim", "ext_ts_durbin_watson",
    "ext_markov_entropy_rate", "ext_overdispersion_check",
    "ext_udtf_installments", "ext_safety_stock", "ext_eb_shrinkage",
    "ext_arrow_length_hist", "ext_recency_weighted_ltv",
    "ext_tail_index_hill", "ext_conformal_interval", "ext_spectral_period",
    "ext_spc_rules", "ext_ipf_raking", "ext_join_size_estimate",
    "ext_part_vintage_revenue", "ext_design_effect", "ext_lof_outliers",
    "ext_rank_biased_overlap", "ext_bcg_matrix", "ext_price_indices",
    "ext_hurst_exponent", "ext_adstock_transform", "ext_sprt_sequential",
    "ext_pacf", "ext_brand_customer_overlap", "ext_cohens_kappa",
    "ext_mcnemar_test",
    # r06 window (CORRECTNESS_r06.json — 50/50 hash-green, including the two
    # r05 re-sample targets pipeline_medallion and ext_tokenizer_fertility)
    "ext_anova_quantity", "ext_attr_shapley", "ext_backlog_aging",
    "ext_chi2_gof", "ext_cramers_v", "ext_croston_forecast",
    "ext_embed_knn_classify", "ext_embed_outlier_knn",
    "ext_embed_reciprocal_nn", "ext_events_burst_hours", "ext_feature_mi",
    "ext_forecast_backtest", "ext_gini_feature_importance",
    "ext_graph_assortativity", "ext_graph_bfs_reach", "ext_graph_kcore",
    "ext_graph_link_predict", "ext_hist2d_qty_discount", "ext_kmeans_lloyd",
    "ext_linkage_patterns", "ext_littles_law", "ext_mann_kendall",
    "ext_moments_profile", "ext_new_vs_returning", "ext_ohlc_weekly",
    "ext_order_cycle_time", "ext_price_dispersion", "ext_price_elasticity",
    "ext_price_volume_mix", "ext_privacy_t_closeness", "ext_promo_effect_did",
    "ext_qq_points", "ext_retrieval_mrr", "ext_runs_test",
    "ext_seq_error_retry", "ext_seq_pattern_v", "ext_ses_forecast",
    "ext_spearman_corr", "ext_split_order_screen", "ext_stickiness_dau_mau",
    "ext_text_collocations", "ext_text_hapax", "ext_text_heaps_law",
    "ext_text_rake", "ext_theilsen_trend", "ext_tokenizer_fertility",
    "ext_value_band_migration", "ext_weighted_quantiles", "ext_window_funnel",
    "pipeline_medallion",
    # r05 window (CORRECTNESS_r05.json — 48 hash-green; the two misses,
    # pipeline_medallion and ext_tokenizer_fertility, deliberately EXCLUDED
    # so the r06 window re-samples them after the DECIMAL-lane fixes)
    "ext_abc_xyz_matrix", "ext_assoc_rules", "ext_bootstrap_ci",
    "ext_changepoint_cusum", "ext_chi2_independence", "ext_customer_rfm",
    "ext_embed_centroid_classify", "ext_embed_isotropy",
    "ext_embed_pca_power", "ext_embed_pca_project", "ext_eval_calibration",
    "ext_eval_lift", "ext_eval_threshold_sweep",
    "ext_exact_quantiles_grouped", "ext_exact_quantiles_twopass",
    "ext_fk_discovery", "ext_funnel_latency", "ext_graph_label_prop",
    "ext_incremental_agg_maintain", "ext_item_cooccur_cosine",
    "ext_jonckheere_trend", "ext_keyword_pmi", "ext_lorenz_points",
    "ext_mixture_temperature", "ext_privacy_l_diversity",
    "ext_rank_effect_stats", "ext_sample_weighted", "ext_seasonal_anomaly",
    "ext_session_attribution", "ext_session_path_topk", "ext_sketch_bloom",
    "ext_sketch_hll_custom", "ext_sketch_kmv", "ext_source_js_divergence",
    "ext_source_lang_mix", "ext_survival_km", "ext_target_encode_loo",
    "ext_text_bigram_kn", "ext_text_burstiness", "ext_text_pack",
    "ext_text_readability", "ext_text_template_mask", "ext_trend_ols",
    "ext_ts_autocorrelation", "ext_ts_decompose", "ext_ts_rolling_corr",
    "ext_two_sample_ks", "q_priority_shipping",
    # r04 window (CORRECTNESS_r04.json — 48 hash-green; ext_text_pack and
    # pipeline_medallion deliberately EXCLUDED so the r05 window re-samples
    # them after their fixes: ext_text_pack's oracle HUGEINT output is now
    # cast to BIGINT, pipeline_medallion gained a SQL-expressible oracle)
    "agg_cube", "agg_percentile", "agg_pivot",
    "agg_rollup", "agg_stddev", "ext_curation_pipeline",
    "ext_date_spine_fill", "ext_dedup_incremental", "ext_dedup_keep_best",
    "ext_embed_centroids", "ext_embed_quantize", "ext_event_funnel",
    "ext_graph_pagerank", "ext_incremental_merge", "ext_mixture_resample",
    "ext_mm_audio_frames", "ext_mm_phash_dedup", "ext_quality_filter",
    "ext_retention_cohorts", "ext_scd2_snapshot", "ext_sketch_countmin",
    "ext_sketch_merge", "ext_stream_outer_join", "ext_stream_session_timeout",
    "ext_text_bm25", "ext_text_bpe_pairs", "ext_text_decontaminate",
    "ext_text_dup_ngram_spans", "ext_text_unigram_xent", "ext_text_vocab",
    "join_left_anti", "join_left_semi", "join_salted_skew",
    "profile_table", "reshape_unpivot", "sample_deterministic",
    "sample_stratified", "scan_zorder_key", "setop_except",
    "setop_intersect", "setop_union_all", "sort_limit_topk",
    "src_jsonl_parse", "test_accepted_values", "test_relationships",
    "win_first_last_value", "win_rank_dense_ntile", "win_running_sum",
    # r03 window (CORRECTNESS_r03.json — 47 hash-green + 3 rows-only)
    "src_file_metadata", "dq_filter_then_window", "derive_business_cols",
    "test_not_null", "test_unique", "audit_rowcount_log",
    "ext_json_extract", "ext_window_tumbling", "ext_window_sliding",
    "ext_session_window", "ext_watermark_stream", "ext_dedup_exact",
    "ext_dedup_fuzzy", "ext_topk_cosine", "ext_text_tokenize",
    "ext_dedup_simhash", "ext_dedup_minhash_banded",
    "ext_dedup_ngram_jaccard", "ext_dedup_embedding",
    "ext_dedup_embedding_exact", "ext_dedup_clusters",
    # (ext_ann_lsh / ext_ann_ivf got only rows-only r03 records; they left
    # this set in round 7 when they gained real oracles)
    "ext_topk_cosine_pandas", "ext_text_langid",
    "ext_text_quality", "ext_text_token_count", "ext_text_fingerprint",
    "ext_text_edit_distance", "ext_text_edit_distance_blocked",
    "ext_privacy_pseudonymize", "ext_mm_decode", "ext_mm_frame_sample",
    "ext_stateful_running_agg", "ext_stream_stream_join",
    "ext_stream_dedup", "ext_stream_foreachbatch_merge", "src_csv_rescued",
    "scan_partition_pruned", "ext_asof_join", "ext_text_pii_redact",
    "ext_text_chunk", "ext_data_split", "ext_sample_per_group",
    "ext_text_repetition", "ext_docs_composition", "ext_stream_static_join",
    "ext_approx_distinct", "ext_approx_quantile", "ext_mm_resize",
    # r01+r02 windows
    "agg_conditional_count", "agg_conditional_sum", "agg_count_distinct",
    "agg_count_star", "agg_groupby_multikey", "agg_scalar_count",
    "agg_sum_avg_min_max", "case_multibranch", "cast_inline_double",
    "cte_pipeline", "date_current", "date_datediff", "date_trunc_month",
    "date_year_diff_age", "dq_flag_columns", "expr_clamp_negative",
    "expr_coalesce_default", "expr_nullif_guard", "filter_flag_eq",
    "flagship_exec_summary", "join_cross_scalar", "join_full_outer",
    "join_inner_equi", "join_left_enrich", "join_left_two_key",
    "join_three_way_chain", "math_arith", "math_round", "pred_between",
    "pred_in_list", "pred_is_not_null", "pred_null_or_empty",
    "pred_rlike_regex", "proj_typed_cast", "ref_dependency",
    "sink_audit_insert", "sink_compaction", "sink_partition_overwrite",
    "sink_table_materialize", "sort_global_desc", "src_orc_roundtrip",
    "src_rescued_data", "src_schema_evolution", "src_table_scan",
    "str_concat", "str_initcap", "str_lower", "str_trim", "str_upper",
    "win_lag_12_global", "win_lag_12_partitioned", "win_lag_1_partitioned",
    "win_row_number_dedup",
}


def _ordered_keys() -> list[str]:
    keys = list(QUERIES)
    cut = keys.index(_CORE_MODULES_LAST_KEY) + 1 if _CORE_MODULES_LAST_KEY in QUERIES else 0
    head = keys[:cut]
    tail = [k for k in _PRIORITY_TAIL if k in QUERIES]
    rest = [k for k in keys if k not in head and k not in tail]
    ordered = list(dict.fromkeys(head + tail + rest))
    # Stable partition: never-driver-sampled keys first (priority order
    # preserved), already-verified keys last. Within the fresh partition,
    # the r4/r5 statistical batch (zero driver rows so far) leads, then the
    # remaining fresh keys.
    fresh = [k for k in ordered if k not in _DRIVER_VERIFIED]
    done = [k for k in ordered if k in _DRIVER_VERIFIED]
    fresh_r4 = [k for k in fresh if k in _R4_KEYS]
    fresh_rest = [k for k in fresh if k not in _R4_KEYS]
    return fresh_r4 + fresh_rest + done


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {k: QUERIES[k] for k in _ordered_keys()}


def all_oracle() -> dict[str, str]:
    _load_all()
    ordered = _ordered_keys()
    return {k: ORACLE[k] for k in ordered if k in ORACLE}
