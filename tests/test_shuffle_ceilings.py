"""Per-key shuffle-count ceilings for the heaviest bench keys.

The wall-clock bench (bench.py) can hide a plan regression on a quiet
host: a rewrite that re-introduces a shuffle the session-index batches
removed may still land under the 2x envelope. This suite pins the number
of Exchange operators in each heavy key's physical plan to the value the
round-8 plan audit measured, so any rewrite that adds a shuffle fails
loudly with the plan diff in hand.

Ceilings are EXACT current counts (sf0.01 plans; Exchange node count is
partition-count-independent). If a legitimate rewrite changes a count,
re-measure and update the pin in the same commit — the point is that the
change is deliberate, reviewed, and recorded, never silent — re-measure
with scripts/measure_exchange_ceilings.py, which reproduces this module's
exact protocol. Keys covered are the ENTIRE 339-key bench
(bench_detail.json: _CEILINGS is ranks 1-64, _CEILINGS_TIER2 ranks
65-128, _CEILINGS_TIER3 the remaining 211) — the heavy head is where one
extra corpus-sized shuffle costs real wall-clock at 100 TB; the tail pins
cost nothing to keep and catch regressions before a key climbs the
ranks.
Counts are warmth- and order-independent: the autouse fixture below
clears the session memo BEFORE EACH KEY, so each key plans from a
deterministic cold state whether the module runs alphabetically, under
pytest-xdist distribution, or via -k single-test selection (ADVICE r8:
exact pins measured at one warmth are not reproducible under subset
selection). Re-measure with the same per-key cold clearing when updating
a pin (scripts pattern: clear_session_memo(), plan, count ") Exchange").
"""

from __future__ import annotations

from pathlib import Path

import pytest

from dbt_pro3_spark.memo import clear_session_memo
from dbt_pro3_spark.queries import all_queries

from .conftest import SF_DIR
from .test_plan_quality import plan_str

ROOT = Path(__file__).resolve().parent.parent

_QUERIES = all_queries()

# Ceilings are measured at the default sf0.01: at a much larger SF the
# broadcast-threshold heuristics can flip joins to sort-merge and add
# exchanges, which is a planner policy change, not a regression.
pytestmark = pytest.mark.skipif(
    not SF_DIR.endswith("sf0.01"),
    reason="shuffle ceilings are pinned against the default sf0.01 plans",
)


@pytest.fixture(autouse=True)
def _cold_session_caches(spark):
    """Plan shape for the session-index families depends on cache warmth
    (a warm shared graph index planned through its persisted lineage adds
    exchanges vs a cold build), so clear every cache before EACH key: the
    pinned count is then a property of the key alone, not of which tests
    ran first — reproducible standalone, under -k selection, and under
    pytest-xdist alike (ADVICE r8). scripts/measure_exchange_ceilings.py
    runs the same clear before each key, so script and test never measure
    under different conditions."""
    clear_session_memo()
    yield


# key -> max ") Exchange" occurrences in df.explain("formatted")
_CEILINGS = {
    "agg_groupby_multikey": 1,
    "ext_abc_xyz_matrix": 10,
    "ext_ann_pq": 1,
    "ext_assoc_rules": 6,
    "ext_attr_markov_removal": 0,
    "ext_basket_pairs": 5,
    "ext_bootstrap_ci": 4,  # +1 in r11: spread() before the md5 fan-out
    "ext_brand_customer_overlap": 5,
    "ext_cluster_silhouette": 4,
    "ext_cogroup_reconcile": 3,
    "ext_conformal_interval": 5,
    "ext_cramers_v": 4,
    "ext_croston_forecast": 2,
    "ext_dedup_chunk_fuzzy": 1,
    "ext_dedup_embedding": 1,
    "ext_dedup_incremental_fuzzy": 1,
    "ext_dedup_minhash_est": 1,
    "ext_dedup_ngram_jaccard": 10,
    "ext_dedup_prefix_filter": 1,
    "ext_dedup_recall_audit": 5,
    "ext_dedup_scurve": 7,
    "ext_dedup_simhash": 1,
    "ext_demand_xyz": 2,
    "ext_dsir_resample": 7,
    "ext_embed_centroid_classify": 5,
    "ext_embed_knn_classify": 3,
    "ext_embed_mmr_select": 1,
    "ext_embed_reciprocal_nn": 2,
    "ext_exact_quantiles_twopass": 3,
    "ext_fk_discovery": 27,
    "ext_graph_bfs_reach": 9,
    "ext_graph_hits": 14,
    "ext_graph_kcore": 10,
    "ext_graph_label_prop": 16,
    "ext_graph_link_predict": 5,
    "ext_graph_modularity": 7,
    "ext_graph_triangles": 5,
    "ext_hurst_exponent": 2,
    "ext_item_cooccur_cosine": 6,
    "ext_join_size_estimate": 5,
    "ext_kmeans_lloyd": 4,
    "ext_lof_outliers": 4,
    "ext_lsh_bucket_stats": 3,
    "ext_markov_absorption": 0,
    "ext_mcnemar_test": 13,
    "ext_nb_langid": 14,
    "ext_pacf": 2,
    "ext_partition_skew_report": 3,
    "ext_permutation_test": 3,  # r11: exploded replicate agg (tiny) replaced the 66-col wide agg
    "ext_pref_bradley_terry": 2,
    "ext_price_dispersion": 1,
    "ext_price_elasticity": 3,
    "ext_price_volume_mix": 5,
    "ext_qte": 0,
    "ext_retrieval_ndcg": 5,
    "ext_seq_basket_pairs": 3,
    "ext_shift_share": 5,
    "ext_spearman_corr": 6,
    "ext_text_doc_novelty": 3,
    "ext_text_dup_ngram_spans": 3,
    "ext_text_loss_mask": 3,
    "ext_text_winnowing": 3,
    "ext_trend_ols": 2,
    "sink_codec_roundtrip": 0,
}


# Second tier (round 9): the NEXT 64 bench keys by sf0.1 cost
# (bench_detail.json ranks 65-128, ~0.97-1.9 s each). Same contract and
# measurement conditions as _CEILINGS (per-key cold caches, sf0.01).
# Tiers 1+2 pin the entire >=0.97 s head of the 339-key bench;
# _CEILINGS_TIER3 below completes the set.
_CEILINGS_TIER2 = {
    "ext_ann_ivf": 1,
    "ext_ann_lsh": 1,
    "ext_attr_shapley": 3,
    "ext_burrows_delta": 5,
    "ext_calibration_temperature": 1,
    "ext_cluster_validity": 9,
    "ext_cochran_q": 3,
    "ext_curation_pipeline": 3,
    "ext_dedup_semantic": 2,
    "ext_design_effect": 1,
    "ext_embed_cka_views": 1,
    "ext_embed_matryoshka_audit": 5,
    "ext_embed_outlier_knn": 1,
    "ext_eval_cv_auc": 1,
    "ext_eval_lift": 2,
    "ext_exact_quantiles_grouped": 7,
    "ext_feature_mi": 4,
    "ext_fit_negbinom": 2,
    "ext_fleiss_kappa": 3,
    "ext_forecast_reconcile": 9,
    "ext_gini_feature_importance": 4,
    "ext_granger_causality": 2,
    "ext_hclust_single_link": 4,
    "ext_incremental_delete": 1,
    "ext_ipf_raking": 1,
    "ext_jl_projection": 4,
    "ext_jonckheere_trend": 4,
    "ext_kruskal_wallis": 6,
    "ext_levene_bf": 4,
    "ext_linkage_patterns": 2,
    "ext_mann_kendall": 4,
    "ext_metric_cuped": 3,
    "ext_neyman_allocation": 2,
    "ext_part_vintage_revenue": 3,
    "ext_peak_concurrency": 3,
    "ext_privacy_t_closeness": 6,
    "ext_qq_points": 4,
    "ext_rank_effect_stats": 4,
    "ext_recursive_hierarchy": 1,
    "ext_rerank_rrf": 5,
    "ext_retrieval_mrr": 4,
    "ext_retrieval_recall": 3,
    "ext_revenue_waterfall": 3,
    "ext_runs_test": 1,
    "ext_session_path_topk": 5,
    "ext_simpson_screen": 2,
    "ext_sketch_ams_f2": 3,
    "ext_sketch_kmv_setops": 7,
    "ext_source_js_divergence": 3,
    "ext_source_overlap": 3,
    "ext_tail_dependence": 3,
    "ext_text_collocations": 4,
    "ext_text_decontaminate": 3,
    "ext_text_dup_span_remove": 2,
    "ext_text_heaps_law": 6,
    "ext_text_rake": 3,
    "ext_text_vocab_coverage": 3,
    "ext_theil_decomposition": 4,
    "ext_ts_rolling_corr": 2,
    "ext_two_sample_ks": 4,
    "ext_udtf_installments": 2,
    "ext_weighted_quantiles": 5,
    "ext_wilcoxon_signed_rank": 4,
    "src_python_datasource": 1,
}


# Third tier (round 9, completion): EVERY remaining bench key —
# bench_detail.json ranks 129-339 (sub-~0.97 s at sf0.1). With tiers 1+2
# this plan-pins the full 339-key bench: no bench key can silently gain a
# shuffle anywhere. Measured with scripts/measure_exchange_ceilings.py
# (the same per-key cold-cache, sf0.01 protocol as the tiers above); use
# that script when a deliberate rewrite needs a pin update.
_CEILINGS_TIER3 = {
    "agg_boolean_funcs": 1,
    "agg_count_distinct": 2,
    "agg_histogram": 1,
    "agg_rollup": 1,
    "agg_sum_avg_min_max": 1,
    "array_funcs_misc": 0,
    "cte_pipeline": 1,
    "ext_ab_power_analysis": 2,
    "ext_ab_srm_check": 1,
    "ext_active_users_rolling": 4,
    "ext_activity_heatmap": 1,
    "ext_adstock_transform": 2,
    "ext_agg_skew_twophase": 2,
    "ext_anderson_darling_2s": 3,
    "ext_anomaly_rolling_z": 2,
    "ext_anova_quantity": 2,
    "ext_arrow_length_hist": 2,
    "ext_asof_join": 1,
    "ext_asof_nearest": 2,
    "ext_backlog_aging": 3,
    "ext_bcg_matrix": 2,
    "ext_benford_digits": 2,
    "ext_bizday_lag": 2,
    "ext_capture_recapture": 2,
    "ext_causal_ipw_ate": 2,
    "ext_causal_poststrat_ate": 3,
    "ext_ccnet_bucket": 5,
    "ext_cdc_apply": 1,
    "ext_changepoint_binseg": 3,
    "ext_changepoint_cusum": 4,
    "ext_chi2_gof": 4,
    "ext_chi2_independence": 3,
    "ext_class_centroid_sim": 4,
    "ext_cohens_kappa": 4,
    "ext_cohort_ltv": 3,
    # r10: single-scan rewrite — one scalar aggregate (one Exchange)
    # exploded to the 5-row report, replacing 5 unioned scalar aggregates
    # (5 scans / 5 Exchanges)
    "ext_contract_enforce": 1,
    "ext_conv_sample_build": 1,
    "ext_corpus_manifest": 1,
    "ext_cramer_von_mises": 3,
    "ext_customer_rfm": 4,
    "ext_data_epoch_order": 1,
    "ext_data_shard": 1,
    "ext_date_spine_fill": 2,
    "ext_dedup_exact": 1,
    "ext_dedup_minhash_banded": 1,
    "ext_dow_quantile_bands": 5,
    "ext_dpo_pair_build": 2,
    "ext_drift_psi": 4,
    "ext_dtw_distance": 2,
    "ext_eb_shrinkage": 3,
    "ext_embed_isotropy": 7,
    "ext_embed_mmd": 3,
    "ext_embed_pca_power": 5,
    "ext_embed_pca_project": 3,
    "ext_embed_quantile_norm": 2,
    "ext_embed_quantize": 2,
    "ext_embed_whiten": 3,
    "ext_eoq": 3,
    "ext_eval_auc": 2,
    "ext_eval_calibration": 2,
    "ext_eval_confusion": 3,
    "ext_eval_pass_at_k": 1,
    "ext_eval_qini_uplift": 2,
    "ext_eval_threshold_sweep": 2,
    "ext_event_transition": 5,
    "ext_events_burst_hours": 4,
    "ext_evt_gumbel": 3,
    "ext_fd_discovery": 4,
    "ext_fdr_bh": 3,
    "ext_feature_woe_iv": 2,
    "ext_fit_lognormal": 2,
    "ext_forecast_backtest": 3,
    "ext_forecast_mase": 2,
    "ext_friedman_test": 6,
    "ext_funnel_latency": 2,
    "ext_good_turing": 6,
    "ext_gower_topk": 1,
    "ext_graph_assortativity": 4,
    "ext_grid_density_clusters": 1,
    "ext_hist2d_qty_discount": 2,
    "ext_hmm_viterbi": 4,
    "ext_holt_linear": 3,
    "ext_holt_winters": 2,
    "ext_incremental_agg_maintain": 2,
    "ext_interval_overlap_join": 1,
    "ext_isotonic_calibration": 4,
    "ext_jackknife_ratio": 4,
    "ext_json_extract": 1,
    "ext_kalman_filter": 2,
    "ext_kendall_tau": 6,
    "ext_keyword_pmi": 5,
    "ext_kfold_assign": 2,
    "ext_knee_elbow": 4,
    "ext_label_balance": 4,
    "ext_length_bucket_batch": 4,
    "ext_littles_law": 3,
    "ext_lorenz_points": 4,
    "ext_markov_entropy_rate": 4,
    "ext_max_drawdown": 3,
    "ext_mediation_sobel": 2,
    "ext_metric_delta_ratio": 2,
    "ext_mixture_temperature": 1,
    "ext_mm_aspect_bucket": 3,
    "ext_mm_video_neardup": 3,
    "ext_moments_profile": 1,
    "ext_mood_median": 6,
    "ext_new_vs_returning": 3,
    "ext_ohlc_weekly": 3,
    "ext_order_cycle_time": 3,
    "ext_outlier_mad": 0,
    "ext_overdispersion_check": 5,
    "ext_page_trend": 6,
    "ext_pandas_trimmed_mean": 1,
    "ext_part_pareto": 4,
    "ext_partial_corr": 2,
    "ext_pinball_grid_fit": 5,
    "ext_pr_average_precision": 4,
    "ext_price_indices": 2,
    "ext_privacy_erasure": 6,
    "ext_privacy_l_diversity": 2,
    "ext_promo_effect_did": 1,
    "ext_quality_filter": 1,
    "ext_quality_logistic": 0,
    "ext_rank_biased_overlap": 3,
    "ext_rdd_screen": 2,
    "ext_recency_weighted_ltv": 2,
    "ext_reorder_rate": 2,
    "ext_return_rate_wilson": 1,
    "ext_safety_stock": 3,
    "ext_sample_negatives_plan": 2,
    "ext_sample_weighted": 1,
    "ext_scd2_hard_delete": 1,
    "ext_seasonal_anomaly": 1,
    "ext_seq_alignment": 3,
    "ext_seq_error_retry": 3,
    "ext_seq_pattern_v": 2,
    "ext_ses_forecast": 2,
    "ext_session_attribution": 2,
    "ext_session_bounce": 2,
    "ext_session_window": 1,
    "ext_ship_lag_sla": 1,
    "ext_sketch_bloom": 2,
    "ext_sketch_countmin": 2,
    "ext_sketch_hll_custom": 4,
    "ext_sketch_kmv": 2,
    "ext_sketch_quantile_bottomk": 2,
    "ext_skyline_parts": 2,
    "ext_source_freshness": 4,
    "ext_source_lang_mix": 2,
    "ext_spc_rules": 4,
    "ext_spectral_period": 2,
    "ext_spend_gini": 2,
    "ext_split_order_screen": 3,
    "ext_sprt_sequential": 2,
    "ext_stat_wasserstein_1d": 3,
    "ext_stickiness_dau_mau": 6,
    "ext_supplier_hhi": 3,
    "ext_survival_km": 5,
    "ext_table_diff": 3,
    "ext_table_fingerprint": 2,
    "ext_tail_index_hill": 1,
    "ext_target_encode_loo": 1,
    "ext_text_bigram_kn": 4,
    "ext_text_bigram_lm": 4,
    "ext_text_burstiness": 3,
    "ext_text_canary_scan": 1,
    "ext_text_char_entropy": 2,
    "ext_text_chunk": 0,
    "ext_text_curriculum": 1,
    "ext_text_edit_distance_blocked": 0,
    "ext_text_encode_ids": 3,
    "ext_text_fingerprint": 1,
    "ext_text_gopher_rules": 0,
    "ext_text_greenlist_score": 0,
    "ext_text_hapax": 3,
    "ext_text_line_dedup": 3,
    "ext_text_pack": 3,
    "ext_text_quality": 0,
    "ext_text_readability": 0,
    "ext_text_template_mask": 3,
    "ext_text_ttr": 0,
    "ext_theilsen_trend": 2,
    "ext_time_interpolate": 2,
    "ext_token_budget_plan": 3,
    "ext_tokenizer_fertility": 1,
    "ext_topk_cosine": 1,
    "ext_ts_autocorrelation": 2,
    "ext_ts_decompose": 4,
    "ext_ts_durbin_watson": 3,
    "ext_user_churn_features": 3,
    "ext_user_streaks": 2,
    "ext_value_band_migration": 3,
    "ext_win_rolling_median": 1,
    "ext_window_funnel": 2,
    "ext_window_tumbling": 1,
    "flagship_exec_summary": 4,
    "join_full_outer": 2,
    "join_range_interval": 0,
    "join_three_way_chain": 1,
    "q_forecast_revenue": 1,
    "q_local_supplier_volume": 1,
    "q_product_profit": 1,
    "q_returned_item_ranking": 1,
    "q_shipping_priority": 1,
    "scan_partition_pruned": 1,
    "src_binary_files": 0,
    "str_funcs_misc": 0,
    "win_lag_12_partitioned": 2,
    "win_nth_ratio": 1,
    "win_rank_dense_ntile": 1,
    "win_row_number_dedup": 1,
}

_ALL_CEILINGS = {**_CEILINGS, **_CEILINGS_TIER2, **_CEILINGS_TIER3}


def test_every_bench_key_is_pinned():
    """Completeness guard: the three tiers cover the ENTIRE current bench
    set, so a key added to the bench without a measured ceiling (or a
    pinned key whose query was renamed) fails here rather than silently
    running unpinned. Measure new keys with
    scripts/measure_exchange_ceilings.py before adding them."""
    import json

    bench = set(json.loads((ROOT / "bench_detail.json").read_text())["detail"])
    unpinned = bench - set(_ALL_CEILINGS)
    stale = set(_ALL_CEILINGS) - set(_QUERIES)
    assert not unpinned, f"bench keys without an Exchange ceiling: {sorted(unpinned)}"
    assert not stale, f"pinned keys not in the registry: {sorted(stale)}"
    # tiers must be disjoint: the {**t1, **t2, **t3} merge silently keeps
    # the LAST value on a duplicate key, so a key pasted into two tiers
    # could loosen its ceiling without any test noticing
    n_tiers = len(_CEILINGS) + len(_CEILINGS_TIER2) + len(_CEILINGS_TIER3)
    assert len(_ALL_CEILINGS) == n_tiers, (
        "a key is pinned in more than one tier — the merge keeps only the "
        "last pin; remove the duplicate"
    )


@pytest.mark.parametrize("name", sorted(_ALL_CEILINGS))
def test_shuffle_count_ceiling(spark, name):
    p = plan_str(_QUERIES[name](spark, SF_DIR))
    n = p.count(") Exchange")
    assert n <= _ALL_CEILINGS[name], (
        f"{name}: {n} Exchange operators in plan, ceiling is "
        f"{_ALL_CEILINGS[name]} — a shuffle crept back in:\n{p[:3000]}"
    )
