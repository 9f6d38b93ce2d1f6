"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship query (TPC-H Q1-shaped groupBy-agg) at sf0.001.
queries()       — every implemented operator from SURVEY.md §2 + the
                  north-star LLM-pipeline suite (registry-backed).
oracle_sql()    — matching DuckDB SQL per key (omitted only for ops
                  that are not SQL-expressible).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from voter_file_etl_spark import registry  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Driver-coverage rotation (the driver oracle-checks the FIRST 50 keys
# of queries() per round — steady-state contract in SURVEY.md §8).
#
# Since r10 (backlog burn complete, cumulative 441/441 driver-green)
# _CHECK_FIRST holds the oldest-green re-check window and _BACKFILL's
# order IS the standing re-check plan, oldest greens first. Both list
# literals below are GENERATED — `tools/rotate_window.py --write`
# confirms the previous round's CORRECTNESS file, retires the window
# to the tail end, promotes the next 50 oldest greens, refreshes the
# anchors in tests/rotation_pins.json, and runs the rotation gates.
# Do not reorder by hand. Any key newly registered mid-round is
# unplaced and would sort after the head — tests/test_rotation.py
# fails the suite until it is placed explicitly (a new key fronts
# _CHECK_FIRST for its first check before entering the cycle).
# ---------------------------------------------------------------------------
_CHECK_FIRST = [
    # r15 window: oldest greens after the r14 retire (generated by tools/rotate_window.py --write)
    "j21_asof_tolerance", "x66_tokenizer_fertility",
    "x67_cluster_size_profile", "f11_email_normalize", "w16_moving_slope",
    "s18_multiline_json", "g6_common_neighbors", "m15_image_channel_stats",
    "x68_mixture_upsample", "x69_range_shards", "l16_position_deletes",
    "m16_audio_silence_runs", "x70_boilerplate_scrub", "u6_union_by_name",
    "a43_markov_transitions", "a44_path_pattern", "t17_higher_order_funcs",
    "s19_partition_discovery", "sql13_pipe_syntax", "t18_variant_extract",
    "sql14_parameterized", "e2_media_pipeline", "a45_window_funnel",
    "a46_dow_seasonality", "f12_money_parse", "l17_dv_purge",
    "e3_observe_metrics", "l18_restore", "w17_rolling_mad",
    "x71_importance_weights", "g7_k_core", "m17_bmp_decode",
    "a47_ratio_to_report", "w18_resample_bfill", "d6_blocking_recall",
    "m18_wav_decimate", "st16_stream_distinct_users", "l19_shallow_clone",
    "w19_interval_union", "a49_market_basket", "st15_transform_with_state",
    "a48_string_agg", "sql15_unpivot_syntax", "x72_length_bucket_pack",
    "x73_calibration_curve", "l20_write_audit_publish", "w20_cusum_drift",
    "f13_luhn_checksum", "x74_source_js_divergence",
    "l21_concurrent_merge_retry",
]
_BACKFILL = [
    # -- driver-green round 7 (retired window, CORRECTNESS_r07 50/50) --
    "s20_bloom_filter_pointread", "a50_rfm_segmentation",
    "x75_code_data_filter", "sql16_join_hints", "l22_log_checkpoint",
    "w21_rolling_corr", "f14_timezone_localize", "x77_dp_noisy_release",
    "sql17_group_by_all", "x78_bm25_scoring", "a52_kaplan_meier",
    "a53_holt_forecast", "s21_corrupt_file_recovery", "a54_referential_audit",
    "st17_stream_cusum", "p11_transpose", "e4_entity_resolution",
    "u7_intersect_all", "x79_dataset_card", "a55_pareto_share",
    "l23_retention_vacuum", "w22_sigma_anomaly_days", "w23_mom_change",
    "a57_new_vs_returning", "x81_embedding_norm_audit",
    "s22_glob_recursive_scan", "w24_rank_migration", "a58_repeat_intervals",
    "x80_zipf_check", "j22_bracket_lookup", "a56_abc_analysis",
    "g8_degree_assortativity", "x82_prefix_reuse", "w25_local_peaks",
    "x83_term_burstiness", "x84_reshard_stability", "x85_sample_bias_audit",
    "st18_stream_topk", "m19_media_sniff", "l24_merge_schema_evolution",
    "e5_board_pack",
    # -- driver-green round 8 (retired window, CORRECTNESS_r08 50/50) --
    "a59_topn_plus_other", "x86_k_anonymity_audit", "a60_backtest_naive",
    "s23_zstd_roundtrip", "j23_null_skew_split", "o6_keyset_pagination",
    "a61_same_store_growth", "x87_injection_scan", "a62_holiday_uplift",
    "x88_threshold_sweep", "a63_forecast_backtest", "w26_growth_streaks",
    "a64_cycle_time", "a65_growth_contribution", "l25_orphan_audit",
    "a66_weekday_hour_heatmap", "w27_decay_score", "x89_dedup_savings",
    "a67_cohort_ltv", "x90_derived_stopwords", "w28_monthly_bands",
    "w29_ohlc", "o7_skyline", "a68_bitmap_distinct", "x91_code_switching",
    "x92_inverted_index", "g9_label_propagation", "a69_dau_mau_stickiness",
    "s24_csv_header_drift", "a70_equidepth_histogram", "w30_resample_linterp",
    "x93_repeated_ngram_spans", "a71_freshness_audit",
    "x94_power_iteration_pc", "sql18_named_window", "f15_surrogate_key",
    "e6_ops_health", "x95_cdc_chunking", "l26_merge_full_sync",
    "sql19_filtered_agg", "j24_join_explosion_audit",
    "a72_revenue_recognition", "l27_bitemporal_asof", "d7_duplicate_payments",
    "x96_feature_hashing", "l28_dynamic_partition_overwrite",
    "a73_revenue_bridge", "a74_spatial_hotspots", "l29_scd3_dimension",
    "a75_fiscal_445_calendar",
    # -- driver-green round 9 (retired window, CORRECTNESS_r09 50/50:
    # the final 43 first-checks + the first 7 oldest-green re-checks
    # the driver ran ahead of schedule — VERDICT r9 #1) --
    "w31_series_align", "x97_soft_dedup_weights", "e7_medallion_pipeline",
    "x98_winnow_overlap", "u8_diff_column_provenance",
    "j25_interval_intersect_measure", "g10_two_hop_reach",
    "j26_role_playing_dates", "s26_storage_footprint_audit",
    "a76_markov_3step", "t19_string_distance_funcs",
    "sql20_set_op_precedence", "x99_ndcg_at_10", "x100_planted_dup_mrr",
    "a77_forecast_interval_coverage", "x101_rendezvous_hashing",
    "w32_hot_streak_window", "a78_anova_eta_squared", "t20_array_set_algebra",
    "x102_prefix_filter_join", "d8_sample_dedup_bias", "f16_geohash_decode",
    "f17_geohash_neighbors", "l30_merge_idempotency",
    "st19_exactly_once_sink", "w33_rolling_mode", "a79_alert_rule_backtest",
    "a80_diff_in_diff", "sql21_range_tvf", "sql22_lateral_column_alias",
    "sql23_interval_range_frame", "sql24_projected_exists",
    "m20_integral_image", "a81_price_volume_mix", "j27_anti_range_join",
    "m21_conv2d_stencil", "s27_rowgroup_stats_pruning", "a82_runs_test",
    "f18_binary_encodings", "sql25_star_except", "a83_bootstrap_ci",
    "g11_closeness_landmarks", "a84_proportional_allocation", "a2_reconcile",
    "a4_groupby_count", "a5_household_agg", "a6_multi_distinct", "a7_rollup",
    "a13_argmax", "a14_stats_exact",
    # -- driver-green round 10 (retired window, CORRECTNESS_r10 50/50) --
    "s1_file_scan", "s2_csv_read", "s6_count", "s7_write_roundtrip",
    "s8_manifest", "p1_project", "p2_nullif", "p3_cast", "p4_filter_contains",
    "p5_filter_prefix", "p6_anti_join", "p7_offset_window",
    "s9_json_roundtrip", "l3_partition_pruning", "s10_permissive_read",
    "j1_inner_join", "j2_left_join", "j3_semi_join", "j4_large_join",
    "j5_prefix_join", "j8_salted_join", "l2_overwrite_roundtrip",
    "l4_merge_upsert", "p9_unpivot", "a8_cube", "a9_grouping_sets",
    "a10_percentiles", "a11_approx_distinct", "w5_ntile_dist",
    "a12_approx_percentile", "f1_geohash", "f2_str_replace",
    "f3_split_extract", "t1_string_funcs", "t2_date_funcs", "t3_math_funcs",
    "t4_conditional", "t8_regexp_funcs", "t9_haversine", "u1_union",
    "u2_intersect", "t7_array_funcs", "p8_pivot", "m5_decode",
    "sql1_topk_revenue", "sql2_join_chain", "sql3_correlated_subquery",
    "sql4_in_subquery", "j6_asof_join", "j7_range_join",
    # -- driver-green round 11 (retired window, CORRECTNESS_r11 50/50) --
    "st2_sliding_window", "st3_session_window", "t6_json_funcs",
    "w1_row_number", "w2_rank_dense_rank", "w3_agg_over_frame", "w4_lag_lead",
    "w6_first_last", "d1_drop_duplicates", "d2_fuzzy_dedup", "x1_dedup_exact",
    "x2_dedup_minhash", "x3_dedup_simhash", "x4_ngram_jaccard",
    "x17_dedup_clusters", "x22_decontaminate", "m1_multimodal_meta",
    "m2_multimodal_features", "m3_frame_sample", "m4_resize",
    "x13_hash_sample", "x14_stratified_sample", "x15_train_test_split",
    "x21_context_packing", "x23_curation_pipeline", "x5_embedding_dedup",
    "x6_ann_topk", "x12_ann_ivf", "x7_ann_lsh", "t5_tokenize_explode",
    "x8_lang_id", "x9_quality_score", "x10_token_count", "x11_fingerprint",
    "x16_tfidf", "x18_bigram_lm", "x20_pii_redact", "st6_interval_join",
    "st4_stateful_dedup", "st1_tumbling_window", "st5_stream_static_join",
    "x24_repetition_filter", "x25_domain_mix", "x26_semdedup",
    "x27_perplexity_filter", "x28_bpe_merge_pairs", "x29_fuzzy_decontaminate",
    "x30_kmeans_codebook", "x31_url_normalize", "m6_audio_decode",
    # -- driver-green round 12 (retired window, CORRECTNESS_r12 50/50) --
    "m7_image_phash", "j9_bucketed_join", "j10_spatial_blocked_join",
    "st7_foreach_batch_upsert", "st8_stream_dedup_builtin", "e1_etl_pipeline",
    "l5_schema_evolution", "sql5_window_rank", "a15_mode",
    "f4_normalize_phone", "o1_order_by", "o3_limit_offset", "o4_top_k",
    "u3_except", "u4_snapshot_diff", "w7_percent_rank_cume_dist",
    "a16_weighted_median", "a17_corr_covar", "a18_histogram",
    "a32_data_quality_checks", "a34_benford_first_digit", "a29_attribution",
    "a31_cms_heavy_hitters", "a33_rolling_active_users", "s11_quoted_csv",
    "p10_null_semantics", "p10_try_arithmetic", "s16_fixed_width",
    "f5_address_standardize", "f6_multi_format_dates", "j13_band_join",
    "j14_null_safe_join", "j15_scd2_pit_join", "j16_interval_overlap_join",
    "l6_compaction", "u5_except_all", "d3_column_drift", "sql9_grouping_id",
    "j11_nearest_event_join", "t11_map_funcs", "w8_time_range_frame",
    "l7_txn_log_merge", "l8_time_travel", "l9_gdpr_delete",
    "l10_scd2_history", "l11_change_feed", "l12_zorder_bins",
    "l13_incremental_agg_view", "l15_vacuum", "st9_watermark_late_drop",
    # -- driver-green round 13 (retired window, CORRECTNESS_r13 50/50) --
    "st10_stream_into_logtable", "st11_stream_outer_join",
    "st13_sessionize_state", "st14_incremental_ingest", "m8_video_decode",
    "m9_png_decode", "m10_decode_quarantine", "m11_image_tiles",
    "m12_audio_energy", "m13_video_scene_cuts", "s12_orc_roundtrip",
    "s13_binary_source", "s14_nested_roundtrip", "s15_merge_schema",
    "sql6_cte_exists", "sql7_recursive_hierarchy", "sql8_lateral_topn",
    "x41_substring_dedup", "x42_doc_chunking", "x43_pmi_cooccurrence",
    "x44_line_dedup", "x45_source_overlap", "x46_incremental_dedup",
    "x47_embedding_quantize", "x48_dedup_survivorship",
    "x49_quality_prune_curve", "x50_span_corruption", "x51_nucleus_selection",
    "x52_embedding_mean_pool", "x53_hard_negative_mining",
    "x32_temperature_mix", "x33_boilerplate_ngrams", "x34_quality_classifier",
    "x35_containment_dedup", "x36_oov_filter", "x37_entropy_filter",
    "x38_minhash_accuracy", "x39_ann_recall", "x40_curation_report",
    "g1_pagerank", "g3_bfs_levels", "g2_triangle_count", "a19_bool_bit_agg",
    "a21_column_profile", "a22_funnel", "a23_retention_cohorts",
    "a24_sweepline_concurrency", "a27_key_skew_profile",
    "a28_hll_sketch_merge", "w9_nth_value",
    # -- driver-green round 14 (retired window, CORRECTNESS_r14 50/50) --
    "w10_gaps_islands", "w11_resample_ffill", "w12_cumulative_distinct",
    "t10_stem_stopword", "t12_hash_encode", "t13_date_arith",
    "j12_full_outer_join", "x54_reservoir_sample", "j17_knn_join",
    "g4_connected_components", "x55_embedding_outlier",
    "j18_skew_salted_join", "x56_ngram_novelty", "m14_phash_near_dup",
    "a35_mad_outliers", "x57_token_budget_fill", "x58_diversity_sample",
    "f7_ipv4_funcs", "t14_bitwise_funcs", "sql10_qualify_topn",
    "w13_moving_median", "a36_ks_two_sample", "x59_quantile_normalize",
    "x60_winsorize", "x61_shard_balance", "j19_edit_distance_join",
    "d4_record_linkage", "g5_degree_distribution", "a37_chi_square",
    "a38_lag_autocovariance", "x62_langid_confusion", "f8_hash_digest_funcs",
    "o5_nulls_ordering", "w14_drawdown", "j20_star_denorm", "w15_ewma",
    "a39_gini", "a40_conversion_lag", "f9_url_parse", "t15_unicode_sanitize",
    "x63_bloom_prefilter", "x64_token_shift", "s17_compressed_csv",
    "a41_ols_trend", "t16_json_nested", "d5_golden_record",
    "x65_vocab_coverage", "sql11_pivot_syntax", "f10_phonetic_key",
    "a42_sketch_overlap",
]


def _ordered(keys: dict) -> list[str]:
    head = [k for k in _CHECK_FIRST if k in keys]
    placed = set(head) | set(_BACKFILL)
    new = [k for k in keys if k not in placed]  # registered this round
    backfill = [k for k in _BACKFILL if k in keys]
    return head + new + backfill


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    registry.load_all()
    return registry.QUERIES["a4_groupby_count"](spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry.load_all()
    return {k: registry.QUERIES[k] for k in _ordered(registry.QUERIES)}


def oracle_sql() -> dict[str, str]:
    registry.load_all()
    return dict(registry.ORACLE)
