"""Query registry: one place where every implemented operator from
SURVEY.md §2 (plus the training-data-pipeline extensions) is declared
as a (Spark callable, DuckDB oracle SQL) pair.

``__spark_entry__.queries()`` / ``oracle_sql()``, ``bench.py`` and the
parity tests all read from this registry, so a query is never declared
in one place and checked in another.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None,
    *,
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "", bench=bench, tags=tags
        )
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in QUERIES.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}


def bench_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in QUERIES.items() if spec.bench}


_LOADED = False

# Queries with a green hash-match row in a CORRECTNESS_r0N.json,
# keyed by the round of their LATEST green row.  The round driver
# grades a bounded prefix of the registry (exactly the first
# _WINDOW entries), so already-hard-verified queries are demoted
# behind the window and not-yet-driver-checked ones float to the
# front.  Remove a name from its round set if its semantics (or the
# modules under it) change — it then needs re-grading.  The round
# key feeds the ROTATION policy (VERDICT r8 #4): with the
# never-checked backlog empty, window slots left over after the
# unverified names are filled by the OLDEST-green names first, so
# stale rows age out against the moving codebase instead of r1 rows
# staying unexamined forever.  A rotated name re-graded green moves
# to that round's set (its age resets).
_WINDOW = 50

_VERIFIED_BY_ROUND: dict[int, frozenset[str]] = {}

# --- green in CORRECTNESS_r09.json (round-9 driver window: 47 of the
# 50 greens — 16 new r9 operators, 7 decode-family re-grades, and 24
# of the 27 rotated r1 rows whose age resets here.  Three r9 greens
# are deliberately NOT in this set because round 10 touches the code
# under them -> re-grade, per this structure's rule:
# g_dbscan_grid (the forced O(n) core-side broadcasts came out,
# VERDICT r9 #3), c_multipattern_contamination (automaton now ships
# via sc.broadcast instead of closure pickle, VERDICT r9 #5, plus the
# aho_corasick_build input asserts from ADVICE), and
# v_rrf_hybrid_retrieval (its oracle now resolves through the
# import-order-independent top-of-module import, ADVICE r9) ---
_VERIFIED_BY_ROUND[9] = frozenset({
    "m_gif_giflib_parity", "m_decode_native_dispatch",
    "s_stream_media_decode",
    "m_jpeg_libjpeg_parity", "m_jpeg_quality_estimate",
    "d_phash_clusters", "d_audio_fingerprint", "m_corpus_curation_e2e",
    "t_unigram_viterbi", "s_stream_audio_fingerprint", "d_bbit_minhash",
    "x_theta_sketch_intersection",
    # c_kcenter_coreset left this set in r15: empty-corpus
    # driver-side seed-collect guard (VERDICT r14 #3) -> re-grade
    "t_quality_classifier_hashed", "j_spatial_neighbor_join",
    "d_longest_common_span", "s_stream_quality_classifier",
    # x_sprt_sequential_test left this set in r15: llr_final moved
    # from max(struct) to max_by (no-sort HashAggregate,
    # OPTIMIZATION_r15.md) -> re-grade
    "c_shard_rebalance_strategies",
    "t_token_stats", "t_bpe_token_count", "t_rolling_fingerprint",
    "t_language_id", "t_quality_scores", "q1_pricing_summary",
    "q3_shipping_priority", "q5_local_supplier_volume",
    "a1_consolidate_argmax", "a3_min_max_zoom", "a4_distinct_keys",
    "a5_rownum_ids", "a6_diagnostic_counters", "p2_microdegree_round",
    "p4_typed_tag_decode", "p5_nibble_unpack", "p10_json_tags",
    "f3_selective_filter", "j_semi_join", "j_anti_join",
    "j_outer_join_coalesce", "j_range_join", "w_topn_per_group",
    "w_running_total", "w_lag_delta", "w_range_frame_rolling",
    "w_ntile_buckets",
})

# --- green in CORRECTNESS_r08.json (round-8 driver window: 44 of the
# 50 greens; x_gains_deciles / w_target_encoding are NOT here (r13 divide-guard audit fixes
# -> re-grade).  t_heaps_law / t_js_divergence are NOT here either
# (r14 degenerate-input audit guards -> re-grade).
# Original r9-era exclusions below:
# 50 greens; m_decode_native_dispatch / m_decode_corpus_bench /
# s_stream_media_decode / m_jpeg_libjpeg_parity /
# m_jpeg_quality_estimate / d_phash_clusters are deliberately NOT
# here — r9 changed the modules under them: the libjpeg shim's
# layout pass went header-only, the dispatch layer threads
# max_pixels, and the bench row gained the n_fallback/n_native_error
# columns (VERDICT r8 #7) -> re-grade, per this structure's rule) ---
_VERIFIED_BY_ROUND[8] = frozenset({
    "m2db_decode_sightings", "c_cluster_aware_split",
    "g_harmonic_centrality", "x_linear_attribution",
    "d_cross_source_matrix", "x_qq_deciles", "v_ann_ndcg",
    # d_minhash_estimate_error left this set in r15: numeric no-sort
    # signature path (OPTIMIZATION_r15.md) -> re-grade
    "c_soft_dedup_weights",
    "t_boundary_overlap", "t_compressibility_filter",
    "g_robustness_hub_removal", "x_theil_sen", "c_shard_snake_balance", "x_skyline_pareto",
    "d_threshold_sweep", "v_rocchio_expansion", "m_jpeg_pixels",
    "t_bigram_perplexity", "x_bloom_filter", "m_webp_pixels",
    # c_semdedup left this set in r15: empty-corpus driver-side
    # centroid-collect guard (VERDICT r14 #3) -> re-grade
    "m_resize_pixels", "t_dup_ngram_coverage",
    # f_collated_grouping left this set in r16: SortAggregate
    # adjudication recorded in its docstring (collated grouping is
    # sort-based by engine design; code reverted to the one-pass
    # form after the split attempt) -> re-grade
    "f_parameterized_sql", "u_python_udtf",
    "v_ann_filtered", "x_bm25_retrieval",
    "t_lang_confusion", "c_contamination_bloom", "g_betweenness",
    "m_exif_orientation", "m_resize_exif_jpeg",
})

_VERIFIED_BY_ROUND[7] = frozenset({
    # --- green in CORRECTNESS_r07.json.  x_smape_seasonal_naive /
    # d_minhash_recall_eval / d_minhash_recall_skewed / x_runs_test /
    # x_ipw_ate are deliberately NOT here: the r13 static divide-guard
    # audit added degenerate-denominator guards to them -> re-grade,
    # per this structure's rule.  x_acf_lags / g_degree_assortativity
    # are NOT here either (r14: the shared _SPEARMAN_RHO expression
    # gained its degenerate-variance guard) ---
    "s_stream_checkpoint_resume",
    # f_csv_roundtrip / f_jsonl_roundtrip left this set in r16: the
    # min(md5) aggregate moved to the extrema.py no-sort split
    # (OPTIMIZATION_r16.md) -> re-grade
    "m_jpeg_dims", "t_bpe_encode_apply",
    "sql_group_by_all", "d_cluster_canonical",
    "j_asof_nearest", "g_hits_authorities",
    "x_psi_drift", "v_mmr_rerank",
    "x_conformal_interval",
    "m_webp_dims", "g_clustering_coefficient",
    # d_incremental_dedup left this set in r15: numeric no-sort
    # signature path (OPTIMIZATION_r15.md) -> re-grade
    "v_binary_quantization",
    "f_schema_evolution", "f_dynamic_partition_overwrite", "x_mann_kendall",
    "w_max_drawdown", "x_xicor", "m_mp4_duration",
    "v_centroid_drift", "sql_lateral_subquery",
    "f_compression_codecs",
    "w_ohlc_bars", "m_media_dispatch",
    # f_text_source / f_from_json_typed left this set in r16:
    # extrema.py no-sort split (OPTIMIZATION_r16.md) -> re-grade
    "x_weighted_median", "t_readability", "x_durbin_watson",
    "c_token_budget", "c_curriculum_order",
    "u_arrow_python_udf", "x_seasonality_strength", "x_gini_split",
})

# --- green in CORRECTNESS_r06.json (round-6 driver window:
# x_did_estimator / x_welch_ttest / x_ks_two_sample are NOT here
# (r13 divide-guard audit fixes -> re-grade); x_spearman_corr /
# x_poisson_bootstrap / x_group_linreg / x_cuped_adjustment /
# x_rater_kappa are NOT here either (r14 degenerate-input audit
# guards -> re-grade); the 17
# codec/external-parity queries, the 3 decimal re-grades, and 30
# drained from the r4/r5 registration backlog — 50/50 green.  13 of
# the 17 remain: the lz4/bzip2/zstd/lzma parity queries were retired
# with their codecs).
# m_gif_giflib_parity is deliberately NOT here: r9 changed
# giflib_oracle.py's bomb rails (local-descriptor charge, ADVICE r8)
# -> re-grade ---
_VERIFIED_BY_ROUND[6] = frozenset({
    "m_jpeg_progressive", "m_jpeg_sa_refinement", "m_jpeg_restart",
    "m_webp_libwebp_parity", "m_vp8_segmentation", "m_tiff_pixels",
    "m_tiff_libtiff_parity", "m_deflate_zlib_parity", "m_png_fromscratch",
    "m_gif_pixels", "m_vp8_pixels",
    "m_png_libpng_parity", "x_gini_concentration",
    "w_cusum_changepoint", "x_calibration_bins", "w_seasonal_decompose",
    "f_variant_histogram", "x_dp_noisy_counts",
    "c_k_anonymity", "x_chi_squared",
    "t_zipf_fit", "x_survival_km", "x_markov_transitions",
    "v_ann_recall_eval", "v_ann_multiprobe_recall",
    # f_orc_roundtrip and t_bpe_train_rounds were r6-green and their
    # code is UNCHANGED, but VERDICT r11 asks #4/#5 request exactly
    # these capabilities (ORC source, multi-round BPE trainer) — both
    # already exist, so they are FRONTED for a fresh current-HEAD
    # driver row instead of being re-implemented (removed from this
    # set -> tier 0).
    # m_binaryfile_ingest left this set in r16: extrema.py no-sort
    # split (OPTIMIZATION_r16.md) -> re-grade
    "x_seasonal_anomaly_days", "g_modularity", "v_ann_mrr_rank",
    "x_benford_test", "s_stream_append_emission",
    "x_entropy_segments", "g_adamic_adar",
    # g_random_walk left this set in r16: per-step argmax moved to
    # the WindowGroupLimit top-1 window (OPTIMIZATION_r16.md)
    # -> re-grade
})

# --- green in CORRECTNESS_r05.json (round-5 driver window;
# x_auc_rank is NOT here (r13 divide-guard audit fix -> re-grade); the 3
# red decimal-emission rows x_group_linreg / x_gini_concentration /
# w_cusum_changepoint were re-graded in r6 after the VARCHAR
# re-emission and live in the r6 set) ---
_VERIFIED_BY_ROUND[5] = frozenset({
    "c_cross_split_leakage", "c_domain_cap", "c_kfold_assign",
    "c_quantile_normalize", "d_dup_size_histogram", "d_edit_blocked_join",
    "g_bfs_layers", "g_exact_quartiles",
    # g_label_prop left this set in r16: per-round majority argmax
    # moved to the WindowGroupLimit top-1 window (OPTIMIZATION_r16.md)
    # -> re-grade
    "g_mode_per_group", "j_asof_join",
    "j_first_touch_attribution", "m2db_overlay_union", "m2db_repair_salvage",
    "m_jpeg_subsampled", "m_vp8_header_params", "m_webp_color_transform",
    "s_stream_foreachbatch_upsert", "t_event_trigrams", "u_cogroup_merge", "u_grouped_agg_udf",
    # v_ivf_seed_robustness / v_pca_power left this set in r15:
    # empty-corpus driver-side seed/iterate-collect guards
    # (VERDICT r14 #3) -> re-grade
    "v_pca_covariance",
    "v_random_projection",
    "w_longest_streak", "w_mad_outliers", "w_twap_per_user", "x_column_profile", "x_compaction_bins", "x_decimal_ledger",
    "x_dq_expectations", "x_hll_manual", "x_itemset_triples",
    "x_mutual_information", "x_share_of_parent", "x_table_diff",
    "x_winsorize", "x_zscore_outliers",
})

# --- green in CORRECTNESS_r04.json (round-4 driver window).
# d_semdedup_recall_hotcell / x_funnel_conversion are NOT here
# (r13 divide-guard audit fixes -> re-grade); g_pagerank /
# g_triangle_count are NOT here either (r14 degenerate-input audit:
# driver-side empty-graph return + zero-wedge closure guard ->
# re-grade).  26 rows rotated through the r14 window, re-greened,
# and live in the r14 set; these final 20 rotate in r15, which
# fully drains the r4 vintage (VERDICT r14 #2) ---
_VERIFIED_BY_ROUND[4] = frozenset({
    "c_weighted_sample", "d_prefix_filter_join", "g_exact_median",
    "g_kcore_peel", "m_webp_lz77_pixels",
    # r_cdc_merge_upsert rotated through the r15 window and
    # re-greened -> lives in the r15 set (age reset)
    "t_ngram_novelty", "u_udtf_chunker", "w_ewma_dyadic",
    "w_rolling_active_users", "w_scd2_intervals", "x_basket_lift",
    "x_bloom_semi_join", "x_bucketed_colocated_join",
    "x_incremental_reagg", "x_key_skew_profile",
    "x_partition_pruned_scan", "x_quantile_sketch", "x_zorder_layout",
})

# --- CORRECTNESS_r03.json: fully drained.  The 16 oldest rows
# rotated through the r12 window (r12 set), 31 more through r13
# (r13 set), and the final 2 (r_values_inline / f_map_surface)
# re-greened through the r14 window and live in the r14 set — no
# r3-aged row remains anywhere in the registry. ---
_VERIFIED_BY_ROUND[3] = frozenset()

# --- CORRECTNESS_r02.json: fully drained.  The final 22 r2-vintage
# greens (streaming/curation/m2db-spatial families) rotated through
# the r12 window, re-greened, and live in the r12 set — no r2-aged
# row remains anywhere in the registry. ---
_VERIFIED_BY_ROUND[2] = frozenset()

# --- CORRECTNESS_r01.json: fully drained.  The last 2 r1-vintage
# greens (d_sessionize_batch, x_salted_aggregation) rotated through
# the r11 window, re-greened, and live in the r11 set — no r1-aged
# row remains anywhere in the registry. ---
_VERIFIED_BY_ROUND[1] = frozenset()

# --- green in CORRECTNESS_r10.json (round-10 driver window: 46 of
# the 50 graded rows; the 4 reds were value-correct but their oracles
# left sum(BIGINT) columns uncast — HUGEINT → float64 dtype split —
# fixed in r11 and deliberately NOT listed here so they re-grade.
# x_fellegi_sunter is NOT here either (r14 degenerate-input audit:
# nm/nu = 0 guards on m_ppm/u_ppm -> re-grade).
# Also NOT listed despite being r10-green: c_shard_shuffle_manifest
# (signature definition changed to the block-chained form in r11),
# v_hard_negative_mining (degenerate-label filter added), and
# c_pps_systematic_sample (empty-corpus guard added) — module-touched
# re-grades per this structure's rule ---
_VERIFIED_BY_ROUND[10] = frozenset({
    "v_rrf_hybrid_retrieval", "c_multipattern_contamination",
    "g_dbscan_grid", "c_novelty_filter_frozen",
    "s_stream_novelty_filter", "d_paragraph_dedup", "x_coordinated_sample",
    "x_logreg_newton", "t_kneser_ney_bigram", "x_als_onefactor", "c_dataset_card", "s_stream_contamination_exact",
    "j_entity_resolution", "x_join_size_sketch",
    "r_incremental_view_maintenance", "g_mst_single_linkage",
    "c_mixture_reweight", "g_ktruss_peel",
    "r_dq_constraint_audit", "t_span_corruption_masks",
    "t_unicode_nfc_scrub", "w_percent_rank_decile", "s_global_topk",
    "g_rollup_revenue", "g_grouping_id", "x_corr_cov", "g_cube_flags",
    "set_union_distinct", "set_except", "set_intersect",
    "d_monthly_revenue", "d_dow_profile", "d_tumbling_window",
    "r_pivot_status_matrix", "r_unpivot_measures", "r_fuzzy_levenshtein",
    "q18_large_volume_customers", "r_not_in_null_semantics",
    "r_null_safe_equality",
})

# --- green in CORRECTNESS_r11.json (round-11 driver window: 45 of
# the 50 graded rows — the 24 new queries_round11 registrations, the
# 9 fronted re-grades (4 r10 HUGEINT-cast rows + block-chained
# signature + degenerate guards), and the 17 rotated r1/r2 rows whose
# age resets here.  Five r11 greens are deliberately NOT in this set
# because round 12 touches the code under them (ADVICE r11):
# x_mcnemar_paired / x_mann_whitney_u / x_krippendorff_alpha gained
# degenerate-denominator NULL guards, x_kendall_tau moved to textbook
# tau-b tie counts (new ties_both column), and f_tar_shard_ingest
# sits on functions/tar.py which gained PAX/GNU-extension parsing ->
# re-grade, per this structure's rule ---
_VERIFIED_BY_ROUND[11] = frozenset({
    "x_ab_test_proportions", "x_power_analysis", "x_gbdt_stumps",
    "x_quantile_pinball", "c_length_bucketing", "c_pps_systematic_sample",
    # v_hard_negative_mining left this set in r16: its gated scatter
    # moved to the shared functions/partitioning.py definition
    # (VERDICT r15 #7) -> re-grade
    "c_shard_shuffle_manifest", "x_pass_at_k", "x_token_f1",
    "x_average_precision", "x_bh_fdr", "x_brier_decomposition",
    "c_loo_target_encoding", "x_woe_iv", "c_best_of_n_reward",
    "g_bipartite_projection", "x_l_diversity", "s_stream_pass_at_k",
    # x_bradley_terry_mm / x_wasserstein_1d / s_stream_drift_monitor
    # are NOT here (r13 divide-guard audit fixes -> re-grade).
    # f_zip_shard_ingest was green in r11 but functions/zipfmt.py
    # gained the native-first zlib inflate route in r13 (VERDICT r12
    # "What's wrong" #1) -> re-grade, per this structure's rule.
    "x_hilbert_layout", "c_shard_manifest_verify",
    "f_fixedwidth_roundtrip", "x_posting_compression", "x_permutation_test",
    # rotated re-greens (ages reset from r1/r2):
    "d_sessionize_batch", "x_salted_aggregation", "d_exact_dedup",
    "d_simhash", "d_simhash_hamming", "d_ngram_jaccard",
    "d_cosine_near_dup", "v_ann_brute_topk", "v_ann_lsh_topk",
    "m_multimodal_features", "m_png_decode", "m_frame_sample_plan",
    # v_kmeans_clusters left this set in r15: empty-corpus
    # driver-side seed-collect guard (VERDICT r14 #3) -> re-grade
    "t_vocab_topk", "t_tfidf_top_terms",
    "d_span_dedup",
})

# --- green in CORRECTNESS_r12.json (round-12 driver window: 49 of
# the 50 greens — 5 new queries_round12 registrations, 5 ADVICE-
# touched re-grades, 2 fronted capability rows (f_orc_roundtrip /
# t_bpe_train_rounds), the 22 final r2 rows and 16 oldest r3 rows
# whose ages reset here.  f_tar_shard_ingest is deliberately NOT in
# this set: r13 applies the ADVICE r12 fixes to functions/tar.py
# (PAX size override for non-regular members, strict PAX length
# digits, dangling-extension-header detection) -> re-grade, per this
# structure's rule.  c_repetition_filters is NOT here either (r13
# divide-guard audit fix: zero-n-gram dup3_frac guard) ---
_VERIFIED_BY_ROUND[12] = frozenset({
    "t_bpe_train_rounds", "f_orc_roundtrip", "x_mann_whitney_u",
    "x_kendall_tau", "x_krippendorff_alpha", "x_mcnemar_paired",
    "x_isotonic_calibration", "x_shapley_attribution",
    "f_malformed_jsonl_audit", "t_mattr_diversity", "x_cochran_q",
    # rotated re-greens (ages reset from r2):
    "s_stream_tumbling_window", "s_stream_user_state",
    "s_stream_stream_join", "s_stream_sessionize", "s_stream_dedup",
    "s_stream_sliding_window", "c_pii_redaction", "c_decontaminate", "c_split_assign", "c_domain_mixing",
    "c_sequence_packing", "c_stratified_sample", "v_norm_stats",
    "c_temperature_sampling", "c_url_canonical_dedup", "s_stream_curation",
    "r_array_agg_roundtrip", "x_approx_distinct", "x_approx_quantiles",
    # rotated re-greens (ages reset from r3):
    "d_dup_clusters", "d_curation_pipeline",
    "m2db_datasource_scan", "m2db_datasource_pushdown",
    "m2db_stream_ingest", "m2db_multi_map_scan", "x_heavy_hitters_mg",
    "q4_order_priority", "q7_volume_shipping", "q8_market_share",
    "q9_product_profit", "q10_returned_items", "q11_important_stock",
    "q13_customer_distribution", "q15_top_supplier",
    "q16_parts_supplier_counts",
})

# --- green in CORRECTNESS_r13.json (round-13 driver window: all 50
# graded rows green, zero errors — VERDICT r13).  Composition: the
# 19 tier-0 re-grades (17 divide-guard audit fixes from
# tools/divide_guard_audit.py + f_tar_shard_ingest after the ADVICE
# r12 tar.py fixes + f_zip_shard_ingest after the native-first
# inflate) and the 31 rotated r3 rows whose ages reset here.
# f_tar_shard_ingest / f_zip_shard_ingest are deliberately NOT in
# this set: r14 applies the ADVICE r13 fixes to functions/tar.py
# (PAX size digit validation, L/K exclusion from the pax override)
# and functions/zipfmt.py (d.eof truncation check) -> re-grade, per
# this structure's rule ---
_VERIFIED_BY_ROUND[13] = frozenset({
    # tier-0 re-grades (divide-guard audit fixes):
    "c_repetition_filters", "x_funnel_conversion", "x_auc_rank",
    "x_did_estimator", "x_ks_two_sample", "x_welch_ttest",
    "x_smape_seasonal_naive", "x_wasserstein_1d", "x_bradley_terry_mm",
    "x_gains_deciles", "x_ipw_ate", "x_runs_test", "w_target_encoding",
    # d_minhash_recall_eval / d_minhash_recall_skewed left this set in
    # r15: their signature aggregates moved to the numeric no-sort
    # minhash path (OPTIMIZATION_r15.md) -> re-grade, per this
    # structure's rule
    # d_semdedup_recall_hotcell left this set in r15: empty-corpus
    # driver-side centroid-collect guard (VERDICT r14 #3) -> re-grade
    "s_stream_drift_monitor",
    # rotated re-greens (ages reset from r3):
    "q17_small_quantity_revenue", "q20_part_promotion",
    "q21_waiting_suppliers", "sql_exists_correlated",
    "sql_scalar_subquery", "sql_correlated_scalar", "sql_registered_udf",
    "sql_recursive_cte", "sql_min_cost_supplier", "u_pandas_udf_haversine",
    "q6_forecast_revenue", "q12_priority_case_agg", "q14_promo_effect",
    "q19_disjunctive_pushdown", "q22_idle_customers", "f_string_surface",
    "f_json_extraction", "h_array_higher_order",
    "x_conditional_bitwise_agg", "x_median_percentile",
    "r_string_agg_ordered", "r_lateral_explode", "r_sample_hash",
    "r_union_by_name", "d_interval_arithmetic", "w_cume_dist_first_last",
    "g_grouping_sets_explicit", "x_argmax_min_by", "d_date_spine_fill",
    "w_forward_fill", "j_cross_join_grid",
})

# --- green in CORRECTNESS_r14.json (round-14 driver window: all 50
# graded rows green, zero errors — VERDICT r14).  Composition: the
# 22 tier-0 rows (8 new queries_round14 registrations, the tar/zip
# ADVICE r13 re-grades, and the 12 degenerate-input audit guard
# fixes), the final 2 r3 rows (r_values_inline / f_map_surface —
# drains r3), and 26 rotated r4 rows whose ages reset here.
# Deliberate r15 exclusions, per this structure's rule:
#   x_tost_equivalence / x_obrien_fleming are NOT here — r15 restates
#   the shared zero-variance guard in doubles (ADVICE r14: the
#   ss*n = s*s BIGINT product overflows ~two orders beyond sf0.1)
#   -> re-grade;
#   v_ann_ivf_nprobe is NOT here — r15 guards its empty-corpus
#   driver-side seed collect (VERDICT r14 #3 burn-down) -> re-grade ---
_VERIFIED_BY_ROUND[14] = frozenset({
    # tier-0: new queries_round14 registrations
    "t_good_turing", "x_page_hinkley", "g_label_propagation",
    "x_hll_sparse", "t_textrank_keywords", "x_tdigest_quantiles",
    # tier-0: ADVICE r13 re-grades
    "f_tar_shard_ingest", "f_zip_shard_ingest",
    # tier-0: degenerate-input audit guard fixes
    "g_pagerank", "g_triangle_count", "x_group_linreg",
    "x_cuped_adjustment", "x_rater_kappa", "x_spearman_corr",
    "x_poisson_bootstrap", "x_acf_lags", "g_degree_assortativity",
    "t_heaps_law", "t_js_divergence", "x_fellegi_sunter",
    # rotated re-greens (ages reset from r3 — drains the r3 vintage):
    "r_values_inline", "f_map_surface",
    # rotated re-greens (ages reset from r4):
    "v_ann_ivf_topk", "s_stream_static_enrich",
    "s_stream_dedup_within_wm", "sql_except_intersect_all",
    "f_regexp_surface", "f_file_provenance", "h_array_setops",
    "x_width_bucket_histogram", "f_try_arithmetic", "m_wav_decode",
    "v_int8_quantization", "d_semantic_dedup", "t_text_normalize",
    "c_embedding_decontam", "m_image_ahash", "m_wav_energy", "d_containment_dedup",
    "w_linear_interp", "j_interval_overlap",
    "d_simhash_banded", "d_cohort_retention", "x_salted_join",
})

# --- green in CORRECTNESS_r15.json (round-15 driver window: all 50
# graded rows green, zero errors — VERDICT r15).  Composition: the 49
# tier-0 rows (8 new queries_round15 registrations, the ADVICE r14
# TOST/OBF double-guard restatements, the 7 empty-corpus crash
# guards, and the 32 optimization-touched names of OPTIMIZATION_r15)
# plus r_cdc_merge_upsert, the single rotated r4 row (age reset).
# r16 exclusions, per this structure's rule, are annotated inline
# below as the optimization round touches modules. ---
_VERIFIED_BY_ROUND[15] = frozenset({
    "d_minhash_lsh", "v_ann_ivf_nprobe", "v_kmeans_clusters", "m2db_consolidated_zoom",
    "m2db_merge_diagnostics", "m2db_geometry_stats", "m2db_pipeline_throughput",
    "m2db_spatial_window", "m2db_point_in_polygon", "m2db_sql_over_features",
    "m2db_validation_violations", "t_doc_chunking", "t_bpe_top_merges",
    "t_bigram_lm_score", "x_countmin_sketch", "t_phrase_search",
    "u_map_in_arrow", "d_winnow_fingerprints", "t_rake_keywords",
    "v_pq_adc_topk", "v_pca_power", "c_dsir_importance", "d_cdc_chunks",
    "d_minhash_recall_eval", "d_minhash_recall_skewed", "d_semdedup_recall_hotcell",
    "d_incremental_dedup", "t_collocations_pmi", "d_minhash_estimate_error",
    "t_conditional_entropy", "t_term_burstiness", "c_semdedup", "v_ivf_seed_robustness",
    # m_decode_corpus_bench left this set in r16: its gated scatter
    # moved to the shared functions/partitioning.py definition
    # (VERDICT r15 #7) -> re-grade
    "c_kcenter_coreset", "x_sprt_sequential_test",
    # d_suffix_dedup_corpus left this set in r16: 128-bit seeded
    # anchor pair (VERDICT r15 #3) + shared gated scatter -> re-grade
    "v_ivf_pq_residual", "v_truncated_dim_recall",
    "x_tost_equivalence", "x_obrien_fleming", "x_benjamini_yekutieli",
    "x_kruskal_wallis", "x_ljung_box", "x_nelson_aalen", "x_fleiss_kappa",
    "t_simple_good_turing", "x_reservoir_merge", "t_hill_tail_index",
    "r_cdc_merge_upsert",
})

_DRIVER_VERIFIED = frozenset().union(*_VERIFIED_BY_ROUND.values())


# Window composition (the policy VERDICT r8 #4 asks to pin, now
# that the never-checked backlog is empty): the graded _WINDOW-slot
# prefix is
#   (a) every name WITHOUT a binding green row — this round's new
#       queries plus re-grades of names whose underlying modules this
#       round touched (they are removed from their _VERIFIED_BY_ROUND
#       set, which is what makes them unverified);
#   (b) the remaining slots refill by ROTATION: verified names in
#       ascending order of their latest-green round (oldest first),
#       registration order within a round — so the stalest hard rows
#       are re-checked against the moving codebase first.
# r15 arithmetic (VERDICT r14 #2 + #3 + #4): tier 0 = ~8 new
# queries_round15 registrations + x_tost_equivalence /
# x_obrien_fleming (ADVICE r14: zero-variance guard restated in
# doubles) + the 7 empty-corpus driver-crash fixes from the
# degenerate-input inventory (c_kcenter_coreset, c_semdedup,
# d_semdedup_recall_hotcell, v_ivf_seed_robustness,
# v_kmeans_clusters, v_pca_power, v_ann_ivf_nprobe — driver-side
# Python collects that raise on an empty corpus where the oracle
# returns empty) = ~17.
# r15 was then the FIRST OPTIMIZATION ROUND: 27 more names moved to
# tier 0 because the optimization work changed the code under them
# (OPTIMIZATION_r15.md) — the minhash/LSH signature path
# (d_minhash_lsh), the exact-substring anchor hash
# (d_suffix_dedup_corpus), the decode bench scatter
# (m_decode_corpus_bench), the merge_lines codegen part-count probe
# (8 m2db queries), and the 16 queries whose local-constant
# repartition(32) scatters became defaultParallelism-adaptive.
# tier 0 = 44; the 6 rotation slots left consume the oldest r4 rows.
# The closing session then fixed the SortAggregate plans in 4 more
# names (the minhash evaluation family moved to the numeric no-sort
# signature path: d_minhash_recall_eval, d_minhash_recall_skewed,
# d_incremental_dedup, d_minhash_estimate_error) and
# x_sprt_sequential_test (max(struct) -> max_by) -> tier 0 = 49, 1
# rotation slot left for the oldest r4 row.
# Every flipped query was locally re-verified against its oracle at
# sf0.01 (targeted driver_sim, local[16]) before this flip; the
# optimization round's driver re-grades the full registry.
# tests/test_registry_order.py pins the RULE, not just this round's
# list.


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent).

    Import order sets registration order, which the round driver uses to
    pick which queries to hard-verify: pipeline/mapsforge/streaming/
    curation first (no driver signal in r1), then relational (holds the
    three r1 protocol-fail queries), then sql/functions.
    """
    global _LOADED
    if _LOADED:
        return
    import map2db_spark.queries_pipeline  # noqa: F401
    import map2db_spark.queries_mapsforge  # noqa: F401
    import map2db_spark.queries_streaming  # noqa: F401
    import map2db_spark.queries_curation  # noqa: F401
    import map2db_spark.queries_relational  # noqa: F401
    import map2db_spark.queries_tpch  # noqa: F401
    import map2db_spark.queries_sql  # noqa: F401
    import map2db_spark.queries_functions  # noqa: F401
    import map2db_spark.queries_extra  # noqa: F401
    # imported LAST on purpose: new (not yet driver-verified) queries
    # append after the existing unverified block, keeping the driver's
    # graded-50 window stable within a round
    import map2db_spark.queries_analytics  # noqa: F401
    import map2db_spark.queries_round3  # noqa: F401
    import map2db_spark.queries_mleval  # noqa: F401
    import map2db_spark.queries_round5  # noqa: F401
    import map2db_spark.queries_round6  # noqa: F401
    import map2db_spark.queries_round7  # noqa: F401
    import map2db_spark.queries_round8  # noqa: F401
    import map2db_spark.queries_round9  # noqa: F401
    import map2db_spark.queries_round10  # noqa: F401
    import map2db_spark.queries_round11  # noqa: F401
    import map2db_spark.queries_round12  # noqa: F401
    import map2db_spark.queries_round14  # noqa: F401
    import map2db_spark.queries_round15  # noqa: F401

    # Stable partition (relative registration order preserved per
    # tier; see the window-composition comment above):
    #   0. unverified: no binding green hard row (new queries +
    #      module-touched re-grades) — always inside the window;
    #   1. rotation: the (_WINDOW - len(tier0)) verified names whose
    #      latest green row is OLDEST, ascending by round then by
    #      registration order — stale rows age out first;
    #   2. the remaining verified names, behind the window.
    names = list(QUERIES)
    round_of = {
        n: rnd for rnd, ns in _VERIFIED_BY_ROUND.items() for n in ns
    }
    tier0 = [n for n in names if n not in _DRIVER_VERIFIED]
    quota = max(0, _WINDOW - len(tier0))
    verified_in_reg_order = [n for n in names if n in _DRIVER_VERIFIED]
    # sorted() is stable, so sorting by round alone preserves
    # registration order within a round (ADVICE r9: the explicit
    # .index() tiebreak was redundant and O(n^2))
    rotation = sorted(verified_in_reg_order, key=round_of.__getitem__)[:quota]
    rotation_set = set(rotation)
    rest = [
        n for n in verified_in_reg_order if n not in rotation_set
    ]
    reordered = {
        n: QUERIES[n] for n in (*tier0, *rotation, *rest)
    }
    QUERIES.clear()
    QUERIES.update(reordered)

    _LOADED = True
