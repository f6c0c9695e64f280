"""The registry entries each workload draws from.

olap_mix: every fifth of the 100 read-only relational `q` entries
(graft.ops.Relational*: q01, q06, ..., q96), 20 ops, the fewest a median
may be reported from, so that a run fits the benchmark's time budget and
every run measures the same mix.

The olap_mix warm-up runs the q entries numbered 5k+3 (q03, q08, ...,
q98), outside the measured mix, to warm the JVM before timing.

curation_refresh: every tenth of the graft.ext entries (families d, s,
t, m, p; EXT lists them without d32 and d33, whose scratch lives under a
fixed /tmp path outside the run's directory), each run twice in a round
(20 ops; `--seconds 20` runs two rounds), because cold ext ops and their
oracles are the costliest in the benchmark. Its warm-up runs
the mix's own entries once each, in a session that is stopped before the
timed one (the session memos die with it): each entry's first run in a JVM
pays for generating and compiling its code, which moved op_p50_s with the
op order when the warm-up ran other entries.
"""

Q = [
    "q01_pricing_summary", "q02_filter_project", "q03_top_revenue_orders",
    "q04_priority_semi_join", "q05_nation_revenue", "q06_revenue_forecast",
    "q07_customers_without_orders", "q08_customer_order_counts",
    "q09_nation_balance_full_outer", "q10_top_orders_per_priority",
    "q11_running_customer_spend", "q12_order_gaps", "q13_set_ops",
    "q14_distinct_counts", "q15_rollup_sales", "q16_cube_sales", "q17_string_gallery",
    "q18_date_buckets", "q19_json_extract", "q20_price_bands", "q21_having",
    "q22_in_subquery", "q23_above_avg_parts", "q24_region_pairs",
    "q25_event_range_join", "q26_asof_join", "q27_pivot", "q28_approx_distinct",
    "q29_stats", "q30_grouping_sets", "q31_array_map_funcs", "q32_set_ops_all",
    "q33_min_max_by", "q34_median", "q35_correlated_subquery",
    "q36_window_distribution", "q37_explode", "q38_string_distance", "q39_bool_aggs",
    "q40_sampling", "q41_bitwise", "q42_salted_join", "q43_range_frame",
    "q44_value_windows", "q45_lateral_join", "q46_count_min", "q47_date_arithmetic",
    "q48_string_agg", "q49_conditionals", "q50_unpivot", "q51_stratified_sample",
    "q52_resample_ffill", "q53_pagination", "q54_regex_gallery", "q55_percentiles",
    "q56_funnel", "q57_cohort_retention", "q58_url_extract", "q59_try_cast",
    "q60_interval_arith", "q61_histogram", "q62_gaps_islands", "q63_skyline",
    "q64_winsorize", "q65_recursive_cte", "q66_equidepth_bins",
    "q67_approx_percentiles", "q68_zorder_key", "q69_ignore_nulls",
    "q70_sequence_explode", "q71_column_profile", "q72_variant_json",
    "q73_null_safe_join", "q74_interval_range_frame", "q75_percentile_disc",
    "q76_approx_top_k", "q77_cumulative_distinct", "q78_not_in_nulls",
    "q79_nest_unnest", "q80_weighted_median", "q81_bucketed_range_join",
    "q82_regr_stats", "q83_priority_shipping", "q84_promo_share", "q85_top_supplier",
    "q86_small_qty_revenue", "q87_large_volume_customers", "q88_disjunctive_join",
    "q89_waiting_suppliers", "q90_idle_customers", "q91_mad", "q92_mode",
    "q93_first_touch", "q94_event_transitions", "q95_share_of_total", "q96_pareto",
    "q97_decile_lift", "q98_modern_sql", "q99_skew_audit", "q100_ewma",
]

OLAP = Q[::5]
OLAP_WARMUP = Q[2::5]

EXT = [
    "d01_exact_dedup", "d02_minhash_lsh", "d03_simhash", "d04_ngram_jaccard",
    "d05_embedding_neardup", "d06_minhash_lsh_scale", "d07_dedup_corpus",
    "d08_simhash_scale", "d09_dedup_clusters", "d10_dedup_clusters_scale",
    "d11_contamination", "d12_incremental_dedup", "d13_semantic_clusters",
    "d14_passage_dedup", "d15_minhash_estimate", "d16_normalized_dedup",
    "d17_lsh_tuning", "d18_minhash_mapside", "d19_keep_best_dedup",
    "d20_keep_best_scale", "d21_lsh_tuning_scale", "d22_incremental_scale",
    "d24_semdedup", "d25_simhash_mapside", "d26_simhash_neardup_scale",
    "d27_repeated_spans", "d28_bloom_contamination", "d29_winnow_fingerprint",
    "d30_containment_dedup", "d31_fuzzy_join", "m01_media_meta",
    "m02_media_features", "m03_frame_sample", "m04_cdc_chunking",
    "m05_binary_dedup", "m06_block_dedup", "m08_phash_neardup_wide",
    "m09_video_neardup", "m10_audio_offset_match", "p01_curate_corpus",
    "p02_domain_mix", "p03_weighted_sample", "p04_corpus_report",
    "p05_filter_funnel", "p06_corpus_summary", "p07_hash_split",
    "p08_source_overlap", "p09_domain_cap", "p10_shard_shuffle",
    "p11_temperature_mix", "p12_token_budget", "p13_split_decontam",
    "p14_decontam_quarantine", "p15_dist_drift", "s01_knn_bruteforce",
    "s02_ann_lsh", "s03_knn_topk_agg", "s04_ann_ivf", "s05_centroid_agg",
    "s06_range_search", "s07_ann_recall", "s08_quantized_knn", "s09_pq_ann",
    "s10_lang_centroids", "s11_hybrid_search", "s12_reranked_pq",
    "s13_matryoshka_recall", "s14_knn_graph", "s15_dim_stats", "s16_kmeans_lloyd",
    "s17_crosslingual_mining", "s18_pca_power", "s19_silhouette", "s20_ivf_tuning",
    "s21_pagerank_knn", "t01_token_stats", "t02_lang_stats", "t03_quality_score",
    "t04_langid", "t05_fingerprint", "t06_ngram_freq", "t07_fingerprint_scale",
    "t08_subword_tokens", "t09_tfidf", "t10_vocab_prune", "t11_token_packing",
    "t12_pii_redact", "t13_repetition", "t14_inverted_index", "t15_bm25",
    "t16_ngram_familiarity", "t17_overlap_chunks", "t19_novelty_curve",
    "t20_cooccurrence", "t21_lang_confusion", "t22_tokenizer_fertility",
    "t23_char_diversity", "t24_heaps_law", "t25_quality_auc", "t26_zipf_audit",
]

CURATION = EXT[::10]
CURATION_WARMUP = CURATION
