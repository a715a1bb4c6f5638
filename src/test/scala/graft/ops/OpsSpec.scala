package graft.ops

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + shape spec for the whole SparkEntry query surface at sf0.001.
  * Value-level parity with DuckDB is the driver's gate (and
  * tools/compare_oracle.py locally); here we pin what a refactor is most
  * likely to break silently: every query plans, runs, returns rows, and
  * keeps its column contract (SparkEntrySpec pins the registry's views).
  */
class OpsSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Column contract per query: the driver's compare sorts columns by
  // name, so a renamed/dropped column breaks the hash even when values
  // are right.
  private val expectedColumns = Map(
    "q01_pricing_summary" -> Set("l_returnflag", "l_linestatus", "sum_qty",
      "sum_base_price", "sum_disc_price", "avg_qty", "avg_disc", "count_order"),
    "q02_revenue_by_nation" -> Set("n_name", "revenue", "line_count"),
    "q03_top_orders" -> Set("o_orderkey", "o_orderdate", "revenue"),
    "q04_semi_join_customers" -> Set("c_custkey", "c_name", "c_mktsegment"),
    "q05_anti_join_customers" -> Set("c_custkey", "c_name", "c_acctbal"),
    "q06_top_orders_per_customer" -> Set("o_custkey", "o_orderkey", "o_totalprice", "rn"),
    "q07_order_gaps" -> Set("o_custkey", "o_orderkey", "o_orderdate", "gap_days"),
    "q08_rollup_summary" -> Set("l_returnflag", "l_linestatus", "sum_qty", "n"),
    "q09_cube_summary" -> Set("o_orderstatus", "o_orderpriority", "sum_price", "n"),
    "q10_set_ops" -> Set("c_custkey"),
    "q11_distinct_counts" -> Set("l_returnflag", "distinct_parts", "distinct_supps", "n"),
    "q12_brand_revenue_by_region" -> Set("p_brand", "revenue", "n"),
    "q13_exact_duplicates" -> Set("content_hash", "keeper", "copies"),
    "q14_minhash_signatures" -> Set("doc_id", "band", "sig"),
    "q15_minhash_candidates" -> Set("doc_a", "doc_b"),
    "q16_jaccard_pairs" -> Set("doc_a", "doc_b", "common", "jaccard"),
    "q17_cosine_topk" -> Set("vec_id", "label", "cosine"),
    "q18_cosine_near_dup_pairs" -> Set("vec_a", "vec_b", "label", "cosine"),
    "q19_ann_ivf_topk" -> Set("vec_id", "label", "cosine"),
    "q20_token_stats" -> Set("lang", "n_docs", "total_tokens", "avg_tokens",
      "avg_chars", "max_tokens"),
    "q21_regex_token_counts" -> Set("doc_id", "ws_tokens", "re_tokens", "n_chars"),
    "q22_quality_scores" -> Set("doc_id", "lang", "n_tokens", "n_types",
      "type_token_ratio", "stopword_ratio", "avg_word_len"),
    "q23_langid_scores" -> Set("doc_id", "true_lang", "score_en", "score_de",
      "score_fr", "score_es", "pred_lang"),
    "q24_fingerprints" -> Set("doc_id", "fingerprint", "n_types"),
    "q25_user_sessions" -> Set("user_id", "n_sessions", "n_events",
      "avg_events_per_session", "max_span_sec", "total_value"),
    "q26_hourly_event_counts" -> Set("window_start", "event_type", "n", "total_value"),
    "q27_simhash" -> Set("doc_id", "simhash"),
    "q28_simhash_near_dups" -> Set("doc_a", "doc_b", "hamming"),
    "q29_approx_distinct" -> Set("l_returnflag", "n", "exact_parts",
      "exact_supps", "parts_within_tol", "supps_within_tol"),
    "q30_media_summary" -> Set("kind", "n_media", "total_bytes",
      "total_duration_ms", "sum_width", "sum_height", "unit_norm_count",
      "codec_tag"),
    "q31_srp_lsh_ann" -> Set("vec_id", "label", "cosine"),
    "q32_rolling_fingerprints" -> Set("doc_id", "rolling_fp", "n_tokens"),
    "q33_chunk_hash_digests" -> Set("doc_id", "chunk_digest", "n_bytes"),
    "q34_session_windows" -> Set("user_id", "start_us", "end_us", "n_events", "session_value"),
    "q35_asof_attribution" -> Set("event_id", "user_id", "click_us", "purchase_us", "gap_us"),
    "q36_range_join_conversions" -> Set("click_id", "user_id", "click_us", "purchase_us", "lag_us"),
    "q37_price_quantiles" -> Set("l_returnflag", "p25", "p50", "p75", "n"),
    "q38_pivot_revenue" -> Set("o_orderstatus", "1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW"),
    "q39_deduped_jaccard" -> Set("doc_a", "doc_b", "common", "jaccard"),
    "q40_json_props" -> Set("event_type", "n", "sum_k", "avg_k", "min_k", "max_k"),
    "q41_dedup_clusters" -> Set("doc_id", "cluster_id"),
    "q42_moving_revenue" -> Set("o_custkey", "o_orderkey", "d_days", "rev_7d"),
    "q43_set_ops_all" -> Set("o_custkey", "multiplicity"),
    "q44_correlated_subquery" -> Set("o_orderkey", "o_custkey", "o_totalprice"),
    "q45_doc_chunks" -> Set("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens"),
    "q46_quality_topk_per_lang" -> Set("doc_id", "lang", "type_token_ratio", "rn"),
    "q47_stratified_sample" -> Set("doc_id", "lang", "bucket"),
    "q48_text_cleaning" -> Set("doc_id", "clean_text", "n_digit_runs",
      "n_chars_raw", "n_chars_clean"),
    "q49_char_bigram_profile" -> Set("lang", "bigram", "n", "rn"),
    "q50_label_centroid_stats" -> Set("label", "n_vecs", "centroid_norm", "avg_cosine"),
    "q51_cosine_near_dup_lsh" -> Set("vec_a", "vec_b", "label", "cosine"),
    "q52_repetition_ratio" -> Set("doc_id", "n_grams", "n_distinct_grams", "dup_gram_frac"),
    "q53_boilerplate_phrases" -> Set("lang", "phrase", "n_docs", "rn"),
    "q54_knn_graph" -> Set("vec_id", "neighbor_id", "cosine", "rn"),
    "q55_quantization_error" -> Set("label", "n_vecs", "avg_rel_err", "max_rel_err"),
    "q56_training_mix" -> Set("lang", "source", "n_docs", "total_tokens", "total_chunks"),
    "q57_feature_hashing" -> Set("doc_id", "features_csv", "nnz", "n_tokens"),
    "q58_approx_quantiles" -> Set("l_returnflag", "n", "p25", "p50", "p75",
      "p25_within_tol", "p50_within_tol", "p75_within_tol"),
    "q59_srp_multiprobe" -> Set("vec_id", "label", "cosine"),
    "q60_funnel" -> Set("stage", "event_type", "n_users"),
    "q61_retention_cohorts" -> Set("cohort_week", "week_offset", "n_active"),
    "q62_value_outliers" -> Set("event_id", "event_type", "value", "z"),
    "q63_decontamination" -> Set("doc_id", "n_shared_grams", "n_grams", "shared_frac"),
    "q64_unigram_logprob" -> Set("doc_id", "n_tokens", "avg_neg_logprob"),
    "q65_ivf_recall" -> Set("k", "n_hits", "recall", "recall_ok"),
    "q66_decontamination_n8" -> Set("doc_id", "n_shared_grams", "n_grams", "shared_frac"),
    "q67_tfidf_top_terms" -> Set("doc_id", "term", "tf", "df", "tfidf", "rn"),
    "q68_sequence_packing" -> Set("doc_id", "lang", "source", "n_tokens",
      "cum_tokens", "chunk_id", "chunk_off"),
    "q69_semantic_dedup" -> Set("vec_id", "label", "centroid_id", "keep"),
    "q70_pagerank_knn" -> Set("vec_id", "rank_ratio"),
    "q71_column_profile" -> Set("col_name", "n_rows", "n_non_null", "n_distinct",
      "min_val", "max_val", "avg_val", "stddev_val"),
    "q72_embedding_decontamination" -> Set("vec_id", "max_train_cosine",
      "n_candidates", "contaminated"),
    "q73_quality_classifier" -> Set("doc_id", "n_tokens", "score", "keep"),
    "q74_kmeans_assign" -> Set("vec_id", "cluster_id", "cosine"),
    "q75_source_reputation" -> Set("source", "n_docs", "mean_ttr", "dup_rate", "keep"),
    "q76_temperature_mix" -> Set("doc_id", "source", "n_docs", "p_keep", "keep"),
    "q77_duplicated_windows" -> Set("doc_id", "n_windows", "n_dup_windows", "dup_frac"),
    "q78_gopher_rules" -> Set("doc_id", "n_words", "mean_word_len", "n_stop",
      "top_word_frac", "r_word_count", "r_mean_word_len", "r_stopwords",
      "r_repetition", "keep"),
    "q79_incremental_dedup" -> Set("doc_id", "is_exact_dup", "n_near_candidates", "keep"),
    "q80_substring_dedup_cut" -> Set("doc_id", "n_tokens", "n_removed", "clean_text"),
    "q81_gram_novelty" -> Set("doc_id", "n_windows", "n_novel", "novelty_frac"),
    "q82_knn_triangles" -> Set("vec_id", "degree", "n_triangles", "clustering_coeff"),
    "q83_balanced_sample" -> Set("doc_id", "lang", "coin", "rn"),
    "q84_bigram_pmi" -> Set("w1", "w2", "cb", "cw1", "cw2", "pmi"),
    "q85_contamination_report" -> Set("doc_id", "shared_frac_n3",
      "shared_frac_n8", "max_train_cosine", "flagged"),
    "q86_bm25_topk" -> Set("doc_id", "n_tokens", "score"),
    "q87_source_divergence" -> Set("source", "n_tokens", "n_types", "kl_divergence"),
    "q88_containment_pairs" -> Set("doc_a", "doc_b", "common", "jaccard",
      "containment_a", "containment_b", "partial_dup"),
    "q89_char_profile" -> Set("doc_id", "n_chars", "n_distinct_chars",
      "space_frac", "digit_frac", "alpha_frac", "char_entropy"),
    "q90_cross_source_dups" -> Set("source_a", "source_b", "n_pairs"),
    "q91_winnowing" -> Set("doc_id", "n_grams", "n_windows", "n_fingerprints",
      "fp_digest"),
    "q92_perplexity_buckets" -> Set("doc_id", "lang", "avg_neg_logprob", "bucket"),
    "q93_winnowing_candidates" -> Set("doc_a", "doc_b", "n_shared"),
    "q94_shard_manifest" -> Set("shard_id", "n_docs", "total_tokens",
      "total_chars", "content_digest", "content_digest_sum",
      "min_doc_id", "max_doc_id"),
    "q95_source_vocab_overlap" -> Set("source_a", "source_b", "common", "jaccard"),
    "q96_user_burstiness" -> Set("user_id", "n_events", "n_hours", "max_hourly",
      "peak_to_mean", "bursty"),
    "q97_bigram_logprob" -> Set("doc_id", "n_pairs", "avg_neg_logprob"),
    "q98_knn_label_vote" -> Set("vec_id", "true_label", "n_train_neighbors",
      "pred_label", "correct"),
    "q99_minhash_estimate" -> Set("doc_a", "doc_b", "n_agree", "est_jaccard",
      "jaccard", "within_tol"),
    "q100_source_health" -> Set("source", "n_docs", "mean_ttr", "dup_rate",
      "keep", "n_tokens", "n_types", "kl_divergence", "n_self_dup_pairs",
      "n_cross_dup_pairs"),
    "q101_inverted_index" -> Set("term", "df", "posting_xor", "posting_sum",
      "posting_digest"),
    "q102_phrase_search" -> Set("doc_id", "n_occurrences"),
    "q103_snapshot_diff" -> Set("doc_id", "status"),
    "q104_blocklist_scrub" -> Set("doc_id", "n_removed", "clean_digest"),
    "q105_principal_component" -> Set("vec_id", "label", "pc_score"),
    "q106_quality_keeper" -> Set("cluster_id", "keeper", "keeper_score", "n_docs"),
    "q107_training_order" -> Set("doc_id", "shuffle_key", "pos", "shard"),
    "q108_lloyd_update" -> Set("cluster_id", "n_assigned", "mean_cosine", "shift"),
    "q109_embedding_profile" -> Set("dim", "n", "mean_v", "std_v", "min_v", "max_v"),
    "q110_hybrid_rerank" -> Set("doc_id", "bm25", "cosine", "hybrid"),
    "q111_zorder_locality" -> Set("layout", "n_buckets", "avg_x_span",
      "max_x_span", "avg_y_span", "max_y_span"),
    "q112_event_gapfill" -> Set("user_id", "span_days", "active_days",
      "filled_days", "filled_sum"),
    "q113_decayed_engagement" -> Set("user_id", "n_events", "score"),
    "q114_bloom_prune" -> Set("n_hot", "n_total", "n_exact",
      "superset_ok", "fp_ok"),
    "q115_numeric_correlation" -> Set("corr_qty_price", "corr_qty_disc",
      "corr_qty_tax", "corr_price_disc", "corr_price_tax", "corr_disc_tax",
      "slope_price_qty", "icept_price_qty"),
    "q116_event_paths" -> Set("path", "n"),
    "q117_daily_autocorr" -> Set("event_type", "n_days", "autocorr_1",
      "autocorr_7"),
    "q118_dow_seasonality" -> Set("event_type", "dow", "n_days", "avg_n",
      "std_n", "peak"),
    "q119_zipf_profile" -> Set("freq_class", "n_types", "occurrences",
      "cum_occurrences", "coverage"),
    "q120_key_skew" -> Set("fanout_class", "n_keys", "rows_in_class",
      "max_fanout", "share_rows"),
    "q121_pii_scrub" -> Set("source", "n_docs", "n_email_docs",
      "n_ipv4_docs", "n_term_docs", "n_term_matches", "n_redacted_chars"),
    "q122_rolling_active" -> Set("day", "active_7d"),
    "q123_changepoint" -> Set("event_type", "split_day", "split_stat",
      "n_days"),
    "q124_ewma_daily" -> Set("event_type", "day", "ewma"),
    "q125_mad_outliers" -> Set("event_type", "n", "med", "mad",
      "n_outliers", "outlier_frac"),
    "q126_psi_drift" -> Set("event_type", "n_first", "n_second", "psi"),
    "q127_vocab_oov" -> Set("lang", "n_tokens", "n_oov", "n_oov_types",
      "oov_rate"),
    "q128_split_assign" -> Set("source", "split", "n_docs", "avg_chars",
      "lo_bucket", "hi_bucket"),
    "q129_transition_matrix" -> Set("event_type", "next_type", "n", "p"),
    "q130_frame_manifest" -> Set("media_id", "n_frames", "frame_bytes",
      "last_idx", "sig_sum"),
    "q131_vocab_growth" -> Set("ladder", "new_types", "cum_vocab",
      "docs_seen"),
    "q132_lsh_purity" -> Set("bucket", "n_vecs", "majority_label",
      "majority_n", "purity"),
    "q133_anomaly_days" -> Set("event_type", "day", "n", "trend", "resid",
      "is_anomaly"),
    "q134_resize_audit" -> Set("kind", "n_media", "total_orig_bytes",
      "total_out_bytes", "sig_sum"),
    "q135_kcore" -> Set("vec_id", "in_core", "core_deg"),
    "q136_daily_trend" -> Set("event_type", "n_days", "slope", "intercept",
      "r2"),
    "q137_skipgram_pmi" -> Set("w1", "w2", "cp", "cw1", "cw2", "pmi"),
    "q138_sketch_union" -> Set("source", "n_exact", "within_tol"),
    "q139_asof_forward" -> Set("event_id", "user_id", "click_us",
      "purchase_us", "wait_us"),
    "q140_grouping_sets" -> Set("lang", "source", "gid", "n_docs",
      "avg_chars"),
    "q141_window_suite" -> Set("o_custkey", "o_orderkey", "quartile",
      "pct_rank", "cume", "third_price"),
    "q142_unpivot" -> Set("lang", "metric", "value"),
    "q143_langid_confusion" -> Set("true_lang", "pred_lang", "n", "recall"),
    "q144_quantile_normalize" -> Set("source", "decile", "n_docs",
      "avg_chars"),
    "q145_edit_verify" -> Set("doc_a", "doc_b", "edit_dist", "max_len",
      "sim"),
    "q146_contract_audit" -> Set("source", "n_rows", "n_ids",
      "n_null_text", "n_len_mismatch", "id_unique"),
    "q147_cms_topk" -> Set("tok", "n_exact", "never_undercounts",
      "within_eps"),
    "q148_prefix_join" -> Set("doc_a", "doc_b", "common", "jaccard"),
    "q149_spearman_corr" -> Set("rho_qty_disc", "rho_qty_tax",
      "rho_disc_tax", "pearson_qty_disc"),
    "q150_benford_prices" -> Set("digit", "n", "observed", "benford",
      "chi2"),
    "q151_scd2_history" -> Set("o_custkey", "n_versions", "closed_days",
      "first_priority", "current_priority"),
    "q152_token_entropy" -> Set("doc_id", "n_tokens", "n_types",
      "entropy", "norm_entropy"),
    "q153_ks_drift" -> Set("event_type", "n_first", "n_second", "ks_stat"),
    "q154_weighted_sample" -> Set("source", "doc_id", "wt", "cum",
      "n_picks"),
    "q155_vocab_gini" -> Set("source", "n_types", "n_tokens", "gini"),
    "q156_interval_merge" -> Set("o_custkey", "n_islands", "covered_days",
      "longest_island_days", "n_orders"),
    "q157_event_mode" -> Set("user_id", "modal_type", "n_modal",
      "n_events", "n_types", "modal_share"),
    "q158_mi_lang_source" -> Set("lang", "source", "n", "expected",
      "pmi", "mi_contrib", "chi2"),
    "q159_weighted_median" -> Set("source", "n_docs", "n_tokens",
      "w_p25", "w_median", "w_p75"),
    "q160_novelty_curve" -> Set("day", "n_events", "n_distinct",
      "n_novel", "cum_distinct", "novelty_rate"),
    "q161_markov_stationary" -> Set("state", "pi"),
    "q162_tfidf_cosine_pairs" -> Set("doc_a", "doc_b", "n_shared",
      "cosine"),
    "q163_winsorized_stats" -> Set("event_type", "n", "v_lo", "v_hi",
      "mean_raw", "mean_winsor", "std_winsor", "n_clipped_lo",
      "n_clipped_hi"),
    "q164_dataset_card" -> Set("n_docs", "n_sources", "n_langs",
      "n_tokens", "total_chars", "n_unique_texts", "avg_tokens",
      "p50_chars", "top_lang", "top_lang_docs", "dup_rate"),
    "q165_audience_overlap" -> Set("type_a", "type_b", "na", "nb",
      "n_both", "jaccard", "overlap_coef"),
    "q166_mg_heavy_hitters" -> Set("token", "n_exact", "rk",
      "within_bound"),
    "q167_jackknife_ci" -> Set("event_type", "n", "n_blocks", "mean",
      "se_jack", "ci_lo", "ci_hi"),
    "q168_ab_lift" -> Set("event_type", "n_a", "n_b", "mean_a", "mean_b",
      "lift", "rel_lift", "z_stat"),
    "q169_funnel_latency" -> Set("step", "n_users", "p25_sec",
      "median_sec", "p75_sec", "mean_sec"),
    "q170_label_propagation" -> Set("community_id", "n_members",
      "min_member"),
    "q171_triplet_mining" -> Set("anchor", "label", "pos_id", "pos_cos",
      "neg_id", "neg_cos", "gap", "margin_violation"),
    "q172_source_keyness" -> Set("source", "token", "n", "expected",
      "chi2", "rk"),
    "q173_rfm_segments" -> Set("r_score", "f_score", "m_score",
      "n_customers", "avg_freq", "avg_monetary"),
    "q174_kcenter_coreset" -> Set("sel_order", "vec_id",
      "dist_at_selection"),
    "q175_lpa_modularity" -> Set("community_id", "n_members", "m_intra",
      "d_c", "q_contrib"),
    "q176_bpe_merges" -> Set("merge_order", "left_sym", "right_sym",
      "merged", "pair_count"),
    "q177_adamic_adar" -> Set("u", "v", "common", "aa_score", "rk"),
    "q178_kaplan_meier" -> Set("t_days", "n_at_risk", "n_churned",
      "n_censored", "survival"),
    "q179_roc_auc" -> Set("n_pos", "n_neg", "auc"),
    "q180_token_budget" -> Set("source", "n_tokens", "alloc_tokens",
      "got_extra"),
    "q181_calibration_bins" -> Set("bin", "n_docs", "n_pos", "mean_score",
      "pos_rate", "gap"),
    "q182_em_mixture" -> Set("iter", "component", "pi", "mu", "sigma",
      "resp_mass"),
    "q183_burrows_delta" -> Set("source_a", "source_b", "delta", "n_words"),
    "q184_pq_codebook" -> Set("block", "code", "n_assigned", "mse"),
    "q185_bpe_fertility" -> Set("n_word_occurrences", "n_word_types",
      "symbol_table_size", "fertility", "chars_per_symbol",
      "single_symbol_rate"),
    "q186_dedup_eval" -> Set("n_candidates", "n_true_pairs", "tp",
      "precision", "recall", "f1"),
    "q187_coverage_curve" -> Set("vocab_size", "covered_tokens",
      "total_tokens", "n_types_used", "coverage"),
    "q188_lagged_xcorr" -> Set("lag", "n_days", "r"),
    "q189_embedding_outliers" -> Set("vec_id", "label", "score"),
    "q190_optimal_threshold" -> Set("criterion", "threshold", "tp", "fp",
      "fn", "tn", "metric_value"),
    "q191_group_split" -> Set("split", "n_docs", "n_clusters",
      "leaked_clusters"),
    "q192_knn_hubness" -> Set("k_occurrences", "n_vectors", "frac"),
    "q193_sax_symbols" -> Set("day", "n_events", "z", "symbol"),
    "q194_frequent_pairs" -> Set("w1", "w2", "support", "support_frac",
      "rk"),
    "q195_rule_ablation" -> Set("rule", "n_failing", "n_sole_blocker",
      "keep_rate_without_rule", "keep_rate"),
    "q196_s_curve_check" -> Set("band", "band_mid", "n_pairs",
      "n_candidates", "empirical_rate", "analytic_rate", "gap"),
    "q197_compaction_plan" -> Set("bin", "n_shards", "first_shard",
      "last_shard", "bin_chars", "fill_ratio"),
    "q198_sliced_auc" -> Set("source", "n_pos", "n_neg", "auc"),
    "q199_negative_sampling" -> Set("anchor", "neg_rank", "negative"),
    "q200_simpson_check" -> Set("segment", "n", "r", "pooled_r",
      "sign_flip"),
    "q201_retrieval_agreement" -> Set("n_docs", "spearman_rho",
      "top5_overlap"),
    "q202_k_anonymity" -> Set("k", "n_groups", "groups_below_k",
      "docs_below_k", "frac_docs_below_k"),
    "q203_sentence_stats" -> Set("doc_id", "n_sentences",
      "mean_sentence_toks", "max_sentence_toks"),
    "q204_conversion_windows" -> Set("window_label", "window_us",
      "n_clicks", "n_converting", "conversion_rate"),
    "q205_temperature_ess" -> Set("temperature", "n_sources", "max_share",
      "effective_sources"),
    "q206_cluster_profile" -> Set("cluster_size", "n_clusters", "n_docs",
      "frac_docs"),
    "q207_cramers_v" -> Set("field_pair", "n_rows", "card_a", "card_b",
      "chi2", "cramers_v"),
    "q208_entropy_rate" -> Set("state", "pi", "h_state", "contribution",
      "entropy_rate"),
    "q209_assortativity" -> Set("n_edges", "assortativity"),
    "q210_zipf_fit" -> Set("n_points", "slope", "intercept"),
    "q211_rank_biased_overlap" -> Set("depth", "overlap", "agreement",
      "contribution", "rbo"),
    "q212_banding_planner" -> Set("scheme", "bands", "rows_per_band",
      "n_candidates", "threshold_est"),
    "q213_bfs_levels" -> Set("level", "n_nodes"),
    "q214_query_expansion" -> Set("token", "tf_hits", "df",
      "expansion_score", "rk"),
    "q215_weighted_jaccard" -> Set("doc_a", "doc_b", "common", "jaccard",
      "weighted_jaccard"),
    "q216_knn_components" -> Set("n_components", "n_vectors",
      "largest_component", "n_singletons", "frac_in_largest",
      "frac_singletons"),
    "q217_fk_audit" -> Set("relationship", "n_rows", "n_null_keys",
      "n_orphans", "intact"),
    "q218_order_reconciliation" -> Set("o_orderstatus", "n_orders",
      "n_mismatched", "max_diff_cents", "total_header_cents",
      "frac_mismatched"),
    "q219_bucketed_revenue_join" -> Set("orderkey", "n_lines",
      "revenue_cents", "total_price"),
    "q220_kcore_fixpoint" -> Set("vec_id", "in_core", "core_deg"),
    "q221_bfs_complete" -> Set("level", "n_nodes"),
    "q222_dedup_eval_sampled" -> Set("n_candidates", "n_true_pairs", "tp",
      "precision", "recall", "f1"),
    "q223_s_curve_sampled" -> Set("band", "band_mid", "n_pairs",
      "n_candidates", "empirical_rate", "analytic_rate", "gap"),
    "q224_lpa_fixpoint" -> Set("community_id", "n_members", "min_member"),
    "q225_pagerank_fixpoint" -> Set("vec_id", "rank_e12", "rank_ratio"),
    "q226_domain_cap" -> Set("source", "doc_id", "score", "rn"),
    "q227_dsir_weights" ->
      Set("doc_id", "lang", "n_tokens", "logweight", "is_targetlike"),
    "q228_kmv_source_overlap" ->
      Set("source_a", "source_b", "k_used", "n_common", "jaccard_est"),
    "q229_lang_mixture" -> Set("doc_id", "n_windows", "n_switches",
      "majority_n", "n_langs", "mix_entropy", "is_mixed"),
    "q230_kmv_source_distinct" ->
      Set("source", "n_exact", "est_distinct", "within_tol"),
    "q231_kmeans_fixpoint" -> Set("vec_id", "cluster_id", "cosine"),
    "q232_stupid_backoff" ->
      Set("doc_id", "n_pairs", "n_backoff", "avg_neg_logprob"),
    "q233_label_centroid_cosine" ->
      Set("label_a", "label_b", "n_a", "n_b", "cosine"),
    "q234_kmeans_silhouette" -> Set("cluster_id", "n_members",
      "avg_intra_dist", "avg_inter_dist", "avg_silhouette"),
    "q235_lr_quality_train" -> Set("doc_id", "label", "score", "predicted"),
    "q236_scd2_history" ->
      Set("doc_id", "digest", "valid_from", "valid_to", "is_current"),
    "q237_hits_fixpoint" ->
      Set("vec_id", "hub_e6", "auth_e6", "hub_score", "auth_score"),
    "q238_weighted_sample" -> Set("doc_id", "weight", "sample_key", "rk"),
    "q239_label_dispersion" ->
      Set("label", "n", "mean_pairwise_cosine", "resultant_norm"),
    "q240_readability" -> Set("doc_id", "lang", "n_words", "n_sentences",
      "n_syllables", "flesch", "band"),
    "q241_margin_alignment" ->
      Set("x_id", "y_id", "cosine", "margin_e6", "margin"),
    "q242_knn_outliers" -> Set("vec_id", "n_neighbors", "score_e6",
      "is_isolated", "is_outlier", "mean_e6"),
    "q243_decontam_bloom" ->
      Set("doc_id", "n_shared_grams", "n_grams", "shared_frac"),
    "q244_harmonic_centrality" ->
      Set("vec_id", "n_sources_reached", "harmonic_e6", "harmonic"),
    "q245_distinct_ngrams" ->
      Set("source", "n", "n_total", "n_distinct", "distinct_ratio"),
    "q246_wasserstein_drift" -> Set("source", "n_src", "w1_chars", "max_gap"),
    "q247_ndcg_at_k" ->
      Set("query_id", "rel_at_k", "n_relevant", "dcg", "idcg", "ndcg"),
    "q248_matryoshka_audit" -> Set("label", "n_edges", "drift_half_e6",
      "drift_quarter_e6", "sign_flips_half", "sign_flips_quarter"),
    "q249_clustering_coeff" ->
      Set("vec_id", "deg", "n_closed", "n_wedges", "lcc"),
    "q250_cdc_chunks" -> Set("source", "n_docs", "n_chunks",
      "n_distinct_chunks", "avg_chunk_len", "dup_chunk_ratio"),
    "q251_cdc_sweep" -> Set("source", "modulus", "n_chunks",
      "n_distinct_chunks", "avg_chunk_len", "dup_chunk_ratio"),
    "q252_label_noise" -> Set("vec_id", "label", "n_neighbors",
      "n_agree", "voted_label", "is_suspect"),
    "q253_bpe_encode" -> Set("doc_id", "n_words", "n_bpe_tokens",
      "n_chars", "fertility", "chars_per_token"),
    "q254_contamination_gate" -> Set("doc_id", "n_grams", "n_exact_hits",
      "gate_sound"),
    "q255_top_eigenvector" -> Set("dim", "loading_e6", "eigenvalue_e4",
      "eigenvalue"),
    "q256_spectral_energy" -> Set("n_vecs", "n_dims", "trace",
      "eigenvalue_e4", "energy_frac_e6", "energy_frac"),
    "q257_personalized_pagerank" -> Set("vec_id", "ppr_e12", "is_seed",
      "ppr_mass"),
    "q258_position_attribution" -> Set("touch_type", "touch_position",
      "n_touches", "credit_e6", "credit"),
    "q259_small_qty_revenue" -> Set("p_brand", "n_small_lines",
      "revenue_cents", "avg_small_qty"),
    "q260_order_holding_suppliers" -> Set("s_suppkey", "s_name",
      "n_held_orders"),
    "q261_score_lift" -> Set("decile", "n_docs", "n_pos",
      "band_precision", "lift"),
    "q262_dominant_share" -> Set("vec_id", "dot_e9", "norm2_e6",
      "dom_share", "is_dominated"),
    "q263_png_roundtrip" -> Set("n_media", "n_roundtrip_ok",
      "n_resize_ok", "roundtrip_law"),
    "q264_label_spectral_energy" -> Set("label", "n_vecs", "trace",
      "eigenvalue_e4", "energy_frac_e6", "energy_frac"),
    "q265_real_codec_audit" -> Set("n_media", "n_images", "sum_img_width",
      "sum_img_height", "sum_audio_ms", "sum_half_width",
      "sum_half_height", "codec_law"),
    "q266_dominant_part_suppliers" -> Set("s_suppkey", "s_name", "n_name"),
    "q267_lapsed_customers" -> Set("c_mktsegment", "n_customers",
      "total_acctbal_cents", "max_acctbal_cents"),
    "q268_ingest_audit" -> Set("n_raw", "n_gated", "n_prepped",
      "n_scored_keep", "n_out", "accounting_law"),
    "q269_pq_adc_topk" -> Set("vec_id", "label", "adc_d2_micro",
      "adc_d2", "exact_d2"),
    "q270_adc_recall" -> Set("k", "n_overlap", "recall"),
    "q271_trained_pq_recall" -> Set("phase", "k", "n_overlap", "recall",
      "distortion_m"),
    "q272_event_stream_audit" -> Set("n_raw", "n_hourly_cells",
      "n_hourly_counted", "n_sessions", "n_sessioned", "n_dedup",
      "n_click_purchase_pairs", "conservation_law"),
    "q273_part_value_concentration" -> Set("l_partkey", "value_cents",
      "avg_multiple"),
    "q274_part_supplier_census" -> Set("p_brand", "p_type", "p_size",
      "supplier_cnt"),
    "q275_decontam_excise" -> Set("n_train_docs", "n_docs_touched",
      "total_tokens", "tokens_removed", "removed_frac"),
    "q276_residual_pq" -> Set("n_vecs", "distortion1_m", "distortion2_m",
      "n_violations", "improvement_e6", "improvement_frac"),
    "q277_pq_codebook_sweep" -> Set("n_blocks", "codes_per_block", "phase",
      "k", "n_overlap", "recall", "distortion_m"),
    "q278_customer_order_distribution" -> Set("c_count", "custdist"),
    "q279_top_revenue_supplier" -> Set("s_suppkey", "s_name",
      "total_revenue_e4"),
    "q280_ivf_pq_topk" -> Set("n_probe", "k", "n_scanned", "n_overlap",
      "recall"),
    "q281_min_cost_supplier" -> Set("p_partkey", "s_suppkey", "s_name",
      "n_name", "cost_cents"),
    "q282_late_priority_census" -> Set("o_orderpriority", "order_count"),
    "q283_local_supplier_volume" -> Set("n_name", "revenue_e4", "n_lines"),
    "q284_forecast_revenue" -> Set("revenue_e4", "n_lines"),
    "q285_nation_pair_volume" -> Set("supp_nation", "cust_nation",
      "l_year", "revenue_e4"),
    "q286_national_market_share" -> Set("o_year", "nation_e4", "total_e4",
      "mkt_share"),
    "q287_product_line_profit" -> Set("nation", "l_year", "profit_e4",
      "n_lines"),
    "q288_returned_item_customers" -> Set("c_custkey", "c_name", "n_name",
      "revenue_e4"),
    "q289_lateness_priority_census" -> Set("ship_class", "high_line_count",
      "low_line_count"),
    "q290_promo_revenue_share" -> Set("promo_e4", "total_e4",
      "promo_share_pct"),
    "q291_large_volume_customers" -> Set("c_custkey", "c_name",
      "o_orderkey", "o_orderdate", "total_price_cents", "total_qty"),
    "q292_disjunctive_revenue" -> Set("revenue_e4", "n_lines"),
    "q293_graph_route_ann" -> Set("k_out", "query_id", "routed_id",
      "routed_d2", "n_hops", "exact_id", "exact_d2", "hit"),
    "q294_beam_route_ann" -> Set("beam", "query_id", "routed_id",
      "routed_d2", "exact_id", "exact_d2", "hit"),
    "q295_ivf_pq_trained_topk" -> Set("n_probe", "k", "n_scanned",
      "n_overlap", "recall"),
    "q296_graph_route_wide" -> Set("k_out", "n_queries", "n_hits",
      "hit_rate", "wilson_low", "wilson_high"),
    "q297_beam_route_wide" -> Set("beam", "n_queries", "n_hits",
      "hit_rate", "wilson_low", "wilson_high"),
    "q298_route_edges" -> Set("src", "dst", "rn"),
    "q299_maintained_route_edges" -> Set("src", "dst", "rn"),
    "q300_filtered_ivf_topk" -> Set("strategy", "k", "n_scanned",
      "n_overlap", "recall"),
    "q301_filtered_ivf_selectivity" -> Set("n_labels", "strategy", "k",
      "n_scanned", "n_overlap", "recall"),
    "q302_cell_partitioned_ivf" -> Set("strategy", "k", "n_scanned",
      "n_overlap", "recall"),
    "q303_filtered_adc_topk" -> Set("strategy", "k", "n_scanned",
      "n_overlap", "recall"),
    "q304_route_entry_compare" -> Set("entry_strategy", "k_out",
      "n_queries", "n_hits", "hit_rate", "wilson_low", "wilson_high"),
    "q305_ann_family_table" -> Set("family", "k", "n_queries",
      "total_scanned", "sum_overlap", "recall", "n_hits", "hit_rate"),
  )

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs, returns rows, keeps its column contract") {
      val df = fn(spark, sf)
      assert(df.columns.toSet == expectedColumns(name),
        s"columns drifted: ${df.columns.mkString(",")}")
      assert(df.count() > 0)
    }
  }

  test("top-k queries respect their limits") {
    assert(Relational.topOrders(spark, sf).count() == 10)
    assert(Similarity.cosineTopK(spark, sf).count() == 20)
    assert(Similarity.annIvfTopK(spark, sf).count() <= 10)
  }

  test("dedup clusters: driver union-find and distributed propagation agree") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val driverPath = rows(Dedup.dedupClusters(spark, sf))
    val distributedPath = rows(Dedup.dedupClusters(spark, sf, driverEdgeLimit = 0))
    assert(driverPath == distributedPath)
    // every cluster label is the minimum doc_id of its member set
    val byCluster = driverPath.groupBy(_._2)
    assert(byCluster.forall { case (c, ms) => ms.map(_._1).min == c })
  }

  test("star-contraction components match a reference union-find on random graphs") {
    import spark.implicits._
    def referenceComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => x -> find(x)).toMap
    }
    val rnd = new scala.util.Random(42)
    val cases: Seq[Seq[(Long, Long)]] =
      // long chain: the max-diameter worst case star contraction exists
      // to collapse in O(log) rounds
      Seq((0L until 200L).map(i => (i, i + 1)).toSeq) ++
      // dense near-clique: the LSH dup-cluster shape
      Seq((for (i <- 0L until 30L; j <- (i + 1) until 30L if rnd.nextBoolean()) yield (i, j)).toSeq) ++
      // random sparse graphs
      (1 to 3).map { _ =>
        val n = 50 + rnd.nextInt(100)
        Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
          .filter(e => e._1 != e._2)
      }
    cases.foreach { edges =>
      val expected = referenceComponents(edges)
      val (stars, rounds) = Dedup.connectedComponents(edges.toDF("s", "d"))
      val got = stars.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // exactly one row per non-root node; every edge node labeled with
      // its component min
      assert(got == expected.filter { case (k, v) => k != v },
        s"components diverged after $rounds rounds (${edges.size} edges)")
    }
  }

  test("q51 LSH near-dups: precision 1.0 (subset of the exact twin) and " +
      "identical vectors are always caught") {
    import spark.implicits._
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.cosineNearDupPairs(spark, sf))
    val lsh = pairSet(Similarity.cosineNearDupPairsLsh(spark, sf))
    // every LSH pair passed the exact cosine filter — no false positives
    assert(lsh.subsetOf(exact), s"LSH emitted non-qualifying pairs: ${lsh -- exact}")
    assert(lsh.nonEmpty)

    // deterministic recall guarantee at cos=1: an identical vector has
    // identical band signatures, so duplicate pairs can never be missed
    val tmp = java.nio.file.Files.createTempDirectory("graft-lsh-dups")
    try {
      val base = spark.read.parquet(s"$sf/embeddings.parquet")
      val dups = base.filter($"vec_id".between(100, 109))
        .select(($"vec_id" + 10000L).as("vec_id"), $"label", $"embedding")
      base.unionByName(dups).write.mode("overwrite")
        .parquet(s"$tmp/embeddings.parquet")
      val found = pairSet(Similarity.cosineNearDupPairsLsh(spark, tmp.toString))
      val expected = (100L to 109L).map(i => (i, i + 10000L)).toSet
      assert(expected.subsetOf(found),
        s"missed duplicate pairs: ${expected -- found}")
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("shingle pipelines tolerate empty/1/2-token docs — no shingles, no crash (ADVICE r1)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-shortdocs")
    try {
      Seq(
        (1L, ""), (2L, "one"), (3L, "two tokens"),
        (4L, "three tokens here now and more"),
        (5L, "three tokens here now and more"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val dir = tmp.toString
      // short docs contribute zero shingles (like the oracle), never an error
      val sigs = Dedup.minhashSignatures(spark, dir)
      assert(sigs.filter($"doc_id" < 4).count() == 0)
      assert(sigs.filter($"doc_id" >= 4).count() > 0)
      val pairs = Dedup.jaccardPairs(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.toSeq == Seq((4L, 5L)))
      assert(Dedup.minhashCandidates(spark, dir).count() == 1)
      assert(Dedup.dedupClusters(spark, dir).count() == 5)
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("q65: sampled-centroid IVF at nProbe=3 holds recall@10 above the pinned floor") {
    val r = Similarity.ivfRecallAtK(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Boolean]("recall_ok"),
      s"recall=${r.head.getAs[Double]("recall")} below floor")
  }

  test("minhash candidate pairs are ordered and distinct") {
    val rows = Dedup.minhashCandidates(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.forall { case (a, b) => a < b })
    assert(rows.length == rows.distinct.length)
  }

  test("q68 packing: chunk ids are dense per stream and offsets in [0, chunk)") {
    val rows = PipelinePrep.sequencePacking(spark, sf, chunkTokens = 64)
      .collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(0), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, _, _, _, _, off) => off >= 0 && off < 64 })
    rows.groupBy(t => (t._1, t._2)).foreach { case (_, stream) =>
      val byDoc = stream.sortBy(_._3)
      // the running sum is consistent: each doc starts where the
      // previous ended, and chunk_id/off re-derive from that start
      var cum = 0L
      byDoc.foreach { case (_, _, _, n, cumOut, chunk, off) =>
        assert(cumOut == cum + n)
        assert(chunk == cum / 64 && off == cum % 64)
        cum += n
      }
    }
  }

  test("q69 semantic dedup: the senior vector of every cell is kept and " +
      "drops only ever cite a senior cell-mate") {
    val rows = Similarity.semanticDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    val byCell = rows.groupBy(_._2)
    byCell.foreach { case (_, ms) =>
      val senior = ms.map(_._1).min
      assert(ms.find(_._1 == senior).get._3, "cell senior must be kept")
    }
  }

  test("q70 pagerank: ranks positive and total mass at most 1 (dangling leak)") {
    val rows = Graph.pageRankKnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 > 0.0))
    val n = rows.length
    val totalMass = rows.map(_._2 / n).sum
    assert(totalMass <= 1.0 + 1e-9, s"mass $totalMass cannot exceed 1")
    assert(totalMass > 0.1, s"mass $totalMass collapsed — iteration bug")
  }

  test("q71 profile: row counts agree across columns; distinct <= non-null") {
    val rows = Relational.columnProfile(spark, sf).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getLong(1)).distinct.length == 1)
    assert(rows.forall(r => r.getLong(3) <= r.getLong(2)))
  }

  test("q72: eval-only rows, cosines in [-1, 1], flag consistent with threshold") {
    val rows = Similarity.embeddingDecontamination(spark, sf)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getBoolean(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, c, _) =>
      c.forall(v => v >= -1.000001 && v <= 1.000001) })
    // null max cosine = screened clean with zero candidates
    assert(rows.forall { case (_, c, flag) => flag == c.exists(_ >= 0.35) })
    // every flagged vec is in the eval split (md5 prefix > '7f')
    rows.foreach { case (id, _, _) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
      assert(hex > "7f", s"train vec $id leaked into the eval side")
    }
  }

  test("q73: scores are proper probabilities and keep matches the threshold") {
    val rows = TextAnalysis.qualityClassifierScores(spark, sf)
      .collect().map(r => (r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (s, _) => s > 0.0 && s < 1.0 })
    assert(rows.forall { case (s, keep) => keep == (s >= 0.5) })
  }

  test("q74: every vector assigned once to a valid cluster; training helps the objective") {
    val rows = Similarity.kmeansAssign(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate assignments")
    assert(rows.forall { case (_, c, cos) =>
      c >= 0 && c < 8 && cos >= -1.000001 && cos <= 1.000001 })
    // Lloyd rounds should not make the mean assignment cosine worse than
    // iteration-zero (the untrained sampled centroids); small epsilon for
    // the spherical-vs-euclidean objective gap
    val trained = rows.map(_._3).sum / rows.length
    val untrained = Similarity.kmeansAssign(spark, sf, iters = 0)
      .collect().map(_.getDouble(2))
    val base = untrained.sum / untrained.length
    assert(trained >= base - 0.01, s"training regressed: $trained < $base")
  }

  test("sessionization: per-user session counts bounded by event counts") {
    val s = Sessionize.userSessions(spark, sf)
      .select("n_sessions", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(s.forall { case (ns, ne) => ns >= 1 && ns <= ne })
  }

  test("q75: keep is exactly the mean-of-means threshold rule") {
    val rows = PipelinePrep.sourceReputation(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    val thr = BigDecimal(rows.map(_._2).sum / rows.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (src, ttr, dup, keep) =>
      assert(keep == (ttr >= thr && dup <= 0.5), s"$src: $ttr vs $thr, $dup")
    }
  }

  test("q76: largest source keeps ~f0, rates in (0,1], coin replayable") {
    val rows = PipelinePrep.temperatureMix(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, p, _) => p > 0 && p <= 1.0 })
    val nMax = rows.map(_._2).max
    // replay the md5 coin in plain JVM code: keep iff first 6 hex < thr
    rows.foreach { case (id, n, _, keep) =>
      val p = math.min(1.0, 0.25 * math.sqrt(nMax.toDouble / n))
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 6)
      val expected = java.lang.Long.parseLong(hex, 16) < math.floor(p * 16777216.0).toLong
      assert(keep == expected, s"doc $id")
    }
  }

  test("q77: total over docs, dup windows bounded, null frac iff no windows") {
    val docCount = spark.read.parquet(s"$sf/documents.parquet").count()
    val rows = Dedup.duplicatedWindowFraction(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.isNullAt(3)))
    assert(rows.length.toLong == docCount)
    rows.foreach { case (id, nw, nd, fracNull) =>
      assert(nd >= 0 && nd <= nw, s"doc $id: $nd of $nw")
      assert(fracNull == (nw == 0), s"doc $id")
      // a doc with >= 2 identical internal windows must count them dup
    }
    // identical texts (the corpus has exact duplicates) must show 100%
    // duplicated windows on both members of the pair
    val dups = Dedup.exactDuplicates(spark, sf).filter("copies > 1")
    if (dups.count() > 0) {
      val byId = rows.map(r => r._1 -> r).toMap
      val dupIds = spark.read.parquet(s"$sf/documents.parquet")
        .join(dups.select("content_hash"),
          org.apache.spark.sql.functions.sha2(
            org.apache.spark.sql.functions.col("text"), 256) === org.apache.spark.sql.functions.col("content_hash"))
        .select("doc_id").collect().map(_.getLong(0))
      dupIds.foreach { id =>
        val (_, nw, nd, _) = byId(id)
        if (nw > 0) assert(nd == nw, s"exact-dup doc $id not fully duplicated")
      }
    }
  }

  test("q78: keep is the conjunction of its rule columns") {
    val rows = TextAnalysis.gopherRules(spark, sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(5), r.getBoolean(6),
        r.getBoolean(7), r.getBoolean(8), r.getBoolean(9)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, a, b, c, d, keep) =>
      assert(keep == (a && b && c && d), s"doc $id")
    }
  }

  test("q80: untouched docs pass through byte-identical, dup docs cut fully") {
    val orig = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Dedup.substringDedupCut(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.length == orig.size)
    rows.foreach { case (id, nt, nr, clean) =>
      assert(nr >= 0 && nr <= nt, s"doc $id")
      if (nr == 0) assert(clean == orig(id), s"doc $id modified despite zero cut")
      else assert(clean.length < orig(id).length, s"doc $id cut but not shorter")
    }
    // members of an exact-duplicate pair share every window corpus-wide,
    // so the cut removes every covered token
    val dupWindows = Dedup.duplicatedWindowFraction(spark, sf)
      .filter("n_windows > 0 AND n_dup_windows = n_windows")
      .select("doc_id").collect().map(_.getLong(0))
    val byId = rows.map(r => r._1 -> r).toMap
    dupWindows.foreach { id =>
      val (_, nt, nr, clean) = byId(id)
      assert(nr == nt && clean == "", s"fully-duplicated doc $id not fully cut")
    }
  }

  test("q81: novelty bounded, null iff windowless, first doc fully novel") {
    val rows = Dedup.gramNovelty(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.isNullAt(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nw, nn, fracNull) =>
      assert(nn >= 0 && nn <= nw, s"doc $id")
      assert(fracNull == (nw == 0), s"doc $id")
    }
    val first = rows.filter(_._2 > 0).minBy(_._1)
    assert(first._3 == first._2,
      s"earliest doc ${first._1} must introduce all its own grams")
  }

  test("q83: exactly k rows per language, in md5 order") {
    val rows = PipelinePrep.balancedSample(spark, sf, k = 20)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    val byLang = rows.groupBy(_._1)
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, rs) =>
      assert(rs.length == 20, s"$lang: ${rs.length} rows")
      val ordered = rs.sortBy(_._3).map(_._2).toSeq
      assert(ordered == ordered.sorted, s"$lang not in coin order")
    }
  }

  test("q84: symmetric-pair PMI sanity and count consistency") {
    val rows = TextAnalysis.bigramPmi(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { case (w1, w2, cb, cw1, cw2, _) =>
      // a pair cannot occur more often than either member
      assert(cb <= cw1 && cb <= cw2, s"($w1,$w2)")
      assert(cb >= 5)
    }
    // returned in descending PMI order
    assert(rows.map(_._6).sliding(2).forall(p => p.head >= p.last))
  }

  test("q85: report rows match the composed signals doc for doc") {
    val report = TextAnalysis.contaminationReport(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getBoolean(4))).toMap
    // the report is total over the eval split (one row per eval vec)
    val evalCount = Similarity.embeddingDecontamination(spark, sf).count()
    assert(report.size.toLong == evalCount)
    // flagged is exactly the three-signal disjunction
    val d3 = TextAnalysis.decontamination(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val emb = Similarity.embeddingDecontamination(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    report.foreach { case (id, (sf3, sf8, flagged)) =>
      val expect = sf3 >= 0.2 || sf8.exists(_ > 0) || emb(id)
      assert(flagged == expect, s"doc $id")
      assert(math.abs(sf3 - d3.getOrElse(id, 0.0)) < 1e-9, s"doc $id sf3")
    }
  }

  test("q82: triangle counts bounded by degree, coeff in [0,1]") {
    val rows = Graph.knnTriangles(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(rows.nonEmpty)
    rows.foreach { case (id, deg, tri, coeff) =>
      // each triangle at a node uses 2 of its edges: T <= C(deg, 2)
      assert(tri >= 0 && tri <= deg * (deg - 1) / 2, s"vec $id")
      assert(coeff.isDefined == (deg >= 2), s"vec $id")
      coeff.foreach(c => assert(c >= 0 && c <= 1.000001, s"vec $id"))
    }
    // triangle-count handshake: summing per-node counts gives 3 per triangle
    assert(rows.map(_._3).sum % 3 == 0, "per-node counts must triple-count")
  }

  test("q79: total over incoming docs, keep negates the exact verdict") {
    val incoming = spark.read.parquet(s"$sf/documents.parquet")
      .where("substring(md5(cast(doc_id as string)), 1, 2) > '7f'").count()
    val rows = Dedup.incrementalDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.length.toLong == incoming)
    rows.foreach { case (id, exact, nc, keep) =>
      assert(nc >= 0, s"doc $id")
      assert(keep == !exact, s"doc $id")
    }
  }

  test("q106: keeper is the cluster argmax of the q22 score, ties to min id") {
    val clusters = Dedup.dedupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scores = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id",
        "round(cast(size(array_distinct(split(text, ' '))) as double)" +
          " / size(split(text, ' ')), 6) as score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = clusters.groupBy(_._2)
      .filter(_._2.size >= 2)
      .map { case (cid, members) =>
        val best = members.keys.toSeq
          .sortBy(id => (-scores(id), id)).head
        cid -> (best, scores(best), members.size.toLong)
      }
    val got = Dedup.qualityKeeperDedup(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(got == expected)
  }

  test("q107: pos is a contiguous permutation in key order, shards balanced") {
    val rows = PipelinePrep.trainingOrder(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.length.toLong == n)
    // contiguous 0..n-1, no gaps or repeats
    assert(rows.map(_._3).sorted.toSeq == (0L until n).toSeq)
    // position order IS (shuffle_key, doc_id) order
    val byPos = rows.sortBy(_._3).map(r => (r._2, r._1)).toSeq
    assert(byPos == byPos.sorted, "pos disagrees with the seeded sort order")
    // round-robin: shard counts differ by at most one
    val counts = rows.groupBy(_._4).values.map(_.size)
    assert(rows.forall(r => r._4 == r._3 % 8))
    assert(counts.max - counts.min <= 1)
  }

  test("q109: one row per dimension, n = corpus size, range brackets mean") {
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val rows = Similarity.embeddingProfile(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).sorted.toSeq == (0L until 64L).toSeq)
    rows.foreach { case (dim, n, mean, std, mn, mx) =>
      assert(n == nVecs, s"dim $dim")
      assert(mn <= mean && mean <= mx, s"dim $dim")
      assert(std >= 0.0, s"dim $dim")
    }
  }

  test("q110: rerank preserves the q86 hit set; hybrid combines both halves") {
    val bm25 = TextAnalysis.bm25TopK(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val rows = Similarity.hybridRerank(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSet == bm25.keySet)
    val ms = bm25.values.max
    // the top lexical hit is the pseudo-query: cosine to itself = 1
    val top = bm25.toSeq.sortBy { case (id, s) => (-s, id) }.head._1
    rows.foreach { case (id, b, c, h) =>
      assert(math.abs(b - bm25(id)) < 1e-9, s"doc $id")
      assert(c >= -1.000001 && c <= 1.000001, s"doc $id")
      assert(math.abs(h - (0.5 * b / ms + 0.5 * c)) < 1e-6, s"doc $id")
    }
    assert(rows.find(_._1 == top).exists(r => math.abs(r._3 - 1.0) < 1e-6))
  }

  test("q176: merges equal hand-computed BPE, incl. overlap parity and early exhaustion") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bpe")
    try {
      // vocab: "ab" ×3, "aaa" ×2. Round 1: (a,a) counts 2 per "aaa"
      // (overlapping occurrences both count, standard BPE get_stats)
      // → 4 > (a,b)'s 3 → merge (a,a); greedy left-to-right turns
      // "aaa" into [aa, a] (NOT [a, aa] — the parity rule). Round 2:
      // (a,b) 3 → "ab" one symbol. Round 3: (aa,a) 2 → "aaa" one
      // symbol. Round 4: no pairs anywhere → stop before k.
      Seq((1L, "ab ab aaa"), (2L, "ab aaa"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = TextAnalysis.bpeMerges(spark, tmp.toString, k = 6)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
      assert(got == Seq(
        (1L, "a", "a", "aa", 4L),
        (2L, "a", "b", "ab", 3L),
        (3L, "aa", "a", "aaa", 2L)))
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("q253: scan-side encode reproduces training segmentation, incl. overlap folds") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bpe-enc")
    try {
      // the q176 fixture: merges learned are (a,a)→aa, (a,b)→ab,
      // (aa,a)→aaa, so every word collapses to ONE symbol
      Seq((1L, "ab ab aaa"), (2L, "ab aaa"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = TextAnalysis.bpeEncode(spark, tmp.toString, k = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(_._1).toSeq
      assert(got == Seq(
        (1L, 3L, 3L, 7L, 1.0, 2.333333),
        (2L, 2L, 2L, 5L, 1.0, 2.5)))
      // overlap parity mid-word at k=1: "aaaaa" under the single merge
      // (a,a) must fold greedily left-to-right to [aa, aa, a] — 3
      // symbols, never [a, aa, aa] or a 2-symbol over-merge
      Seq((1L, "aaaaa")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val Array(r1) = TextAnalysis.bpeEncode(spark, tmp.toString, k = 1)
        .collect()
      assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3),
        r1.getDouble(4), r1.getDouble(5)) == (1L, 1L, 3L, 5L, 3.0, 1.666667))
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("q178: at-risk counts telescope, survival is the product-limit fold") {
    val rows = Sessionize.kaplanMeier(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1).toSeq
    assert(rows.nonEmpty)
    // n_at_risk(t) = everyone with lifetime >= t
    val total = rows.map(r => r._3 + r._4).sum
    var remaining = total
    var surv = 1.0
    rows.foreach { case (t, nRisk, d, c, s) =>
      assert(nRisk == remaining, s"at-risk drifted at t=$t")
      surv *= (nRisk - d).toDouble / nRisk
      assert(math.abs(s - surv) < 1e-5, s"survival drifted at t=$t")
      remaining -= (d + c)
    }
    assert(remaining == 0L)
  }

  test("q179: AUC equals the brute-force pair count with half-credit ties") {
    val Array(row) = TextAnalysis.rocAuc(spark, sf).collect()
    val (p, n, auc) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang", $"text").collect().map { r =>
        val toks = Option(r.getString(2)).getOrElse("").split(" ", -1)
        val score = BigDecimal(toks.count(Set("the", "a", "and")).toDouble /
          toks.length).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        (r.getString(1) == "en", score)
      }
    val pos = docs.filter(_._1).map(_._2)
    val neg = docs.filterNot(_._1).map(_._2)
    assert(p == pos.length && n == neg.length)
    val wins = (for (x <- pos; y <- neg)
      yield if (x > y) 1.0 else if (x == y) 0.5 else 0.0).sum
    assert(math.abs(auc - wins / (p * n)) < 1e-5)
  }

  test("q180: allocations are integers summing EXACTLY to the budget, within 1 of exact quota") {
    val rows = PipelinePrep.tokenBudget(spark, sf, budget = 999983L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.map(_._3).sum == 999983L)
    val total = rows.map(_._2).sum.toDouble
    rows.foreach { case (src, n, alloc, _) =>
      val quota = 999983L * n / total
      assert(math.abs(alloc - quota) < 1.0, s"$src drifted from quota")
    }
    assert(rows.count(_._4) == rows.map(r =>
      r._3 - 999983L * r._2 / rows.map(_._2).sum).sum)
  }

  test("q181: ten equal-count bins partition the corpus; gap is |mean-rate|") {
    val rows = TextAnalysis.calibrationBins(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).sorted.toSeq == (0L to 9L))
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_._2).sum == n)
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1)
    rows.foreach { case (b, _, m, p, g) =>
      assert(math.abs(g - math.abs(
        BigDecimal(m - p).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)) < 1e-9, s"bin $b")
    }
  }

  test("q182: mixture weights in (0,1), responsibilities partition the corpus") {
    val rows = TextAnalysis.emMixture(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.length == 6)
    val n = spark.read.parquet(s"$sf/documents.parquet")
      .filter("n_chars is not null").count().toDouble
    rows.groupBy(_._1).foreach { case (it, comps) =>
      assert(comps.map(_._3).sum > 0.999 && comps.map(_._3).sum < 1.001,
        s"iter $it pi")
      assert(math.abs(comps.map(_._5).sum - n) < 0.01, s"iter $it mass")
      comps.foreach(c => assert(c._4 > 0, s"iter $it sigma"))
    }
  }

  test("q183: one row per unordered source pair, deltas non-negative over 20 words") {
    val rows = TextAnalysis.burrowsDelta(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getLong(3)))
    val nSrc = spark.read.parquet(s"$sf/documents.parquet")
      .select("source").distinct().count().toInt
    assert(rows.length == nSrc * (nSrc - 1) / 2)
    rows.foreach { case (a, b, d, w) =>
      assert(a < b && d >= 0.0 && w == 20L, s"($a,$b)")
    }
  }

  test("q184: every vector coded once per block, codes in range, mse non-negative") {
    val rows = Similarity.pqCodebook(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    rows.groupBy(_._1).foreach { case (b, cells) =>
      assert(cells.map(_._3).sum == nVecs, s"block $b loses vectors")
    }
    rows.foreach { case (b, c, _, mse) =>
      assert(b >= 0 && b < 4 && c >= 0 && c < 8 && mse >= 0.0, s"($b,$c)")
    }
  }

  test("q185: fertility >= 1, compression >= 1, rates in [0,1]") {
    val Array(r) = TextAnalysis.bpeFertility(spark, sf).collect()
    assert(r.getDouble(3) >= 1.0 && r.getDouble(4) >= 1.0)
    assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
  }

  test("q186: tp bounded by both arms; precision/recall in [0,1]") {
    val Array(r) = Dedup.dedupEval(spark, sf).collect()
    val (nc, nt, tp) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(tp <= nc && tp <= nt)
    assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1)
    assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1)
  }

  test("q187: coverage is non-decreasing in vocab size and never exceeds 1") {
    val rows = TextAnalysis.coverageCurve(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(4))).sortBy(_._1).toSeq
    rows.sliding(2).foreach {
      case Seq(a, b) => assert(a._4 <= b._4 && a._2 <= b._2)
      case _ =>
    }
    rows.foreach(r => assert(r._2 <= r._3 && r._4 <= 1.0))
  }

  test("q188/q201: correlations live in [-1, 1]") {
    Sessionize.laggedXcorr(spark, sf).collect().foreach { r =>
      if (!r.isNullAt(2))
        assert(math.abs(r.getDouble(2)) <= 1.000001, s"lag ${r.getLong(0)}")
    }
    val Array(a) = Similarity.retrievalAgreement(spark, sf).collect()
    assert(math.abs(a.getDouble(1)) <= 1.000001)
    assert(a.getDouble(2) >= 0.0 && a.getDouble(2) <= 1.0)
  }

  test("q191: zero leaked clusters, splits partition the corpus") {
    val rows = PipelinePrep.groupSplit(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(rows.forall(_._3 == 0L))
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_._2).sum == n)
  }

  test("q192: histogram masses equal the vector count and directed edge count") {
    val rows = Similarity.knnHubness(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_._2).sum == nVecs)
    val nEdges = Similarity.knnGraph(spark, sf).count()
    assert(rows.map(r => r._1 * r._2).sum == nEdges)
  }

  test("q193: symbols agree with the z thresholds; one row per day") {
    val rows = Sessionize.saxSymbols(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getString(3)))
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (d, z, s) =>
      val expect = if (z < -0.6745) "a" else if (z < 0) "b"
        else if (z < 0.6745) "c" else "d"
      assert(s == expect, s"day $d")
    }
  }

  test("q194: every pair meets the 5% ceiling and orders its tokens") {
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    val thr = (n + 19) / 20
    TextAnalysis.frequentPairs(spark, sf).collect().foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) >= thr)
    }
  }

  test("q195: sole blockers bound by failures; dropping a rule never hurts keep-rate") {
    TextAnalysis.ruleAblation(spark, sf).collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), r.getString(0))
      assert(r.getDouble(3) >= r.getDouble(4) - 1e-9, r.getString(0))
    }
  }

  test("q196: empirical rates are probabilities over their band denominators") {
    Dedup.sCurveCheck(spark, sf).collect().foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), s"band ${r.getLong(0)}")
      val e = r.getDouble(4)
      assert(e >= 0.0 && e <= 1.0)
    }
  }

  test("q197: bins are contiguous, ordered, and partition all 16 shards") {
    val rows = PipelinePrep.compactionPlan(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(rows.map(_._2).sum == 16)
    rows.sliding(2).foreach {
      case Seq(a, b) => assert(b._3 == a._4 + 1,
        s"bins ${a._1}/${b._1} not contiguous")
      case _ =>
    }
    rows.foreach(r => assert(r._4 - r._3 + 1 == r._2))
  }

  test("q198: slice AUCs are probabilities; class counts partition each source") {
    val perSource = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    TextAnalysis.slicedAuc(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == perSource(r.getString(0)))
      if (!r.isNullAt(3))
        assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("q199: every doc anchors k ring negatives, none of them itself") {
    val rows = PipelinePrep.negativeSampling(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_._1).distinct.length == n)
    assert(rows.forall(r => r._1 != r._3))
    rows.groupBy(_._1).foreach { case (a, ns) =>
      assert(ns.length == 4 && ns.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L), s"anchor $a")
      assert(ns.map(_._3).distinct.length == 4, s"anchor $a repeats a negative")
    }
  }

  test("q200: pooled row never flips against itself; segment masses sum to pooled") {
    val rows = Sessionize.simpsonCheck(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(4)))
    val (pooled, segs) = rows.partition(_._1 == "__pooled__")
    assert(pooled.length == 1 && !pooled.head._3)
    assert(segs.map(_._2).sum == pooled.head._2)
  }

  test("q202: below-k counts are monotone in k over a fixed group table") {
    val rows = TextAnalysis.kAnonymity(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(rows.map(_._2).distinct.length == 1)
    rows.sliding(2).foreach {
      case Seq(a, b) => assert(a._3 <= b._3 && a._4 <= b._4)
      case _ =>
    }
  }

  test("q203: per-doc sentence stats are internally consistent") {
    TextAnalysis.sentenceStats(spark, sf).collect().foreach { r =>
      val n = r.getLong(1)
      if (n > 0) {
        assert(!r.isNullAt(2) && !r.isNullAt(3))
        assert(r.getLong(3) >= math.floor(r.getDouble(2)).toLong,
          s"doc ${r.getLong(0)}")
      }
    }
  }

  test("q204: conversion is monotone in the window; denominators constant") {
    val rows = Sessionize.conversionWindows(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1).toSeq
    assert(rows.map(_._2).distinct.length == 1)
    rows.sliding(2).foreach {
      case Seq(a, b) => assert(a._3 <= b._3 && a._4 <= b._4)
      case _ =>
    }
  }

  test("q108: one row per centroid, members conserved, shift non-negative") {
    val rows = Similarity.lloydUpdate(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getDouble(3)))
    assert(rows.length == 8)
    assert(rows.map(_._1).toSet == (0L until 8L).toSet)
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    // every vector lands in exactly one cluster
    assert(rows.map(_._2).sum == nVecs)
    rows.foreach { case (cid, nA, meanCos, shift) =>
      assert(shift >= 0.0, s"centroid $cid")
      assert(meanCos.isDefined == (nA > 0), s"centroid $cid")
      meanCos.foreach(c => assert(c >= -1.000001 && c <= 1.000001, s"centroid $cid"))
    }
  }
}
