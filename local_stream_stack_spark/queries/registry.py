"""Registry of named queries with optional DuckDB oracle SQL.

The correctness driver compares Spark output vs oracle output
column-name-sorted and order-insensitively, so every computed column
must carry the SAME alias on both sides. Queries that are not
SQL-expressible (streaming state, LSH internals) register with
``oracle=None`` and get a weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str


QUERIES: dict[str, QuerySpec] = {}

# Names the driver has already recorded in a prior round — fully green
# (hash_match=true) oracle rows plus rows-only rows it has seen.  The
# driver's correctness gate only checks the FIRST 50 entries of
# ``queries()`` in iteration order, so ``get_queries``/``get_oracles``
# place never-verified oracle-backed queries first, proven queries next
# (safe re-verification filler), and never-sampled rows-only queries
# LAST so no window slot burns on a no_oracle ERR.  Regenerate each
# round with ``python tools/rotate_window.py CORRECTNESS_r{N}.json``
# and confirm with ``python tools/check_parity.py --window``.
DRIVER_VERIFIED_PREVIOUSLY: frozenset[str] = frozenset(
    {
        "ab_test_analysis",
        "active_streaks",
        "adamic_adar_link_prediction",
        "anova_f_segments",
        "ansari_bradley_urgent",
        "approx_distinct_parts",
        "approx_percentile_qty",
        "array_hof_order_lines",
        "asof_join_events",
        "asof_join_nearest",
        "asof_join_tolerance",
        "attribution_last_touch",
        "autocorr_daily_counts",
        "bartlett_test_priority",
        "basket_lift_pairs",
        "benford_first_digit",
        "benjamini_hochberg_nations",
        "blocklist_filter_stats",
        "bloom_filter_fp_audit",
        "bm25_rank",
        "bm25_topk_docs",
        "boilerplate_ngrams",
        "bootstrap_mean_ci",
        "bounce_rate_by_entry",
        "bpe_train_merges",
        "bpe_vocab_counts",
        "brunner_munzel_urgent",
        "bucketed_join_revenue",
        "case_when_buckets",
        "cdc_merge_summary",
        "char_entropy_quality",
        "chisq_lang_source",
        "chunk_documents",
        "clean_text_scrub",
        "clustering_coefficient_nodes",
        "cms_heavy_hitters",
        "cochran_q_daily",
        "cohens_d_urgent_price",
        "cohort_retention",
        "cohort_retention_matrix",
        "collation_group_ci",
        "compaction_bin_packing",
        "compaction_tombstone",
        "conformal_forecast_intervals",
        "conversion_lag_quantiles",
        "copurchase_bfs_hops",
        "copurchase_kcore",
        "copurchase_ktruss",
        "copurchase_pagerank",
        "corpus_stats_by_lang",
        "corr_matrix_lineitem",
        "cramers_v_lang_source",
        "cronbach_alpha_nation_months",
        "cross_entropy_source_pairs",
        "csv_roundtrip_orders",
        "cube_qty",
        "curation_downsample",
        "curation_pipeline",
        "curation_pipeline_yaml",
        "customer_decile_transitions",
        "customer_jaccard_similarity",
        "customer_rfm_scores",
        "cusum_changepoint_revenue",
        "daily_count_anomalies",
        "dataset_card_summary",
        "date_funcs",
        "dau_mau_stickiness",
        "decile_bounds_price",
        "decontaminate_ngram_overlap",
        "decontaminate_splits",
        "dedup_canonical_pick",
        "dedup_cluster_sizes",
        "dedup_components",
        "dedup_containment",
        "dedup_embedding_cosine",
        "dedup_exact",
        "dedup_keys",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_prefix_clusters",
        "dedup_rate_by_source",
        "dedup_repeated_ngram_spans",
        "dedup_simhash",
        "dedup_simhash_hamming",
        "dedup_substring_spans",
        "dedup_token_sort",
        "distinct_rows",
        "doc_fingerprint",
        "doc_length_histogram",
        "doc_novelty_scores",
        "dph_topk_docs",
        "dpp_partitioned_lang_join",
        "dq_expectations_orders",
        "durbin_watson_daily_revenue",
        "embedding_centroid_separation",
        "embedding_dim_variance_audit",
        "embedding_matryoshka_mass",
        "embedding_norms",
        "embedding_pca_power",
        "embedding_quantize_int8",
        "embedding_quantize_pct",
        "embedding_sim_histogram",
        "event_gap_quantiles",
        "event_gap_quantiles_chunked",
        "event_transition_matrix",
        "events_anomaly_mad",
        "ewma_daily_revenue",
        "ewma_latest_per_user",
        "exact_quantile_distributed",
        "explode_outer_rare_tokens",
        "explode_token_counts",
        "filter_predicates",
        "fleiss_kappa_daily_raters",
        "flesch_readability_by_source",
        "friedman_test_segments",
        "funnel_stages",
        "fuzzy_entity_clusters",
        "fuzzy_join_symspell",
        "fuzzy_name_match",
        "gap_fill_locf",
        "group_split_leakage_audit",
        "grouping_id_revenue",
        "grouping_sets_revenue",
        "grubbs_outlier_daily",
        "hash_agg_stats",
        "hhi_market_concentration",
        "hits_hubs_authorities",
        "hll_sketch_rollup",
        "hodges_lehmann_urgent_shift",
        "holt_linear_daily_revenue",
        "hourly_value_quantiles",
        "interpolate_linear",
        "interval_join_peak_windows",
        "inverted_index",
        "jl_distortion_audit",
        "join_anti",
        "join_bloom_prefiltered",
        "join_broadcast_dims",
        "join_explosion_audit",
        "join_null_safe",
        "join_outer_full",
        "join_salted_skew",
        "join_semi",
        "join_shuffle_hash_hint",
        "jonckheere_terpstra_priority",
        "js_divergence_sources",
        "json_funcs",
        "json_roundtrip_orders",
        "k_anonymity_audit",
        "kafka_frame_roundtrip",
        "kendall_tau_daily",
        "kendall_w_nation_months",
        "keywords_per_doc_tfidf",
        "kmeans_embeddings",
        "kmv_distinct_rollup",
        "kmv_overlap_daily",
        "kmv_rolling_wau",
        "knn_label_purity",
        "kruskal_wallis_priority",
        "ks_test_urgent_price",
        "label_centroids",
        "label_propagation_communities",
        "lang_id",
        "lang_id_confusion",
        "lateral_topk_suppliers",
        "latest_per_key",
        "levene_brown_forsythe_segments",
        "ljung_box_daily_revenue",
        "mad_outliers",
        "mann_kendall_trend_daily",
        "mann_whitney_priority",
        "map_explode_customer",
        "markov_next_event_accuracy",
        "math_funcs",
        "minhash_band_sweep",
        "minhash_calibration",
        "mmr_diversified_topk",
        "mode_qty_by_flag",
        "mojibake_encoding_audit",
        "moods_median_priority",
        "multimodal_au_g711_decode",
        "multimodal_binary_meta",
        "multimodal_bmp_decode",
        "multimodal_features",
        "multimodal_frame_sample",
        "multimodal_gif_decode",
        "multimodal_ico_decode",
        "multimodal_jpeg_decode",
        "multimodal_midi_decode",
        "multimodal_pcx_decode",
        "multimodal_png_decode",
        "multimodal_pnm_decode",
        "multimodal_qoi_decode",
        "multimodal_tga_decode",
        "multimodal_tiff_decode",
        "multimodal_video_frames",
        "multimodal_wav_decode",
        "mutual_info_lang_source",
        "null_semantics",
        "nulls_ordering",
        "ols_slope_per_type",
        "orc_roundtrip_orders",
        "orders_backlog_aging",
        "orders_monthly_yoy",
        "pack_documents",
        "page_trend_test_segments",
        "pagerank_copurchase",
        "partitioned_roundtrip_docs",
        "percentile_stats",
        "perplexity_bigram_interp",
        "perplexity_unigram",
        "pettitt_changepoint_daily",
        "pii_scrub_stats",
        "pipe_syntax_revenue",
        "pipeline_yaml_batch",
        "pipeline_yaml_enrich_agg",
        "pivot_returnflag",
        "pl2_topk_docs",
        "price_decile_assign",
        "profile_columns",
        "projection_cast",
        "psi_price_drift_by_segment",
        "purchase_hazard_curve",
        "pyds_stream_agg",
        "pyds_synthetic_agg",
        "q10_returned_revenue",
        "q11_important_parts",
        "q12_late_shipments",
        "q13_order_count_dist",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q16_supplier_count",
        "q17_small_qty_revenue",
        "q18_large_orders",
        "q19_or_predicates",
        "q1_pricing_summary",
        "q20_dominant_suppliers",
        "q21_waiting_suppliers",
        "q22_idle_customers",
        "q2_top_supplier_per_part",
        "q3_shipping_priority",
        "q4_order_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "q7_nation_volume",
        "q8_market_share",
        "q9_product_profit",
        "qld_topk_docs",
        "qq_plot_price",
        "quality_classifier_pr_curve",
        "quality_classifier_reliability",
        "quality_classifier_score",
        "quality_classifier_train",
        "quality_filter_gopher",
        "quantile_by_value_qty",
        "quantile_normalize_doclen",
        "range_join_views_before_purchase",
        "recursive_copurchase_reach",
        "recursive_cte_day_streaks",
        "referential_integrity_audit",
        "regression_by_nation",
        "repetition_ratio",
        "revenue_gini_lorenz",
        "right_to_be_forgotten_audit",
        "rm3_expanded_retrieval",
        "rollup_revenue",
        "rollup_time_hierarchy",
        "rrf_fusion_topk",
        "runs_test_daily_revenue",
        "sample_per_group",
        "scd2_history",
        "schema_evolution_roundtrip",
        "schema_registry_parse",
        "seasonal_decomposition_weekday",
        "seasonal_naive_backtest",
        "semantic_dedup_components",
        "semantic_dedup_lsh_components",
        "sentence_split_stats",
        "session_entropy_per_user",
        "session_paths_top",
        "session_window_agg",
        "sessionize_events",
        "sessionize_events_chunked",
        "set_ops",
        "set_ops_bag",
        "ship_lag_quantiles",
        "shuffle_deterministic",
        "sign_test_daily_revenue",
        "sim_bruteforce_topk",
        "sim_ivf_topk",
        "sim_ivfpq_topk",
        "sim_lsh_multiprobe_topk",
        "sim_lsh_topk",
        "sim_pq_topk",
        "sim_recall_calibration",
        "skew_diagnostics",
        "skyline_price_size",
        "sliding_window_agg",
        "snapshot_diff_orders",
        "source_char_budget",
        "source_mixing_weights",
        "source_overlap_matrix",
        "spearman_qty_price",
        "sql_api_revenue",
        "sql_udf_netprice",
        "sql_variables_param_revenue",
        "stats_profile_orders",
        "stratified_sample_exact",
        "stratified_sample_sources",
        "stream_aggregate_view",
        "stream_aggregate_view_compacted",
        "stream_bm25_compacted",
        "stream_bm25_incremental",
        "stream_cms_heavy_hitters_incremental",
        "stream_corpus_card_incremental",
        "stream_curation_yaml",
        "stream_dedup_keys",
        "stream_embedding_centroids_incremental",
        "stream_histogram_quantiles_incremental",
        "stream_ingest_dedup",
        "stream_ingest_dedup_compacted",
        "stream_ingest_neardup",
        "stream_ingest_neardup_compacted",
        "stream_ingest_neardup_tws",
        "stream_interval_join",
        "stream_interval_join_outer",
        "stream_ivf_index_incremental",
        "stream_join_enriched_incremental",
        "stream_kmv_compacted",
        "stream_kmv_distinct_incremental",
        "stream_latest_per_key",
        "stream_minmax_view_incremental",
        "stream_mode_median_incremental",
        "stream_parquet_sink",
        "stream_pipeline_yaml",
        "stream_pmi_collocations_incremental",
        "stream_psi_monitor",
        "stream_quality_quarantine",
        "stream_restart_resume_view",
        "stream_running_totals",
        "stream_scd2_dimension",
        "stream_session_windows",
        "stream_skyline_frontier",
        "stream_sliding_counts",
        "stream_static_enrich",
        "stream_topk_per_window",
        "stream_tumbling_counts",
        "stream_unigram_lm_incremental",
        "stream_windowed_rollup_chain",
        "string_funcs",
        "supplier_pareto_abc",
        "table_fingerprint_orders",
        "text_stats",
        "tfidf_cosine_topk",
        "tfidf_top_terms",
        "theil_sen_daily_revenue",
        "theil_u_lang_source",
        "time_weighted_avg",
        "token_budget_truncation",
        "token_drift_kl",
        "token_estimate_bpe",
        "token_pmi_collocations",
        "tokens_retained_after_dedup",
        "top_tokens_per_lang",
        "topk_orders",
        "topk_per_group",
        "train_test_split",
        "triangle_count",
        "try_arithmetic_orders",
        "tumbling_window_agg",
        "udaf_trimmed_stats",
        "udtf_tokenize",
        "unicode_nfc_normalize",
        "unpivot_part_measures",
        "user_adoption_curve",
        "value_histogram_log2",
        "variant_extract_orders",
        "vocab_coverage",
        "vocab_coverage_curve",
        "vocab_novelty_by_source",
        "wasserstein_price_urgent",
        "weekday_activity_profile",
        "weighted_median_price_by_flag",
        "weighted_sample",
        "welch_t_sources",
        "wilson_ci_urgent_rate",
        "window_analytic",
        "window_distribution",
        "window_frames",
        "window_range_frame",
        "window_ranking",
        "winsorized_mean_price",
        "xml_roundtrip_orders",
        "zipf_token_fit",
        "zonemap_pruning_stats",
        "zorder_layout_events",
        "zscore_outliers",
    }
)

NEW_THIS_ROUND: frozenset[str] = frozenset(
    {
        "multimodal_mp3_meta",
        "decontaminate_semantic",
        "active_streaks_doubling",
        "mcnemar_paired_flags",
        "jarque_bera_daily_revenue",
        "kuiper_test_urgent_price",
        "dixon_q_daily_revenue",
        "anderson_darling_daily_revenue",
        "multimodal_flac_meta",
        "group_by_all_revenue",
        "bitmap_zone_intersection",
        "stream_bitmap_index_incremental",
        "proximity_boost_topk",
        "term_burstiness_top",
        "cramer_von_mises_urgent_price",
        "periodogram_daily_revenue",
        "markov_entropy_rate",
        "pacf_daily_revenue",
        "decision_stump_train",
        "welch_anova_priority",
    }
)

# Queries whose defining file was git-modified AFTER the round that
# recorded their last green driver row (VERDICT r5 "What's wrong" #2:
# a changed-after-green query must outrank merely-stale ones in the
# re-verification window, else a rewrite can ride an old green row
# indefinitely).  Regenerated by ``python tools/changed_since_green.py
# --write`` — run it at round close after the final code commit.
# File-level granularity deliberately over-approximates: touching one
# query in a module re-queues its siblings, which only costs safe
# filler slots.
# BEGIN CHANGED_SINCE_GREEN (auto-generated)
CHANGED_SINCE_GREEN: frozenset[str] = frozenset(
)
# END CHANGED_SINCE_GREEN


def _last_sampled_rounds() -> dict[str, int]:
    """{query name: latest round whose CORRECTNESS_r{N}.json contains
    it}. Read from the repo root next to the package; empty on any
    read problem (ordering then falls back to registration order)."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    last: dict[str, int] = {}
    try:
        for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
            m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
            if not m:
                continue
            rnd = int(m.group(1))
            with open(path) as f:
                rows = json.load(f)
            if not isinstance(rows, dict):
                continue
            for name in rows:
                last[name] = max(last.get(name, 0), rnd)
    except Exception:
        return {}
    return last


def _window_order(specs: dict[str, QuerySpec]) -> list[str]:
    """Order query names so the driver's 50-entry correctness window
    covers maximum unproven surface with zero wasted slots:
    (0) oracle-backed queries with no prior green driver row — every
    one of these must be sampled; (1) oracle-backed queries added this
    round (queue behind the backlog if the window is full); (2) already
    driver-verified oracle-backed queries — safe filler ordered
    STALEST-FIRST (ascending last-sampled round from the
    CORRECTNESS_r*.json history), so with the whole catalog ever-green
    the window re-verifies the rows most at risk of silent regression
    (those last sampled rounds ago) instead of resampling recent ones;
    (3) ALL rows-only queries, verified or not — kept OUT of the
    window so no slot ever burns on a no_oracle ERR while
    oracle-backed work waits (they stay pytest-pinned).  Within tier
    2, queries whose source file changed since their last green round
    (CHANGED_SINCE_GREEN) come FIRST — a rewritten query's old green
    row proves nothing about the rewrite — then stalest-first.  Stable
    (registration order) within a tier+staleness class."""
    last = _last_sampled_rounds()
    reg_order = {n: i for i, n in enumerate(specs)}

    def key(name: str) -> tuple[int, int, int, int]:
        spec = specs[name]
        if not spec.oracle:
            tier = 3
        elif spec.name in NEW_THIS_ROUND:
            # explicit pin outranks prior-verified status: a REWRITTEN
            # query's old green row proves nothing about the rewrite
            tier = 1
        elif spec.name in DRIVER_VERIFIED_PREVIOUSLY:
            tier = 2
        else:
            tier = 0
        changed = 0 if (tier == 2 and name in CHANGED_SINCE_GREEN) else 1
        staleness = last.get(name, 0) if tier == 2 else 0
        return (tier, changed, staleness, reg_order[name])

    return sorted(specs, key=key)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def get_queries() -> dict[str, QueryFn]:
    return {name: QUERIES[name].fn for name in _window_order(QUERIES)}


def get_oracles() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _window_order(QUERIES)
        if QUERIES[name].oracle
    }
