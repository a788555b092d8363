"""Query + oracle registry backing ``__spark_entry__``.

Operator modules register callables with :func:`register`; the driver-facing
``queries()`` / ``oracle_sql()`` in ``__spark_entry__.py`` are thin wrappers
over :func:`all_queries` / :func:`all_oracles`.

Contract (SURVEY.md §3.3, __spark_entry__.py docstring):
* every callable takes ``(spark, sf_dir)`` and returns an *unexecuted*
  DataFrame;
* every computed column is aliased identically in the Spark query and the
  oracle SQL (the driver sorts columns by name before hashing);
* queries whose results are not SQL-reproducible (RNG, Spark-specific hashes,
  approximate aggregates, live streaming semantics) register with
  ``oracle=None`` → the driver records a rows-only check.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Operator modules to import for registration side effects.
_OPERATOR_MODULES = (
    "fits2db_spark.operators.scans",
    "fits2db_spark.operators.etl",
    "fits2db_spark.operators.joins",
    "fits2db_spark.operators.aggregates",
    "fits2db_spark.operators.windows",
    "fits2db_spark.operators.sorts_sets",
    "fits2db_spark.operators.scalar_functions",
    "fits2db_spark.operators.llm_text",
    "fits2db_spark.operators.llm_vectors",
    "fits2db_spark.operators.multimodal",
    "fits2db_spark.operators.streaming_batch",
    "fits2db_spark.operators.udfs",
    "fits2db_spark.operators.advanced",
    "fits2db_spark.operators.pipeline",
    "fits2db_spark.operators.stats",
    "fits2db_spark.operators.inference",
    "fits2db_spark.operators.warehouse",
    "fits2db_spark.operators.sql_api",
    "fits2db_spark.operators.retrieval",
    "fits2db_spark.operators.decimal_money",
)

_loaded = False

# The external driver verifies queries in dict-iteration order and may stop
# after a fixed budget (~50 keys per round).  Round-15 rotation, regenerated
# from CORRECTNESS_r01∪…∪r14 (r14 re-certified the 50 stalest keys, 50/50
# green; every registered key has at least one driver hash row — zero
# never-checked keys remain).  Ordering policy (VERDICT r13 "Next round"
# item 1, re-applied per VERDICT r14 item 8): pure stalest-first — each key
# sorts by the LATEST round whose CORRECTNESS_r*.json window contains it
# (ascending), ties by prior queue order.  The r15 window therefore
# re-certifies the next-50-stalest keys (34 last seen in r04, 16 in r05).
# New keys, never driver-checked by definition, must PREPEND to the queue
# as they land (tests/test_rotation.py enforces never-checked-keys-first).
# Every key is locally hash-green under tools/check_oracle.py at sf0.001
# and sf0.01 (and the sf0.1 deep sweeps, docs/ROUND_NOTES.md).
_PRIORITY_QUERIES = (
    "dedup_keep_longest",
    "distinct_rows",
    "dq_expectations",
    "dq_profile",
    "fn_bitwise",
    "fn_generators",
    "fn_trig",
    "fn_try",
    "funnel_analysis",
    "gapfill_timeseries",
    "graph_pagerank",
    "join_asof_tolerance",
    "join_range_binned",
    "join_skew_salted",
    "limit_offset",
    "merge_upsert",
    "retention_cohorts",
    "scd2_intervals",
    "seq_pack_bins",
    "set_except",
    "set_intersect",
    "set_union",
    "sim_range_search",
    "sim_topk_matmul",
    "split_train_test",
    "stream_windowed_topk",
    "subquery_correlated",
    "subquery_in",
    "text_pii_redact",
    "text_vocab_topk",
    "udf_arrow_scalar",
    "unpivot_melt",
    "vec_quantize_int8",
    "win_range_frame",
    "add_random_id",
    "add_rowid_unordered",
    "agg_approx_distinct",
    "agg_approx_percentile",
    "agg_entropy",
    "agg_histogram2d",
    "agg_linreg",
    "anomaly_mad",
    "basket_lift",
    "cap_docs_per_source",
    "dedup_components",
    "dedup_semantic_clusters",
    "domain_mix_sample",
    "etl_winsorize",
    "events_ewma",
    "events_ohlc",
    "events_rolling_active",
    "fits_ingest_compressed",
    "fn_hash_native",
    "fn_soundex",
    "fn_url",
    "fn_variant",
    "graph_triangles",
    "join_fuzzy_blocked",
    "join_interval_overlap",
    "join_xmatch_zone",
    "mm_decode_features",
    "mm_phash_dedup",
    "mm_phash_near",
    "orders_rfm",
    "pipeline_curate_e2e",
    "sample_fraction",
    "sample_stratified",
    "scan_partition_pruning",
    "scan_schema_evolution",
    "sim_ann_ivf",
    "spatial_cols",
    "sql_tpch_q3",
    "sql_tpch_q6",
    "sql_window_ranking",
    "stream_live_dedup",
    "stream_live_interval_join",
    "stream_live_tumbling",
    "text_perplexity",
    "text_repetition",
    "vec_kmeans",
    "vec_pca_evr",
    "win_distribution",
    "win_gaps_islands",
    "agg_chisq",
    "agg_concentration",
    "agg_decile_stats",
    "agg_gini",
    "agg_incremental_mv",
    "agg_ks_test",
    "agg_moments",
    "agg_welch_ttest",
    "cone_search",
    "dedup_containment",
    "dq_benford",
    "er_golden_record",
    "events_acf",
    "events_anomaly_seasonal",
    "events_attribution",
    "events_cusum",
    "events_growth",
    "events_interarrival",
    "events_markov",
    "events_paths",
    "events_seasonality",
    "fits_cutout",
    "fits_image_ingest",
    "fits_wcs_ingest",
    "join_asof_nearest",
    "join_dpp",
    "join_scd2_pointintime",
    "lightcurve_pdm",
    "mm_wav_features",
    "orders_abc",
    "orders_survival_km",
    "scan_orc",
    "sim_ann_pq",
    "sim_ann_recall_eval",
    "skyline_pareto",
    "snapshot_diff",
    "sql_lateral_topk",
    "sql_parameterized",
    "sql_tpch_q1",
    "sql_tpch_q18",
    "stream_live_counters",
    "stream_live_session",
    "text_bigram_lm",
    "text_zipf",
    "ts_interpolate",
    "vec_pq_train",
    "vec_truncate_mrl",
    "win_forward_fill",
    "win_rolling_median",
    "zorder_layout",
    "agg_bootstrap_ci",
    "agg_hll_deterministic",
    "agg_theilsen",
    "bpe_train_merges",
    "cms_heavy_hitters",
    "dedup_incremental_minhash",
    "events_forecast_backtest",
    "events_periodogram",
    "events_sax",
    "graph_kcore",
    "graph_node_similarity",
    "join_bloom_filter",
    "join_geohash_prefix",
    "join_xmatch_nearest",
    "ml_feature_hash",
    "orders_cohort_ltv",
    "privacy_k_anonymity",
    "sim_ann_binary",
    "sim_mmr_rerank",
    "sim_rrf_fusion",
    "spatial_geohash",
    "spatial_nest",
    "spatial_point_in_polygon",
    "sql_recursive_hierarchy",
    "sql_tpch_q10",
    "sql_tpch_q11",
    "sql_tpch_q12",
    "sql_tpch_q13",
    "sql_tpch_q14",
    "sql_tpch_q15",
    "sql_tpch_q16",
    "sql_tpch_q17",
    "sql_tpch_q19",
    "sql_tpch_q2",
    "sql_tpch_q20",
    "sql_tpch_q21",
    "sql_tpch_q22",
    "sql_tpch_q4",
    "sql_tpch_q5",
    "sql_tpch_q7",
    "sql_tpch_q8",
    "sql_tpch_q9",
    "stream_live_enrich",
    "subquery_scalar",
    "sync_merkle_buckets",
    "text_bigram_kn",
    "text_bm25",
    "text_importance_dsir",
    "text_keyphrase_rake",
    "vec_power_iteration",
    "agg_kmv_intersection",
    "agg_weighted_median",
    "dedup_lsh_recall",
    "dedup_substring_windows",
    "dq_psi",
    "events_changepoint",
    "events_haar_wavelet",
    "events_holt_trend",
    "events_hurst",
    "events_kalman_level",
    "events_ljungbox",
    "events_peak_detection",
    "events_slo_burnrate",
    "fn_astro",
    "fn_geo",
    "fn_mask",
    "graph_assortativity",
    "lightcurve_structure_function",
    "ml_cuped_experiment",
    "ml_kfold_linreg",
    "ml_target_encode",
    "ml_woe_iv",
    "mm_audio_segments",
    "mm_patch_grid",
    "mm_scene_cuts",
    "orders_littles_law",
    "orders_price_elasticity",
    "pipeline_fits_catalog_e2e",
    "privacy_dp_counts",
    "privacy_generalization_ladder",
    "sample_weighted",
    "scan_csv_corrupt",
    "scan_csv_gzip",
    "scan_fixed_width",
    "scan_xml",
    "sim_ivf_balance",
    "sim_maxsim_late_interaction",
    "spatial_region_assign",
    "spatial_ring",
    "sql_pivot",
    "sql_unpivot",
    "stream_live_sliding",
    "stream_watermark_audit",
    "text_cooccurrence_pmi",
    "vec_hubness",
    "warehouse_cdc_replay",
    "warehouse_compaction_plan",
    "warehouse_pruning_effectiveness",
    "win_cumulative_distinct",
    "win_sliding_distinct",
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "fn_map",
    "fn_json",
    "fn_map_access",
    "fn_json_tuple",
    "events_markov_stationary",
    "text_heaps_law",
    "spatial_htm",
    "text_term_burstiness",
    "join_xmatch_knn",
    "scan_json_corrupt",
    "agg_median_of_means",
    "ml_auc_roc",
    "ml_calibration_bins",
    "ml_ndcg",
    "events_spectral_entropy",
    "privacy_entropy_ldiv",
    "graph_label_propagation",
    "vec_random_projection",
    "agg_logsketch_quantiles",
    "graph_bfs_distance",
    "ml_lift_deciles",
    "ml_ipw_ate",
    "agg_fdr_bh",
    "warehouse_partition_skew",
    "lightcurve_stetson",
    "events_granger",
    "domain_mix_temperature",
    "orders_segment_migration",
    "orders_price_index",
    "agg_trimmed_mean",
    "vec_cluster_purity",
    "ts_rebin_flux",
    "sim_ann_nprobe_sweep",
    "lightcurve_bls",
    "events_circular_stats",
    "agg_paired_ttest",
    "events_max_drawdown",
    "events_mann_kendall",
    "orders_dup_invoices",
    "vec_energy_distance",
    "agg_jackknife_ratio_se",
    "agg_cohens_kappa",
    "text_js_divergence",
    "events_bollinger",
    "events_extreme_value",
    "text_burrows_delta",
    "events_runs_test",
    "orders_revenue_waterfall",
    "agg_hodges_lehmann",
    "agg_wilcoxon_signed_rank",
    "agg_mann_whitney",
    "ml_sprt_monitor",
    "ml_confusion_matrix",
    "ml_decision_stump",
    "ml_naive_bayes",
    "graph_hits",
    "graph_clustering_coeff",
    "privacy_t_closeness",
    "warehouse_column_stats",
    "events_cross_correlation",
    "events_dtw_distance",
    "text_prf_expansion",
    "text_readability",
    "orders_ar_aging",
    "ml_knn_classify",
    "ml_ridge_regression",
    "events_velocity_flags",
    "spatial_quadtree_index",
    "dq_freshness",
    "agg_qq_normal",
    "ml_experiment_power",
    "events_funnel_timing",
    "ml_proportion_ztest",
    "events_growth_accounting",
    "vec_outlier_scores",
    "orders_abc_xyz",
    "events_rate_ratio_test",
    "ml_gaussian_mixture_em",
    "events_retention_halflife",
    "join_asof_interpolated",
    "ml_ab_srm_check",
    "sql_group_by_all",
    "ml_pr_auc",
    "ml_brier_decomposition",
    "events_hmm_forward",
    "ml_mutual_information",
    "events_viterbi_path",
    "agg_anova_oneway",
    "ml_logistic_gd",
    "orders_net_revenue_retention",
    "events_mix_entropy_trend",
    "agg_corr_matrix",
    "agg_spearman_corr",
    "fits_vla_compressed",
    "decimal_roundtrip",
    "agg_decimal_revenue",
    "win_decimal_balance",
    "agg_levene_test",
    "agg_permutation_test",
    "ml_quantile_pinball",
    "events_pacf",
    "events_anomaly_esd",
    "graph_degree_powerlaw",
    "text_dedup_cluster_stats",
    "warehouse_mergeable_stats",
    "dq_referential_integrity",
    "events_seasonal_strength",
    "ml_did_estimator",
    "ml_regression_discontinuity",
    "vec_dim_concentration",
    "text_rouge_l",
    "events_croston",
    "agg_bloom_fpp",
    "events_dispersion_index",
    "text_ngram_novelty",
    "ml_isotonic_pav",
    "agg_kruskal_wallis",
    "agg_cramers_v",
    "ml_mcnemar_test",
    "ml_tost_equivalence",
    "text_line_dedup",
    "dedup_prefix_truncation",
    "text_hapax_ratio",
    "events_page_hinkley",
    "text_query_likelihood",
    "pipeline_quality_gate",
    "fits_multi_hdu_catalog",
    "lightcurve_phase_fold",
    "events_intervention_its",
    "ml_youden_threshold",
    "text_tokenizer_fertility",
    "ml_calibration_ece",
    "events_dau_mau_stickiness",
    "fits_image_sigma_clip",
    "join_bucketed_colocated",
    "vec_kmeans_silhouette",
    "agg_quantile_treatment_effect",
    "orders_poisson_gof",
    "agg_bhattacharyya",
    "agg_lorenz_curve",
    "text_vocab_overlap_jaccard",
    "text_mattr_diversity",
    "text_yule_k",
    "text_code_detect",
    "ml_chi2_feature_select",
    "events_theil_sen",
    "orders_hill_tail",
    "agg_wilson_ci",
    "agg_effect_sizes",
    "sim_mrl_recall",
    "ml_fairness_parity",
    "ml_ratio_metric_ci",
    "agg_cvm_test",
    "agg_mood_median_test",
    "pipeline_dataset_card",
    "agg_friedman_test",
    "er_blocking_metrics",
    "lightcurve_lomb_scargle",
    "fits_cube_spectrum",
    "fits_datasource_v2",
    "graph_modularity",
    "events_negbin_fit",
    "events_session_stats",
    "agg_rank_biserial",
    "ml_platt_scaling",
    "dedup_weighted_minhash",
    "agg_tukey_hsd",
    "text_char_entropy_rate",
    "agg_dunn_posthoc",
    "agg_jarque_bera",
    "dedup_cdc_chunks",
    "astro_two_point_angular",
    "agg_cochran_q",
    "ml_cox_ph",
    "ml_conformal_interval",
    "privacy_randomized_response",
    "ml_gradient_boost_stumps",
    "agg_bartlett_test",
    "agg_welch_anova",
    "spatial_morans_i",
    "spatial_getis_ord",
    "join_xmatch_bayes",
    "er_fellegi_sunter",
    "fits_datasource_pushdown",
    "ml_logrank_test",
    "agg_capture_recapture",
    "agg_ancova",
    "astro_parallax_distance",
    "ml_iv_wald_estimator",
    "ml_hte_subgroup_scan",
    "events_coherence",
    "ml_breusch_pagan",
    "agg_theil_decomposition",
    "stream_live_fits_ingest",
    "fits_tdisp_render",
    "astro_epoch_xmatch",
    "fits_write_roundtrip",
    "join_xmatch_healpix",
    "fits_image_blank",
    "pipeline_global_shuffle",
    "votable_write_roundtrip",
    "fits_ascii_write_roundtrip",
    "fits_checksum_verified_scan",
    "add_rowid",
    "agg_conditional",
    "agg_count_distinct",
    "agg_cube",
    "agg_global",
    "agg_groupby",
    "agg_grouping_sets",
    "agg_having",
    "agg_percentile",
    "agg_pivot",
    "agg_rollup",
    "agg_stats",
    "array_expand",
    "cast_types",
    "filter_pred",
    "fits_ingest",
    "join_anti",
    "join_asof",
    "join_cross",
    "join_full",
    "join_inner_hash",
    "join_left",
    "join_right",
    "join_self_pairs",
    "join_semi",
    "join_sortmerge",
    "join_star_q5",
    "join_theta_range",
    "multi_file_union",
    "nan_to_null",
    "null_default",
    "project_rename",
    "scan_csv",
    "scan_json",
    "scan_parquet",
    "sort_multi",
    "topk_global",
    "win_first_last",
    "win_lag_lead",
    "win_moving_avg",
    "win_rank",
    "win_row_number",
    "win_running_sum",
    "win_topk_per_group",
    "agg_collect",
    "dedup_embed_cosine",
    "dedup_exact_text",
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "doc_fingerprint",
    "doc_winnowing",
    "fn_array",
    "fn_cond",
    "fn_date",
    "fn_encode",
    "fn_fuzzy",
    "fn_hash",
    "fn_math",
    "fn_regex",
    "fn_string",
    "mm_binary_meta",
    "mm_frame_sample",
    "multimodal_join",
    "sim_ann_lsh",
    "sim_pair_cosine",
    "sim_topk_bruteforce",
    "text_lang_stats",
    "text_langid",
    "text_ngram",
    "text_quality_score",
    "text_tfidf",
    "text_token_count_bpeish",
    "text_tokenize_counts",
    "udf_grouped_map",
    "udf_map_arrow",
    "udf_pandas_grouped_agg",
    "udf_pandas_scalar",
    "udf_python_scalar",
    "udf_table_udtf",
    "vec_centroid",
    "vec_norm_stats",
    "agg_extras",
    "agg_histogram",
    "agg_mode_median",
    "agg_skew_salted",
    "agg_string_concat",
    "anomaly_zscore",
    "contamination_ngram",
    "corr_covar",
    "dedup_components_bigstar",
)


def _ordered_names() -> list[str]:
    """The priority queue's order; a registered key missing from the queue
    is appended in registration order, so a new key is never dropped."""
    queued = [n for n in _PRIORITY_QUERIES if n in _QUERIES]
    seen = set(queued)
    return queued + [n for n in _QUERIES if n not in seen]


_DOC_PLACEHOLDER = __import__("re").compile(
    r"\{(_[A-Za-z0-9_]+(?:\[[^\]]+\])?(?:\s*[-+]\s*\d+)?)(:[^{}]*)?\}"
)

# Explicit grammar for placeholder expressions: a module-level constant name,
# an optional single subscript (integer or quoted string), an optional
# integer +/- offset.  Parsed by hand instead of eval() (r10 advice: eval is
# unnecessary power for a constant lookup and invites accidental grammar
# growth).
_DOC_EXPR = __import__("re").compile(
    r"^(_[A-Za-z0-9_]+)(?:\[([^\]]+)\])?(?:\s*([-+])\s*(\d+))?$"
)


def _eval_doc_expr(expr: str, mod_ns: dict):
    """Resolve a ``{_NAME}`` / ``{_NAME[idx]}`` / ``{_NAME +/- N}`` docstring
    placeholder against the module namespace.  Raises on anything outside
    that grammar (the caller leaves the placeholder untouched)."""
    m = _DOC_EXPR.match(expr.strip())
    if m is None:
        raise ValueError(f"unsupported doc placeholder: {expr!r}")
    name, idx, sign, off = m.groups()
    val = mod_ns[name]
    if idx is not None:
        idx = idx.strip()
        if len(idx) >= 2 and idx[0] in "'\"" and idx[-1] == idx[0]:
            val = val[idx[1:-1]]
        else:
            val = val[int(idx)]
    if sign is not None:
        val = val + int(off) if sign == "+" else val - int(off)
    return val


def _render_doc(fn: QueryFn) -> None:
    """Substitute ``{_CONST}`` / ``{_CONST:spec}`` placeholders in a query
    docstring with the module-level constant's value, so ``help()`` and
    generated docs show real numbers instead of literal braces.  Docstrings
    are plain strings (an f-string first statement would leave ``__doc__``
    unset), so rendering happens here, once, at registration time.  Unknown
    names are left as-is."""
    doc = fn.__doc__
    if not doc or "{_" not in doc:
        return
    mod_ns = vars(importlib.import_module(fn.__module__))

    def sub(m: "__import__('re').Match") -> str:
        expr, spec = m.group(1), m.group(2) or ""
        try:
            val = _eval_doc_expr(expr, mod_ns)
            return format(val, spec[1:]) if spec else str(val)
        except Exception:
            return m.group(0)

    fn.__doc__ = _DOC_PLACEHOLDER.sub(sub, doc)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query (and optionally its DuckDB oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        _render_doc(fn)

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # every entry point guarantees runtime confs + package shipping
            # (the external harness provides a bare session from any cwd)
            from .session import ensure_runtime_confs

            return fn(ensure_runtime_confs(spark), sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _load_all_modules() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _loaded = True


def all_queries() -> dict[str, QueryFn]:
    _load_all_modules()
    return {n: _QUERIES[n] for n in _ordered_names()}


def all_oracles() -> dict[str, str]:
    _load_all_modules()
    return {n: _ORACLES[n] for n in _ordered_names() if n in _ORACLES}
