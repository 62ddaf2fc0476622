"""Query registry — the single source for ``__spark_entry__.queries()``.

Resolution order per query id:

1. A DataFrame program from ``pserv_spark.queries`` (idiomatic
   DataFrame-API re-expression; differentially tested against the SQL
   form).
2. The validated Spark SQL string from ``pserv_spark.corpus`` run on
   the catalog views (SURVEY §7: "prefer spark.sql on the registered
   views where the API adds no value — it is exactly what was
   validated").

Extension operators (dedup/LSH, ANN, text analysis, ingestion,
streaming) register additional entries + oracles via their modules'
``QUERIES`` / ``ORACLES`` dicts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import corpus
from .catalog import load_tables

QueryFn = Callable[[SparkSession, str], DataFrame]


def _sql_runner(name: str) -> QueryFn:
    sql = corpus.SPARK_SQL[name]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir)
        return spark.sql(sql)

    run.__name__ = f"q_{name}"
    run.__doc__ = f"Corpus query {name!r} (SURVEY.md Appendix A), SQL form."
    return run


#: Ids that already have a green driver CORRECTNESS row from a prior
#: round (rows+schema+hash all true, err:null).  Snapshotted as a
#: literal so a corpus reorder can never silently shift which ids we
#: believe are on the record.  ``build_queries()`` pushes these BEHIND
#: the not-yet-verified priority window, so each round's 50-entry
#: driver prefix yields 50 NEW hard-signal rows (VERDICT r2 "Next
#: round" #1).
#:
#: ROTATING REGRESSION WINDOW (round 9, VERDICT r8 #3): with zero
#: unverified ids left, the tuple's ORDER now carries meaning — ids
#: are listed least-recently-driver-verified FIRST (last green
#: CORRECTNESS round ascending, prior order as tiebreak), and
#: ``driver_window_order`` emits the verified tail in THIS order.  So
#: each round's 50-entry driver prefix re-verifies the 50 *stalest*
#: ids on current HEAD, and the whole 312-id exact surface gets
#: driver re-confirmation every ~6 rounds.  Maintained by
#: ``scripts/rotate_window.py --write`` at round start; ordering
#: pinned against the committed CORRECTNESS files in
#: tests/test_output_policy.py.
DRIVER_VERIFIED: tuple[str, ...] = (
    "feat_target_encode",
    "stream_psi_monitor",
    "dedup_fingerprint",
    "dedup_ngram_jaccard",
    "dedup_substring_spans",
    "er_fuzzy_blocked",
    "dedup_containment",
    "dedup_canonical_keeper",
    "vec_quantize_int8",
    "vec_norm_stats",
    "vec_project_jl",
    "text_ngram_freq",
    "text_cooccur_pmi",
    "text_url_normalize",
    "text_zipf_slope",
    "mm_audio_resample_meta",
    "mm_scene_cuts",
    "mm_frame_sample",
    "mm_resize_meta",
    "udf_weighted_mean_pandas",
    "udf_scalar_magcal_pandas",
    "udtf_word_expand",
    "udf_arrow_scalar",
    "stream_tumbling_complete",
    "stream_hopping_complete",
    "stream_dedup_keys",
    "stream_session_window",
    "stream_stateful_counts",
    "stream_static_join",
    "stream_stream_join",
    "stream_rollup_upsert",
    "stream_topk_maintain",
    "stream_late_drop_audit",
    "stream_checkpoint_resume",
    "ingest_jsonl_roundtrip",
    "ingest_pk_dedup_layout",
    "ingest_schema_evolution",
    "ingest_registry_visits",
    "ingest_badrows_quarantine",
    "stream_fitslike_tail",
    "set_intersect_all",
    "set_except_all",
    "fn_map_props",
    "fn_bitwise",
    "source_generate_series",
    "fn_posexplode",
    "dim_scd2_ranges",
    "agg_mode_deterministic",
    "agg_percentile_multi",
    "win_running_distinct",
    "fn_try_arith",
    "join_scd2_pit",
    "fn_json_struct",
    "fn_collation_ci",
    "fn_variant_json",
    "merge_scd2_apply",
    "join_null_safe",
    "win_skyline_2d",
    "sample_hash_split",
    "sample_stratified_hash",
    "gapfill_date_spine",
    "ts_gap_fill_locf",
    "agg_salted_twophase",
    "agg_histogram_bins",
    "sample_weighted_priority",
    "sample_time_embargo_split",
    "cte_recursive",
    "join_lateral_topk",
    "subquery_scalar_corr",
    "unpivot_metrics",
    "agg_regr",
    "join_q3_toprevenue",
    "fn_higher_order",
    "lightcurve_structfn",
    "lightcurve_periodogram",
    "agg_skew_kurt",
    "fn_datetime_extras",
    "agg_count_distribution",
    "join_theta_band_binned",
    "join_q18_bigqty",
    "join_q21_lastship",
    "subquery_q22_balance",
    "subquery_q2_mincost",
    "agg_q6_forecast",
    "join_q4_priority",
    "join_q7_volume",
    "join_q8_marketshare",
    "join_q9_profit",
    "join_q10_returned",
    "agg_q11_important",
    "agg_q12_shipmode",
    "agg_q14_promo",
    "join_q15_topsupplier",
    "agg_q16_suppcnt",
    "join_q19_disc_revenue",
    "join_q20_excess",
    "layout_snapshot_timetravel",
    "layout_partition_evolution",
    "layout_vacuum_orphans",
    "layout_zorder_keys",
    "text_chunk_sliding",
    "ts_resample_ohlc",
    "pack_sequential_bins",
    "interleave_sources",
    "class_balance_downsample",
    "win_ewma_decay",
    "win_rolling_median",
    "layout_compact_smallfiles",
    "layout_zonemap_prune",
    "lightcurve_outlier_mad",
    "astro_mag_from_flux",
    "astro_box_search",
    "astro_ellipse_search",
    "astro_epoch_propagation",
    "astro_healpix_ring",
    "astro_galactic_coords",
    "astro_xmatch_best",
    "astro_density_knn",
    "astro_poly_search",
    "astro_wcs_tan_project",
    "astro_depth_map",
    "text_repetition_ratio",
    "text_pii_redact",
    "text_bigram_logprob",
    "quality_composite_filter",
    "profile_table_stats",
    "profile_value_counts",
    "profile_ks_drift",
    "profile_entropy_gini",
    "profile_corr_matrix",
    "dq_expectations",
    "profile_benford_digits",
    "ts_winsorized_mean",
    "profile_chi2_independence",
    "cluster_kmeans_lloyd",
    "graph_triangle_count",
    "graph_pagerank",
    "vec_pca_power",
    "graph_bfs_frontier",
    "graph_common_neighbors",
    "sample_coreset_kcenter",
    "graph_degree_distribution",
    "dedup_semantic_clustered",
    "serve_lambda_union",
    "cohort_retention",
    "report_growth_rates",
    "cohort_ltv_curve",
    "sketch_countmin_topk",
    "sketch_bloom_prune",
    "sketch_kmv_distinct",
    "sketch_sampled_quantile",
    "agg_bitmap_rollup",
    "lightcurve_dft_power",
    "lightcurve_dcf_lag",
    "seq_funnel_3step",
    "seq_markov_transitions",
    "win_anomaly_rolling_z",
    "ts_seasonal_dow",
    "ts_changepoint_cusum",
    "join_asof_nearest",
    "ts_max_concurrency",
    "lightcurve_lomb_scargle",
    "scan_project",
    "filter_compound",
    "filter_null_logic",
    "case_when",
    "join_inner",
    "join_multiway_q5",
    "join_left_outer",
    "join_right_outer",
    "join_full_outer",
    "join_semi",
    "join_anti",
    "join_in_subquery",
    "join_theta_band",
    "join_equi_residual",
    "join_interval",
    "join_cross",
    "join_asof",
    "join_self_lineitem",
    "agg_global",
    "agg_having",
    "agg_grouping_sets",
    "agg_rollup",
    "agg_cube",
    "agg_stats",
    "agg_corr",
    "agg_percentile",
    "agg_minmax_by",
    "agg_filter_pivot",
    "agg_bool",
    "agg_string_sorted",
    "win_topk_per_group",
    "win_rank_dense",
    "win_lag_lead",
    "win_running_sum",
    "join_broadcast_dim",
    "agg_groupby_q1",
    "agg_distinct",
    "ts_forecast_snaive_eval",
    "win_max_drawdown",
    "seq_abandoned_clicks",
    "seq_first_touch_attribution",
    "win_gap_islands",
    "ts_runs_test",
    "purge_erasure_rewrite",
    "text_bm25_topk",
    "text_phrase_search",
    "text_rake_keyphrases",
    "ml_ols_normal_eq",
    "ml_nb_train_classify",
    "causal_diff_in_diff",
    "win_range_frame",
    "win_ntile_pctrank",
    "win_first_last",
    "topk_global",
    "sort_multi_key_limit",
    "set_union_all",
    "set_union_distinct",
    "set_intersect",
    "set_except",
    "distinct_rows",
    "fn_string",
    "fn_regex",
    "fn_math",
    "fn_date",
    "fn_cast_try",
    "fn_json",
    "fn_array",
    "fn_explode_wordcount",
    "fn_hash_md5",
    "dedup_exact",
    "dedup_jaccard",
    "minhash_signature",
    "tfidf",
    "text_stats_by_lang",
    "vec_cone_search",
    "vec_crossmatch",
    "vec_cosine_pairs",
    "vec_knn",
    "vec_centroid_per_label",
    "lightcurve_stats",
    "phase_fold_binning",
    "sessionize",
    "window_tumbling",
    "window_hopping",
    "udf_zscore_analog",
    "funnel_conversion",
    "dedup_minhash_lsh",
    "ann_ivf_topk",
    "stream_tumbling_watermark",
    "merge_cdc_upsert",
    "astro_conesearch_sph",
    "dedup_simhash",
    "ann_lsh_topk",
    "text_langid",
    "text_quality_score",
    "text_token_count",
    "mm_decode_meta",
    "mm_feature_embed",
    "mm_phash_near_dup",
    "ingest_csv_roundtrip",
    "source_fitslike_scan",
    "source_jdbc_registry",
    "stream_cdc_apply",
    "astro_crossmatch_sph",
    "vec_crossmatch_zoned",
    "join_bucketed_colocated",
    "join_salted_skew",
    "dedup_cluster_cc",
    "dedup_embedding_cosine",
    "ann_pq_topk",
    "ann_recall_eval",
    "sketch_hll_estimate",
    "rollup_serve_monthly",
    "agg_map_entries",
    "join_skew_aqe",
    "source_fitslike_varlen",
    "udf_zscore_pandas",
    "decontaminate_ngram",
    "text_bpe_train",
    "text_bpe_apply",
    "decontaminate_embedding",
    "ab_welch_ztest",
    "ml_logit_newton",
    "survival_kaplan_meier",
    "privacy_k_anonymity",
    "seq_kleene_funnel",
    "join_interval_overlap",
    "dedup_lsh_eval",
    "text_bpe_vocab_coverage",
    "mm_keyframe_select",
    "ingest_orc_roundtrip",
    "ml_silhouette_eval",
    "layout_bloom_file_skip",
    "fn_xml_extract",
    "stream_jdbc_sink",
    "agg_weighted_percentile",
    "text_langid_confusion",
    "text_fingerprint",
    "sample_mixture_weights",
    "lightcurve_stetson_j",
    "ml_auc_rank",
    "ml_auc_pr",
    "ml_calibration_bins",
    "text_langid_prf1",
    "text_bm25_ndcg",
    "feat_hashing_trick",
    "privacy_l_diversity",
    "profile_psi_drift",
    "pipeline_curate_e2e",
    "ml_lift_gains_curve",
)


#: Extension ids ranked most-load-bearing first (SURVEY §2.3
#: "driver-window ranking"): the driver's correctness gate walks the
#: registry in insertion order and checks a bounded prefix (exactly the
#: first 50 entries, rounds 1–2), so insertion order IS the hard-signal
#: budget.  Unverified corpus ids outrank these (the corpus is the
#: declared contract); within extensions these are the ones the
#: contract values most: the LLM-pipeline dedup/ANN family, the
#: streaming/CDC lakehouse path, the astronomy surface the reference
#: exists to serve, and the scale-strategy joins.
RANKED_EXTENSIONS: tuple[str, ...] = (
    "dedup_minhash_lsh",
    "ann_ivf_topk",
    "stream_tumbling_watermark",
    "merge_cdc_upsert",
    "astro_conesearch_sph",
    "dedup_simhash",
    "ann_lsh_topk",
    "text_langid",
    "text_quality_score",
    "text_token_count",
    "mm_decode_meta",
    "mm_feature_embed",
    "mm_phash_near_dup",
    "ingest_csv_roundtrip",
    "source_fitslike_scan",
    "source_jdbc_registry",
    "stream_cdc_apply",
    "astro_crossmatch_sph",
    "vec_crossmatch_zoned",
    "join_bucketed_colocated",
    "join_salted_skew",
    "dedup_cluster_cc",
    "dedup_embedding_cosine",
    "ann_pq_topk",
    "ann_recall_eval",
    "sketch_hll_estimate",
    "rollup_serve_monthly",
    # --- round-3 window boundary (entries above fill CORRECTNESS_r03;
    # the three round-3 additions below lead the round-4 window) ---
    "agg_map_entries",
    "join_skew_aqe",
    "source_fitslike_varlen",
    "udf_zscore_pandas",
    "decontaminate_ngram",
    "text_bpe_train",
    "text_bpe_apply",
    "decontaminate_embedding",
    "ab_welch_ztest",
    "ml_logit_newton",
    "survival_kaplan_meier",
    "privacy_k_anonymity",
    "seq_kleene_funnel",
    "join_interval_overlap",
    "dedup_lsh_eval",
    "text_bpe_vocab_coverage",
    "mm_keyframe_select",
    "ingest_orc_roundtrip",
    "ml_silhouette_eval",
    "layout_bloom_file_skip",
    "fn_xml_extract",
    "stream_jdbc_sink",
    "agg_weighted_percentile",
    "text_langid_confusion",
    "text_fingerprint",
    "sample_mixture_weights",
    "lightcurve_stetson_j",
    # round-3 session-2 additions (model-eval + featurization family,
    # plus the drift/privacy audit pair): queue for the round-4/5
    # windows behind the earlier ranks.
    "ml_auc_rank",
    "ml_auc_pr",
    "ml_calibration_bins",
    "text_langid_prf1",
    "text_bm25_ndcg",
    "feat_hashing_trick",
    "privacy_l_diversity",
    "profile_psi_drift",
    "pipeline_curate_e2e",
    "ml_lift_gains_curve",
    "feat_target_encode",
    "stream_psi_monitor",
)


def driver_window_order(
    all_names: list[str], rows_only: tuple[str, ...] = ()
) -> list[str]:
    """Registry emission order: not-yet-driver-verified ids first (the
    50-entry driver prefix = new hard-signal rows every round), ranked
    contract-first, then the already-verified ids in their original
    relative order.

    Priority within the unverified block: (1) corpus ids in corpus
    order — the declared contract gets driver rows before any
    extension; (2) ``RANKED_EXTENSIONS`` in rank order; (3) the
    remaining extensions in registration order.

    ``rows_only`` ids (registered with no ``oracle_sql()`` entry —
    declared rows-only checks) are demoted behind the verified tail:
    their driver row can never be fully green (``err:"no_oracle"``),
    so letting one sit in the 50-entry prefix burns a hard-signal slot
    every round for a check the local suite already covers (VERDICT r5
    "What's wrong" #1).
    """
    verified = set(DRIVER_VERIFIED)
    demoted = verified | set(rows_only)
    in_registry = set(all_names)
    head: list[str] = [n for n in corpus.QUERY_NAMES if n not in demoted]
    head += [n for n in RANKED_EXTENSIONS if n not in demoted]
    seen = set(head)
    head += [n for n in all_names if n not in seen and n not in demoted]
    seen.update(head)
    # Verified tail in SNAPSHOT order, not registration order: the
    # snapshot is maintained least-recently-verified-first (see
    # DRIVER_VERIFIED), making the tail's front — and hence the 50-
    # entry driver prefix once the head empties — a rotating
    # regression window over the stalest green ids (VERDICT r8 #3).
    tail = [
        n
        for n in DRIVER_VERIFIED
        if n in in_registry and n not in seen and n not in set(rows_only)
    ]
    seen.update(tail)
    tail += [n for n in all_names if n not in seen and n not in set(rows_only)]
    return head + tail + [n for n in all_names if n in set(rows_only)]


def build_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {name: _sql_runner(name) for name in corpus.QUERY_NAMES}

    # DataFrame-API re-expressions override the SQL fallback.
    from .queries import DATAFRAME_QUERIES

    out.update(DATAFRAME_QUERIES)

    # Extension operator surface (adds new ids, never overrides corpus
    # ids), ranked extensions first.
    from .operators import EXTENSION_QUERIES

    missing = [n for n in RANKED_EXTENSIONS if n not in EXTENSION_QUERIES]
    if missing:
        raise ValueError(f"RANKED_EXTENSIONS not registered: {missing}")
    ordered = list(RANKED_EXTENSIONS) + [
        n for n in EXTENSION_QUERIES if n not in set(RANKED_EXTENSIONS)
    ]
    for name in ordered:
        if name in corpus.QUERY_NAMES:
            raise ValueError(f"extension query {name!r} collides with corpus id")
        out[name] = EXTENSION_QUERIES[name]
    unknown = [n for n in DRIVER_VERIFIED if n not in out]
    if unknown:
        raise ValueError(f"DRIVER_VERIFIED ids not registered: {unknown}")
    rows_only = tuple(n for n in out if n not in build_oracles())
    return {n: out[n] for n in driver_window_order(list(out), rows_only)}


def build_oracles() -> dict[str, str]:
    out = dict(corpus.ORACLE_SQL)

    from .operators import EXTENSION_ORACLES

    out.update(EXTENSION_ORACLES)
    return out
