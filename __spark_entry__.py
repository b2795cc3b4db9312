"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001; ``queries()`` maps
operator names (SURVEY.md §2) to ``(spark, sf_dir) -> DataFrame`` callables;
``oracle_sql()`` gives the DuckDB-equivalent SQL per query for the driver's
row-count + schema + value-hash comparison at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nr_rfc_dischargeobs_spark.plans import (
    analytics,
    events,
    extensions,
    timeseries,
    tpch,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (round 9): the trained-ANN composition — coarse
    assignment → residuals → per-subspace k-means codebook training →
    IVFADC index → residual-ADC search (`ext_sim_ivfadc_topk`), the
    full production ANN recipe whose recall story SCALE_PROBE.json
    carries at 1M codes."""
    return extensions.sim_ivfadc_topk(spark, "/root/testdata/sf0.001")


def _ordered(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Append a fully deterministic ORDER BY over every output column.

    The driver's value-hash compare must see both engines' rows in one
    canonical order.  Spark's default sort is ascending NULLS FIRST, which
    ``_ordered_sql`` mirrors with DuckDB's ``ORDER BY ALL NULLS FIRST``.
    Sorting the *final* (post-aggregation, usually small) result adds one
    driver-visible exchange on already-reduced data — it never reorders the
    heavy part of the plan.
    """

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = fn(spark, sf_dir)
        try:
            return df.orderBy(*[df[c] for c in df.columns])
        except Exception:  # unorderable column type (map) — hash is rows-only
            return df

    return run


def _ordered_sql(sql: str) -> str:
    """DuckDB twin of :func:`_ordered` — wrap and sort by every column."""
    return (
        "SELECT * FROM (\n"
        + sql.rstrip().rstrip(";")
        + "\n) __q ORDER BY ALL NULLS FIRST"
    )


# The driver's correctness gate checks the FIRST 50 entries of
# ``queries()``, so dict order is part of the driver contract.  The window
# is a policy the registry cannot derive: it leads with the newest
# queries, then the stalest witnesses.  Every query it displaces carries
# a green witness in an earlier CORRECTNESS_rNN.json, so the union
# invariant (CORRECTNESS_r01..r13 covers every registered query with a
# green latest witness) is preserved; displaced queries are re-verified
# locally via tools/check_oracle.py.
_R13_WINDOW = [
    "ext_sim_ivfadc_merge",
    "ext_sim_ivfadc_maintenance",
    "ext_sim_ivfadc_budget",
    "ext_sim_ivfadc_range",
    "ext_sim_ivfadc_segments_range",
    "ext_mm_decode_png_wide",
    "ext_mm_jpeg_headers",
    "ext_sim_sq8_topk",
    "ext_sim_ivf_sq8_topk",
    "ext_sketch_hist_quantiles",
    "ext_sketch_hll_vocab",
    "ext_text_bpe_merges",
    "ext_dedup_incremental",
    "ext_diag_psi_drift",
    "ext_diag_skew_profile",
    "ext_sample_cluster_balanced",
    "ext_sim_ivf_pq_refined",
    "ext_sim_ivf_pq_topk",
    "ext_sim_pca_gram",
    "ext_sim_pq_adc_topk",
    "ext_sim_pq_codes",
    "ext_sim_pq_train_codebook",
    "ext_text_bpe_segment",
    "ext_text_collocations",
    "ext_text_winnow_fps",
    "ext_text_winnow_pairs",
    "fn_formula_estimate",
    "tpch_q10_returned_item_report",
    "tpch_q11_important_stock",
    "tpch_q12_line_priority_counts",
    "tpch_q13_customer_order_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_parts_supplier_relationship",
    "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_volume_customer",
    "tpch_q19_disjunctive_revenue",
    "tpch_q1_pricing_summary",
    "tpch_q20_excess_shippers",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_idle_rich_customers",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority_exists",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_type_profit",
    "ts_completeness_daily",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Every callable is wrapped in :func:`_ordered`, and every oracle in
    :func:`_ordered_sql`, so both sides emit a canonical row order.
    ``_R13_WINDOW`` leads the dict (the driver's 50-query correctness
    window); the rest keep their registry order.
    """
    raw = _raw_queries()
    # explicit raise, not assert: python -O strips asserts, which would
    # silently let a malformed window reorder the driver's gated 50
    if len(_R13_WINDOW) != 50 or not set(_R13_WINDOW) <= set(raw):
        raise ValueError(
            f"driver window malformed: {len(_R13_WINDOW)} entries,"
            f" unknown={sorted(set(_R13_WINDOW) - set(raw))}"
        )
    out = {k: raw[k] for k in _R13_WINDOW}
    out.update({k: v for k, v in raw.items() if k not in out})
    return {k: _ordered(v) for k, v in out.items()}


def _raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registered plans in registry order, without the canonical sort."""
    return {name: plan for name, plan, _ in _registry()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each ``queries()`` entry."""
    return {name: _ordered_sql(sql) for name, _, sql in _registry()}


def _registry() -> list[tuple[str, Callable[[SparkSession, str], DataFrame], str]]:
    """Every registered query, once: ``(name, plan, DuckDB twin SQL)``.

    Row order is the registration order that ``queries()`` keeps below the
    driver window.  Built per call, so SQL builders such as
    ``events.melt_wide_to_long_sql()`` run at call time, not at import.
    """
    return [
        ("ext_sim_ivfadc_merge", extensions.sim_ivfadc_merge,
         extensions.SIM_IVFADC_MERGE_SQL),
        ("ext_sim_ivfadc_maintenance", extensions.sim_ivfadc_maintenance,
         extensions.SIM_IVFADC_MAINTENANCE_SQL),
        ("ext_sim_ivfadc_budget", extensions.sim_ivfadc_budget,
         extensions.SIM_IVFADC_BUDGET_SQL),
        ("ext_sim_ivfadc_range", extensions.sim_ivfadc_range,
         extensions.SIM_IVFADC_RANGE_SQL),
        ("ext_sim_ivfadc_segments_range", extensions.sim_ivfadc_segments_range,
         extensions.SIM_IVFADC_SEGMENTS_RANGE_SQL),
        ("ext_mm_decode_png_wide", extensions.mm_decode_png_wide,
         extensions.MM_DECODE_PNG_WIDE_SQL),
        ("ext_mm_jpeg_headers", extensions.mm_jpeg_headers,
         extensions.MM_JPEG_HEADERS_SQL),
        ("ext_sim_sq8_topk", extensions.sim_sq8_topk, extensions.SIM_SQ8_TOPK_SQL),
        ("ext_sim_ivf_sq8_topk", extensions.sim_ivf_sq8_topk,
         extensions.SIM_IVF_SQ8_TOPK_SQL),
        ("ext_sim_ivfadc_segments", extensions.sim_ivfadc_segments,
         extensions.SIM_IVFADC_SEGMENTS_SQL),
        ("ext_sim_ivfadc_deleted", extensions.sim_ivfadc_deleted,
         extensions.SIM_IVFADC_DELETED_SQL),
        ("ext_sim_ivfadc_adaptive", extensions.sim_ivfadc_adaptive,
         extensions.SIM_IVFADC_ADAPTIVE_SQL),
        ("ext_mm_decode_png", extensions.mm_decode_png, extensions.MM_DECODE_PNG_SQL),
        ("ext_sim_ivfadc_rotated", extensions.sim_ivfadc_rotated,
         extensions.SIM_IVFADC_ROTATED_SQL),
        ("ext_sim_ivfadc_filtered", extensions.sim_ivfadc_filtered,
         extensions.SIM_IVFADC_FILTERED_SQL),
        ("a1_hourly_rollup_last_override", events.hourly_rollup_last_override,
         events.HOURLY_ROLLUP_LAST_OVERRIDE_SQL),
        ("a2_rising_falling_recurrence", events.rising_falling_hourly,
         events.RISING_FALLING_HOURLY_SQL),
        ("a3_daily_rollup_chain", events.daily_rollup_chain,
         events.DAILY_ROLLUP_CHAIN_SQL),
        ("ts_zscore_anomaly", timeseries.zscore_anomaly, timeseries.ZSCORE_ANOMALY_SQL),
        ("ts_value_histogram", timeseries.value_histogram,
         timeseries.VALUE_HISTOGRAM_SQL),
        ("ext_sim_ivfadc_store_topk", extensions.sim_ivfadc_store_topk,
         extensions.SIM_IVFADC_STORE_TOPK_SQL),
        ("ext_sim_ivfadc_topk", extensions.sim_ivfadc_topk,
         extensions.SIM_IVFADC_TOPK_SQL),
        ("ext_dedup_cc_star", extensions.dedup_cc_star, extensions.DEDUP_CC_STAR_SQL),
        ("ext_text_bm25_topk", extensions.text_bm25_topk,
         extensions.TEXT_BM25_TOPK_SQL),
        ("ext_sim_kmeans_clusters", extensions.sim_kmeans_clusters,
         extensions.SIM_KMEANS_CLUSTERS_SQL),
        ("ext_sim_semantic_dedup", extensions.sim_semantic_dedup,
         extensions.SIM_SEMANTIC_DEDUP_SQL),
        ("ext_dedup_minhash_wide", extensions.dedup_minhash_wide,
         extensions.DEDUP_MINHASH_WIDE_SQL),
        ("ext_dedup_lsh_pairs_capped", extensions.dedup_lsh_pairs_capped,
         extensions.DEDUP_LSH_PAIRS_CAPPED_SQL),
        ("ext_dedup_minhash_signatures", extensions.dedup_minhash_signatures,
         extensions.DEDUP_MINHASH_SIGNATURES_SQL),
        ("ext_dedup_lsh_pairs", extensions.dedup_lsh_pairs,
         extensions.DEDUP_LSH_PAIRS_SQL),
        ("a8_last_valid_per_station", events.last_valid_per_station,
         events.LAST_VALID_PER_STATION_SQL),
        ("w1_ffill_hourly_gaps", events.ffill_hourly_gaps,
         events.FFILL_HOURLY_GAPS_SQL),
        ("w2_suppress_repeat_labels", events.suppress_repeat_labels,
         events.SUPPRESS_REPEAT_LABELS_SQL),
        ("w3_year_rollover_disambiguation", events.year_rollover_disambiguation,
         events.YEAR_ROLLOVER_DISAMBIGUATION_SQL),
        ("fn_unit_conversion", events.unit_conversion, events.UNIT_CONVERSION_SQL),
        ("fn_json_props_stats", events.json_props_stats, events.JSON_PROPS_STATS_SQL),
        ("an_topk_per_group", analytics.topk_per_group, analytics.TOPK_PER_GROUP_SQL),
        ("an_sessionize_gap30m", analytics.sessionize, analytics.SESSIONIZE_SQL),
        ("an_asof_join_view_purchase", analytics.asof_join, analytics.ASOF_JOIN_SQL),
        ("an_range_join_binned", analytics.range_join_binned,
         analytics.RANGE_JOIN_BINNED_SQL),
        ("an_rollup_subtotals", analytics.rollup_subtotals,
         analytics.ROLLUP_SUBTOTALS_SQL),
        ("an_funnel_conversion", analytics.funnel_conversion,
         analytics.FUNNEL_CONVERSION_SQL),
        ("an_retention_cohorts", analytics.retention_cohorts,
         analytics.RETENTION_COHORTS_SQL),
        ("ext_dedup_jaccard_pairs", extensions.dedup_jaccard_pairs,
         extensions.DEDUP_JACCARD_PAIRS_SQL),
        ("ext_dedup_simhash", extensions.dedup_simhash, extensions.DEDUP_SIMHASH_SQL),
        ("ext_mm_frame_sample", extensions.mm_frame_sample,
         extensions.MM_FRAME_SAMPLE_SQL),
        ("ext_mm_resize_dims", extensions.mm_resize_dims,
         extensions.MM_RESIZE_DIMS_SQL),
        ("ext_text_token_counts", extensions.text_token_counts,
         extensions.TEXT_TOKEN_COUNTS_SQL),
        ("ext_text_lang_id", extensions.text_lang_id, extensions.text_lang_id_sql()),
        ("ext_text_ngram_stats", extensions.text_ngram_stats,
         extensions.TEXT_NGRAM_STATS_SQL),
        ("ext_text_facet_stats", extensions.text_facet_stats,
         extensions.TEXT_FACET_STATS_SQL),
        ("ext_text_fingerprint", extensions.text_fingerprint,
         extensions.TEXT_FINGERPRINT_SQL),
        ("ext_text_length_profile", extensions.text_length_profile,
         extensions.TEXT_LENGTH_PROFILE_SQL),
        ("ext_contamination_semantic", extensions.contamination_semantic,
         extensions.CONTAMINATION_SEMANTIC_SQL),
        ("ext_curate_semantic", extensions.curate_semantic,
         extensions.CURATE_SEMANTIC_SQL),
        ("ext_curate_corpus", extensions.curate_corpus_plan,
         extensions.CURATE_CORPUS_SQL),
        ("ext_text_bigram_lm", extensions.text_bigram_lm,
         extensions.TEXT_BIGRAM_LM_SQL),
        ("ext_text_line_dedup", extensions.text_line_dedup,
         extensions.TEXT_LINE_DEDUP_SQL),
        ("ext_text_span_dedup", extensions.text_span_dedup,
         extensions.TEXT_SPAN_DEDUP_SQL),
        ("ext_text_span_dedup_maximal", extensions.text_span_dedup_maximal,
         extensions.TEXT_SPAN_DEDUP_MAXIMAL_SQL),
        ("ext_sample_dsir_weights", extensions.sample_dsir_weights,
         extensions.SAMPLE_DSIR_WEIGHTS_SQL),
        ("ext_sample_dsir_select", extensions.sample_dsir_select,
         extensions.SAMPLE_DSIR_SELECT_SQL),
        ("ext_pack_sequence_rows", extensions.pack_sequence_rows_plan,
         extensions.PACK_SEQUENCE_ROWS_SQL),
        ("ext_sample_unimax", extensions.sample_unimax, extensions.SAMPLE_UNIMAX_SQL),
        ("ext_sim_ann_recall", extensions.sim_ann_recall,
         extensions._sim_ann_recall_sql()),
        ("ext_decontam_bloom", extensions.decontam_bloom,
         extensions._decontam_bloom_sql()),
        ("ext_dedup_incremental", extensions.dedup_incremental,
         extensions.DEDUP_INCREMENTAL_SQL),
        ("ext_sim_pca_gram", extensions.sim_pca_gram, extensions.SIM_PCA_GRAM_SQL),
        ("ext_sample_cluster_balanced", extensions.sample_cluster_balanced,
         extensions.SAMPLE_CLUSTER_BALANCED_SQL),
        ("ext_sim_ivf_pq_topk", extensions.sim_ivf_pq_topk,
         extensions.SIM_IVF_PQ_TOPK_SQL),
        ("ext_sim_ivf_pq_refined", extensions.sim_ivf_pq_refined,
         extensions.SIM_IVF_PQ_REFINED_SQL),
        ("ext_sim_pq_train_codebook", extensions.sim_pq_train_codebook,
         extensions.SIM_PQ_TRAIN_CODEBOOK_SQL),
        ("ext_sim_pq_adc_topk", extensions.sim_pq_adc_topk,
         extensions.SIM_PQ_ADC_TOPK_SQL),
        ("ext_sim_pq_codes", extensions.sim_pq_codes, extensions.SIM_PQ_CODES_SQL),
        ("ext_diag_psi_drift", extensions.diag_psi_drift,
         extensions.DIAG_PSI_DRIFT_SQL),
        ("ext_diag_skew_profile", extensions.diag_skew_profile,
         extensions.DIAG_SKEW_PROFILE_SQL),
        ("ext_text_bpe_segment", extensions.text_bpe_segment,
         extensions.TEXT_BPE_SEGMENT_SQL),
        ("ext_text_collocations", extensions.text_collocations,
         extensions.TEXT_COLLOCATIONS_SQL),
        ("ext_text_winnow_fps", extensions.text_winnow_fps,
         extensions.TEXT_WINNOW_FPS_SQL),
        ("ext_text_winnow_pairs", extensions.text_winnow_pairs,
         extensions.TEXT_WINNOW_PAIRS_SQL),
        ("fn_formula_estimate", events.formula_estimate, events.formula_estimate_sql()),
        ("tpch_q10_returned_item_report", tpch.returned_item_report,
         tpch.RETURNED_ITEM_REPORT_SQL),
        ("tpch_q11_important_stock", tpch.important_stock, tpch.IMPORTANT_STOCK_SQL),
        ("tpch_q12_line_priority_counts", tpch.line_priority_counts,
         tpch.LINE_PRIORITY_COUNTS_SQL),
        ("tpch_q13_customer_order_distribution", tpch.customer_order_distribution,
         tpch.CUSTOMER_ORDER_DISTRIBUTION_SQL),
        ("tpch_q14_promo_revenue", tpch.promo_revenue, tpch.PROMO_REVENUE_SQL),
        ("tpch_q15_top_supplier", tpch.top_supplier, tpch.TOP_SUPPLIER_SQL),
        ("tpch_q16_parts_supplier_relationship", tpch.parts_supplier_relationship,
         tpch.PARTS_SUPPLIER_RELATIONSHIP_SQL),
        ("tpch_q17_small_quantity_revenue", tpch.small_quantity_revenue,
         tpch.SMALL_QUANTITY_REVENUE_SQL),
        ("tpch_q18_large_volume_customer", tpch.large_volume_customer,
         tpch.LARGE_VOLUME_CUSTOMER_SQL),
        ("tpch_q19_disjunctive_revenue", tpch.disjunctive_revenue,
         tpch.DISJUNCTIVE_REVENUE_SQL),
        ("tpch_q1_pricing_summary", tpch.pricing_summary, tpch.PRICING_SUMMARY_SQL),
        ("tpch_q20_excess_shippers", tpch.excess_shippers, tpch.EXCESS_SHIPPERS_SQL),
        ("tpch_q21_waiting_suppliers", tpch.waiting_suppliers,
         tpch.WAITING_SUPPLIERS_SQL),
        ("tpch_q22_idle_rich_customers", tpch.idle_rich_customers,
         tpch.IDLE_RICH_CUSTOMERS_SQL),
        ("tpch_q2_min_cost_supplier", tpch.min_cost_supplier,
         tpch.MIN_COST_SUPPLIER_SQL),
        ("tpch_q3_shipping_priority", tpch.shipping_priority,
         tpch.SHIPPING_PRIORITY_SQL),
        ("tpch_q4_order_priority_exists", tpch.order_priority_exists,
         tpch.ORDER_PRIORITY_EXISTS_SQL),
        ("tpch_q5_local_supplier_volume", tpch.local_supplier_volume,
         tpch.LOCAL_SUPPLIER_VOLUME_SQL),
        ("tpch_q6_forecast_revenue", tpch.forecast_revenue, tpch.FORECAST_REVENUE_SQL),
        ("tpch_q7_volume_shipping", tpch.volume_shipping, tpch.VOLUME_SHIPPING_SQL),
        ("tpch_q8_market_share", tpch.market_share, tpch.MARKET_SHARE_SQL),
        ("tpch_q9_product_type_profit", tpch.product_type_profit,
         tpch.PRODUCT_TYPE_PROFIT_SQL),
        ("ts_completeness_daily", timeseries.completeness_daily,
         timeseries.COMPLETENESS_DAILY_SQL),
        ("ts_dow_hour_profile", timeseries.dow_hour_profile,
         timeseries.DOW_HOUR_PROFILE_SQL),
        ("ts_interpolate_hourly", timeseries.interpolate_hourly,
         timeseries.INTERPOLATE_HOURLY_SQL),
        ("ts_moving_avg_1h", timeseries.moving_avg_1h, timeseries.MOVING_AVG_1H_SQL),
        ("ts_percentile_summary", timeseries.percentile_summary,
         timeseries.PERCENTILE_SUMMARY_SQL),
        ("ts_spike_flags", timeseries.spike_flags, timeseries.SPIKE_FLAGS_SQL),
        ("ts_trapezoid_volume", timeseries.trapezoid_volume,
         timeseries.TRAPEZOID_VOLUME_SQL),
        ("ext_sketch_hll_vocab", extensions.sketch_hll_vocab,
         extensions.SKETCH_HLL_VOCAB_SQL),
        ("ext_sketch_cms_heavy", extensions.sketch_cms_heavy,
         extensions.SKETCH_CMS_HEAVY_SQL),
        ("ext_sketch_hist_quantiles", extensions.sketch_hist_quantiles,
         extensions.SKETCH_HIST_QUANTILES_SQL),
        ("ext_text_bpe_merges", extensions.text_bpe_merges,
         extensions.TEXT_BPE_MERGES_SQL),
        ("ext_dedup_exact_clusters", extensions.dedup_exact_clusters,
         extensions.DEDUP_EXACT_CLUSTERS_SQL),
        ("ext_dedup_cc_clusters", extensions.dedup_cc_clusters,
         extensions.DEDUP_CC_CLUSTERS_SQL),
        ("ext_sim_cosine_topk", extensions.sim_cosine_topk,
         extensions.SIM_COSINE_TOPK_SQL),
        ("ext_sim_ivf_topk", extensions.sim_ivf_topk, extensions.SIM_IVF_TOPK_SQL),
        ("ext_mm_blob_stats", extensions.mm_blob_stats, extensions.MM_BLOB_STATS_SQL),
        ("ext_text_quality_scores", extensions.text_quality_scores,
         extensions.TEXT_QUALITY_SCORES_SQL),
        ("ext_contamination_ngram", extensions.contamination_ngram,
         extensions.CONTAMINATION_NGRAM_SQL),
        ("ext_contamination_spans", extensions.contamination_spans,
         extensions.CONTAMINATION_SPANS_SQL),
        ("ext_dedup_containment", extensions.dedup_containment,
         extensions.DEDUP_CONTAINMENT_SQL),
        ("ext_dedup_embedding_neardup", extensions.dedup_embedding_neardup,
         extensions.DEDUP_EMBEDDING_NEARDUP_SQL),
        ("ext_mix_token_rates", extensions.mix_token_rates,
         extensions.MIX_TOKEN_RATES_SQL),
        ("ext_mm_decode_features", extensions.mm_decode_features,
         extensions.MM_DECODE_FEATURES_SQL),
        ("ext_pack_sequences", extensions.pack_sequences,
         extensions.PACK_SEQUENCES_SQL),
        ("ext_sample_shard_plan", extensions.sample_shard_plan,
         extensions.SAMPLE_SHARD_PLAN_SQL),
        ("ext_sample_source_caps", extensions.sample_source_caps,
         extensions.SAMPLE_SOURCE_CAPS_SQL),
        ("ext_sample_split", extensions.sample_deterministic_split,
         extensions.SAMPLE_DETERMINISTIC_SPLIT_SQL),
        ("ext_sample_stratified", extensions.sample_stratified,
         extensions.SAMPLE_STRATIFIED_SQL),
        ("ext_sim_lsh_bucketed_topk", extensions.sim_lsh_bucketed_topk,
         extensions.SIM_LSH_BUCKETED_TOPK_SQL),
        ("ext_sim_quantize_int8", extensions.sim_quantize_int8,
         extensions.SIM_QUANTIZE_INT8_SQL),
        ("ext_text_chunk_windows", extensions.text_chunk_windows,
         extensions.TEXT_CHUNK_WINDOWS_SQL),
        ("ext_text_entropy", extensions.text_entropy, extensions.TEXT_ENTROPY_SQL),
        ("ext_text_gopher_rules", extensions.text_gopher_rules,
         extensions.TEXT_GOPHER_RULES_SQL),
        ("ext_text_hash_classifier", extensions.text_hash_classifier,
         extensions.TEXT_HASH_CLASSIFIER_SQL),
        ("ext_text_pii_scrub", extensions.text_pii_scrub,
         extensions.TEXT_PII_SCRUB_SQL),
        ("ext_text_repetition", extensions.text_repetition,
         extensions.TEXT_REPETITION_SQL),
        ("ext_text_top_terms", extensions.text_top_terms,
         extensions.TEXT_TOP_TERMS_SQL),
        ("ts_cusum_drift", timeseries.cusum_drift, timeseries.CUSUM_DRIFT_SQL),
        ("ts_deseasonalized_residuals", timeseries.deseasonalized_residuals,
         timeseries.DESEASONALIZED_RESIDUALS_SQL),
        ("p1_p3_projection_timerange", events.projection_timerange,
         events.PROJECTION_TIMERANGE_SQL),
        ("p2_semi_join_stations", events.semi_join_stations,
         events.SEMI_JOIN_STATIONS_SQL),
        ("p4_dict_remap", events.dict_remap, events.DICT_REMAP_SQL),
        ("p6_numeric_validity", events.numeric_validity, events.NUMERIC_VALIDITY_SQL),
        ("j1_full_outer_qh_align", events.full_outer_qh_align,
         events.FULL_OUTER_QH_ALIGN_SQL),
        ("j2_union_conformed_sources", events.union_conformed_sources,
         events.UNION_CONFORMED_SOURCES_SQL),
        ("j3_coalescing_upsert", events.coalescing_upsert,
         events.COALESCING_UPSERT_SQL),
        ("j4_scaffold_align_hours", events.scaffold_align_hours,
         events.SCAFFOLD_ALIGN_HOURS_SQL),
        ("j6_cross_join_scaffold", events.cross_join_scaffold,
         events.CROSS_JOIN_SCAFFOLD_SQL),
        ("set_anti_join_new_stations", events.anti_join_new_stations,
         events.ANTI_JOIN_NEW_STATIONS_SQL),
        ("a4_dedup_5min_grid", events.dedup_5min_grid, events.DEDUP_5MIN_GRID_SQL),
        ("a5_pivot_daily_wide", events.pivot_daily_wide, events.PIVOT_DAILY_WIDE_SQL),
        ("a6_melt_wide_to_long", events.melt_wide_to_long,
         events.melt_wide_to_long_sql()),
        ("a7_distinct_partition_keys", events.distinct_partition_keys,
         events.DISTINCT_PARTITION_KEYS_SQL),
    ]
