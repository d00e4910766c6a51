"""Declared-query registry — the engine's oracle-checked surface.

Every operator from SURVEY.md §2 registers a named query here: a
callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
the equivalent ANSI SQL the DuckDB oracle runs on the same parquet.
``__spark_entry__.py`` re-exports this registry to the driver.

Column-name discipline: the driver's compare sorts columns by name
before hashing, so every computed column is aliased identically in the
Spark code and the SQL (SURVEY.md §5.2).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None,
             tags: tuple[str, ...] = (), doc: str = ""):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame``."""
    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, tags, doc or (fn.__doc__ or ""))
        return fn
    return wrap


# The driver's CORRECTNESS artifact samples the first 50 entries of
# ``queries()`` in this order. Every query has been sampled by such a
# window, so the order is fixed: a new query goes to the head, where
# the next driver run samples it, and positions 48-49 keep the probe
# canary (the DuckDB version readout and the uncast-HUGEINT sentinel,
# whose hash failure is the measurement).
_PRIORITY: tuple[str, ...] = (
    'similarity_ann_recall_report', 'dedup_ngram_jaccard', 'dedup_containment_pairs', 'dedup_clusters',
    'dedup_clusters_sharded', 'sample_split_leakage_safe', 'similarity_ann_ivf', 'similarity_ann_ivf_pruned',
    'similarity_ann_anchor_graph', 'similarity_ann_greedy_route', 'agg_histogram_prices', 'agg_mode_deterministic',
    'agg_percentile_disc', 'agg_weighted_stats', 'embedding_centroid_summary', 'fn_binary_base64',
    'funnel_3step', 'graph_triangle_count', 'profile_lineitem', 'sample_per_group',
    'sample_stratified_hash', 'sql_recursive_hierarchy', 'sql_scalar_udf_charge', 'stream_tumbling_batch_twin',
    'text_unigram_logprob', 'time_resample_ffill', 'udf_pandas_cosine', 'agg_filter_clause',
    'agg_grouping_id', 'agg_winsorized_mean', 'dedup_incremental_batch', 'drift_psi_value',
    'fn_struct', 'fn_trig', 'fn_xml_roundtrip', 'growth_accounting_daily',
    'join_bucketed', 'join_dpp_partitioned', 'join_runtime_bloom_smj', 'json_variant_extract',
    'layout_compact_files', 'mm_decode_arrow', 'mm_decode_features', 'mm_metadata_stats',
    'pipeline_training_data', 'pyds_stream_ledger', 'sample_split_3way', 'scd2_event_intervals',
    'probe_env_duckdb_version', 'probe_type_hugeint_sum_uncast', 'similarity_binary_quant', 'pack_sequences_greedy',
    'fn_regex', 'fn_conditional', 'fn_map', 'fn_time_events',
    'fn_array_ops', 'fn_date_arith', 'fn_json', 'dedup_minhash_det',
    'similarity_tfidf_pairs', 'subquery_correlated', 'fn_array', 'text_doc_stats',
    'text_tfidf', 'text_bm25', 'text_lang_id', 'text_quality_score',
    'text_fingerprint', 'dedup_exact', 'dedup_embedding_cosine', 'similarity_topk_bruteforce',
    'embedding_quantize_int8', 'time_rollup_multires', 'tpch_q21_waiting_suppliers', 'contamination_5gram',
    'pack_sequences_offset', 'sketch_bloom_semijoin', 'sketch_count_min_det', 'merge_upsert_customers',
    'tpch_q3_shipping_priority', 'pyds_sink_roundtrip', 'sink_tombstone_purge', 'layout_zorder',
    'join_salted', 'window_percent_rank', 'window_cume_dist', 'dedup_simhash_det',
    'dedup_fuzzy_edit_distance', 'similarity_ann_rp_det', 'agg_percentiles', 'udaf_median_per_brand',
    'kmeans_embeddings_det', 'dq_ks_two_sample', 'mm_audio_vad_segments', 'text_bpe_learn_merges',
    'wordcount_canonical', 'wordcount_rdd', 'wordcount_fidelity', 'source_text_dir_wordcount',
    'filter_project', 'join_broadcast_dim', 'join_fact_fact', 'join_star_schema',
    'agg_suite', 'setop_union', 'setop_intersect', 'setop_except',
    'topk_global', 'sort_multi_key', 'window_running_total', 'window_topk_per_group',
    'window_rank_ntile', 'window_lag_lead', 'window_first_last', 'window_moving_frame',
    'window_range_frame', 'join_semi', 'join_anti', 'join_left_outer',
    'join_full_outer', 'join_cross', 'join_theta', 'join_asof',
    'join_range', 'agg_distinct', 'agg_cube', 'agg_rollup',
    'agg_grouping_sets', 'agg_pivot', 'agg_unpivot', 'agg_collect',
    'agg_argminmax', 'agg_boolean', 'fn_string', 'fn_math',
    'fn_date', 'graph_degree_assortativity', 'events_time_to_convert', 'agg_theil_index',
    'window_anchored_vwap', 'dedup_cdc_chunking', 'time_downsample_m4', 'sample_poisson_det',
    'text_ngram_novelty_curve', 'graph_label_propagation', 'text_lang_id_eval', 'window_max_drawdown',
    'text_hashing_trick_det', 'graph_modularity_score', 'agg_hhi_concentration', 'time_autocorr_lag',
    'events_stickiness', 'text_sttr_diversity', 'sketch_count_min', 'sketch_hll_union',
    'agg_percentile_approx', 'text_vocab_approx', 'stream_tumbling', 'stream_dedup',
    'stream_stateful_counter', 'stream_static_join', 'stream_stream_join', 'stream_incremental_ingest',
    'stream_stream_outer_join', 'stream_stream_full_outer_join', 'text_tfidf_ml', 'dedup_minhash_lsh',
    'dedup_simhash', 'similarity_ann_lsh', 'window_ewma_smooth', 'sample_stratified_neyman',
    'tpch_q1_pricing_summary', 'tpch_q5_local_supplier_volume', 'fn_try_arithmetic', 'dedup_incremental_bloom',
    'variant_nested_typed', 'kmeans_embeddings', 'stream_stateful_session_gap', 'tpch_q15_top_supplier',
    'tpch_q14_promo_revenue', 'tpch_q6_forecast_revenue', 'stream_full_outer_join_batch_twin', 'text_inverted_index',
    'sql_lateral_topk', 'privacy_k_anonymity', 'join_asof_nearest', 'dedup_semantic_clusters',
    'source_parquet_footer_stats', 'mm_video_scene_cuts', 'text_bigram_logprob', 'agg_gini_lorenz',
    'events_pattern_regex', 'fn_gaps_islands', 'join_null_safe', 'part_abc_pareto',
    'window_rolling_median', 'time_ohlc_bars', 'dq_anomaly_iqr', 'profile_mutual_information',
    'text_keyphrases_rake', 'dedup_url_canonical', 'agg_bitmap_distinct', 'stream_session_gap_batch_twin',
    'text_boilerplate_lines', 'dedup_paragraph_exact', 'sql_recursive_cte_bfs', 'source_orc_roundtrip',
    'pii_luhn_validate', 'quality_lm_buckets', 'dq_benford_distribution', 'attribution_last_touch',
    'privacy_l_diversity', 'text_tokenizer_fertility', 'embedding_matryoshka_error', 'graph_wcc_trade',
    'part_skyline_dominance', 'attribution_linear_multi_touch', 'time_cusum_changepoint', 'text_zipf_slope',
    'privacy_dp_laplace_det', 'time_seasonal_decompose', 'dq_wilson_ci', 'graph_jaccard_link_pred',
    'embedding_pq_codes', 'source_binary_files', 'dq_late_arrival_audit', 'tpch_q16_supplier_part_counts',
    'tpch_q19_disjunctive_revenue', 'tpch_q22_dormant_customers', 'tpch_q2_min_cost_supplier', 'tpch_q7_volume_shipping',
    'tpch_q8_market_share', 'tpch_q9_product_profit', 'tpch_q11_important_stock', 'tpch_q13_customer_distribution',
    'tpch_q17_small_quantity_revenue', 'tpch_q20_dominant_suppliers', 'chunk_documents', 'pii_redact',
    'text_repetition_signals', 'sample_weighted_priority', 'agg_stats_moments', 'agg_regression',
    'agg_higher_moments', 'fn_fuzzy_string', 'fn_hash_digests', 'fn_bitwise',
    'fn_explode_variants', 'fn_collation_group', 'time_gapfill_weekly', 'sql_table_udf_trigrams',
    'stream_sliding_batch_twin', 'stream_session_batch_twin', 'pyds_wordcount', 'pagerank_nation_trade',
    'graph_bfs_hops', 'snapshot_diff_audit', 'shard_assign_balanced', 'probe_fn_list_agg_order',
    'probe_fn_collation_minmax', 'dedup_repeated_spans', 'dedup_incremental_neardup', 'sample_domain_cap',
    'sample_token_budget_mix', 'contamination_span_coverage', 'stream_outer_join_batch_twin', 'mm_phash_neardup',
    'similarity_hybrid_rrf', 'time_interpolate_linear', 'lang_temperature_sampling', 'join_interval_overlap',
    'interval_max_concurrency', 'quality_filter_report', 'join_spatial_neighbors', 'compact_keep_latest',
    'mv_incremental_refresh', 'fn_array_quantifiers', 'fn_map_hof', 'fn_array_setops',
    'fn_string_format', 'fn_datetime_extras', 'fn_csv_codec', 'fn_na_clean',
    'sketch_bloom_det', 'sketch_hll_det', 'agg_quantile_hist_est', 'retention_cohort_weekly',
    'basket_pair_affinity', 'stream_foreachbatch_compact', 'text_dup_ngram_coverage', 'contamination_embedding',
    'join_asof_tolerance', 'mm_chunk_dedup_ratio', 'dq_constraint_checks', 'window_rolling_zscore',
    'join_pit_versioned_dim', 'rfm_segmentation', 'dedup_minhash_estimate', 'event_transition_matrix',
    'fn_surrogate_keys', 'text_topk_words_per_source', 'text_vocab_per_lang', 'text_stopword_topk',
    'text_token_count_bpe', 'text_heavy_hitters', 'text_vocab_coverage', 'mm_frame_sample',
    'mm_resize_stub', 'udtf_explode_bigrams', 'udtf_python_tokenize', 'cogroup_asof_pandas',
    'anomaly_zscore', 'tpch_q10_returned_items', 'tpch_q18_large_orders', 'tpch_q4_order_priority',
    'probe_type_bigint_sum_cast', 'probe_type_decimal_raw', 'probe_type_double_negzero', 'probe_type_bigint',
    'probe_type_double', 'probe_type_null_mixed', 'probe_type_string_date_bool', 'probe_fn_hash_digits',
    'probe_fn_split_sort', 'probe_fn_temporal_arith', 'sink_partitioned_prune', 'stream_partitioned_sink',
    'source_csv_roundtrip', 'validate_table_fingerprint', 'web_url_host_stats', 'skew_key_histogram',
    'source_json_roundtrip', 'source_csv_permissive', 'source_schema_evolution', 'text_lang_stats',
    'text_token_ids', 'text_token_entropy', 'tpch_q12_late_lines_by_flag', 'shard_mix_entropy',
    'text_bpe_pair_counts', 'probe_env_pyarrow_version', 'probe_env_pandas_version', 'agg_approx_distinct',
    'sample_seeded',
)


def all_queries() -> dict[str, QuerySpec]:
    """Import all operator modules (side-effect: registration) and
    return the full registry, priority-ordered (see ``_PRIORITY``)."""
    _load_all()
    out = {n: _REGISTRY[n] for n in _PRIORITY if n in _REGISTRY}
    out.update((n, s) for n, s in _REGISTRY.items() if n not in out)
    return out


def queries() -> dict[str, QueryFn]:
    return {n: s.fn for n, s in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {n: s.oracle for n, s in all_queries().items() if s.oracle is not None}


_LOADED = False


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    # Import for side effects (each module registers its queries).
    from mapreducewordcounting_spark.operators import (  # noqa: F401
        wordcount,
        relational,
        scalar_fns,
        windows,
        text_analysis,
        dedup,
        similarity,
        multimodal,
        udfs,
        temporal,
        sketches,
        skew,
        iterative,
        tpch,
        tpch_full,
        training_ops,
        stats,
        cdc,
        fn_extras,
        fn_surface3,
        sql_surface,
        profiling,
        layout,
        io_roundtrip,
        probes,
        product_analytics,
        drift,
    )
    from mapreducewordcounting_spark import streaming  # noqa: F401
    from mapreducewordcounting_spark.sources import pyds  # noqa: F401
    _LOADED = True
