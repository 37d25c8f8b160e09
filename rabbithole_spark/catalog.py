"""Query/operator registry — the surface the driver's harness reads.

Every implemented operator from SURVEY.md §2B registers here with

- a Spark callable ``(spark, sf_dir) -> DataFrame``, and
- (when SQL-expressible) an equivalent DuckDB oracle SQL string.

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this
registry. Column names are aliased identically on both sides: the driver
sorts columns by name before hashing values.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from rabbithole_spark.session import prepare

QueryFn = Callable[[SparkSession, str], DataFrame]

#: Query modules whose import populates the registry.
_QUERY_MODULES = (
    "rabbithole_spark.queries.llm",
    "rabbithole_spark.queries.tpch",
    "rabbithole_spark.queries.tpch_derived",
    "rabbithole_spark.queries.temporal",
    "rabbithole_spark.queries.stats",
    "rabbithole_spark.queries.udfs",
    "rabbithole_spark.queries.pipeline",
    "rabbithole_spark.queries.core",
    "rabbithole_spark.queries.joins",
    "rabbithole_spark.queries.aggregates",
    "rabbithole_spark.queries.windows",
    "rabbithole_spark.queries.setops",
    "rabbithole_spark.queries.sortlimit",
    "rabbithole_spark.queries.scalars",
    "rabbithole_spark.queries.sqlsurface",
    "rabbithole_spark.queries.layout",
)

#: Registry emission order. External harnesses verify a bounded
#: 50-query prefix of the registry per round, so queries needing
#: external verification go FIRST — the per-round window layout is
#: documented inline at the top of the tuple (recomputed each round
#: from the union of CORRECTNESS_r01..r{N-1}).
#: Staleness invariant (pinned in tests/test_catalog_invariants.py):
#: with a 50-slot window and this ordering discipline no oracle-backed
#: query's latest external row may trail the current round by more
#: than 4 rounds, and never-checked queries must form the order's
#: prefix. Names
#: absent from this list follow in registration order; names listed
#: but not registered are ignored.
#:
#: CAPACITY (round 10): 200 registered queries at 50 checks/round is
#: the exact saturation point of the 4-round invariant — every query
#: is refreshed on a fixed 4-round cycle with zero slack. A 201st
#: registration makes the invariant unsatisfiable; adding one
#: requires retiring one (or relaxing the horizon). The registry is
#: complete against SURVEY.md §2, so this is a completion marker, not
#: a constraint being fought.
_PRIORITY_ORDER = (
    # round-14 window = slots 0-49 (regenerated by scripts/
    # rotate_window.py from the CORRECTNESS_r*.json union): registry
    # sorted by (latest external round, name) — the stalest block(s)
    # fill the window, never-checked names lead. This window draws
    # from block(s): r9, r10 (50 names fill the window).
    # --- latest external row: round 9 ---
    "profile_orders_columns",
    "similarity_hard_negatives_bcast",
    "similarity_range_search",
    "similarity_topk_bruteforce",
    "stream_sliding_counts",
    "stream_stream_left_semi",
    "temporal_calendar_funcs",
    "text_bm25_ranking",
    "text_chunk_documents",
    "text_lang_id",
    "text_pii_scrub",
    "text_quality_classifier",
    "text_readability_scores",
    "text_repetition_filter",
    "text_token_counts",
    "text_top_ngrams",
    "tpch_q14_promo_share",
    "tpch_q4_exists_shape",
    "tpch_q6_revenue_delta",
    "window_sliding_hourly",
    # --- latest external row: round 10 ---
    "agg_cube",
    "agg_distinct_pairs",
    "agg_having",
    "agg_kll_quantile_sketch",
    "agg_median_iqr",
    "join_anti_no_big_order",
    "join_asof_events",
    "join_cross_region_nation",
    "layout_zorder_clustering",
    "pivot_event_counts",
    "sample_weighted_no_replacement",
    "scalar_array_funcs",
    "scalar_array_hof",
    "scalar_conditional",
    "scalar_json_funcs",
    "scalar_math_funcs",
    "scalar_null_semantics",
    "scalar_string_funcs",
    "scalar_variant_json",
    "setop_except",
    "setop_except_all",
    "setop_intersect",
    "setop_intersect_all",
    "setop_union_all",
    "setop_union_distinct",
    "shard_shuffle_assignment",
    "sketch_tolerance_audit",
    "sort_limit_top_orders",
    "sort_nulls_first",
    "source_overlap_matrix",
    "stream_count_or_time_sizes",
    "stream_ingest_dedup_against_corpus",
    "stream_stream_full_outer",
    "subquery_correlated",
    "subquery_scalar",
    "text_gopher_rules",
    "text_winnow_fingerprints",
    "topk_per_group",
    "tpch_q13_customer_distribution",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity",
    "tpch_q19_disjunctive_pushdown",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_global_sales_opportunity",
    "tpch_q7_nation_volume",
    "tpch_q8_market_share",
    "unpivot_customer_metrics",
    "window_distribution",
    "window_lag_lead",
    # --- latest external row: round 11 ---
    "agg_approx_percentile",
    "agg_conditional",
    "agg_event_stats",
    "agg_rollup",
    "cohort_weekly_retention",
    "dedup_incremental_new_docs",
    "dedup_repeated_span_coverage",
    "diagnostic_join_key_skew",
    "mixture_js_divergence_by_source",
    "sample_fixed_k_per_source",
    "sample_stratified_by_lang",
    "sample_uniform_documents",
    "scalar_try_arithmetic",
    "similarity_ann_lsh",
    "similarity_filtered_topk",
    "similarity_mmr_rerank",
    "stats_mad_outliers",
    "stream_count_or_time_batcher",
    "stream_stream_right_outer",
    "text_collocation_pmi",
    "text_lm_cross_entropy",
    "text_vocab_coverage_curve",
    "text_vocab_oov_rate",
    "timeseries_user_profile_outliers",
    "tpch_q12_priority_lines",
    "tpch_q9_product_profit",
    "udf_grouped_zscore",
    "udf_pandas_vectorized",
    "udf_python_rowwise",
    "udf_udtf_lateral_split",
    "window_range_frame",
    "window_rank_orders",
    "window_running_totals",
    "window_session_per_user",
    # --- latest external row: round 12 ---
    "agg_hll_sketch_union",
    "contamination_semantic_screen",
    "corpus_snapshot_diff",
    "curriculum_phase_stats",
    "embedding_random_projection",
    "funnel_conversion_stages",
    "join_full_outer_nation_counts",
    "join_inner_enriched_orders",
    "join_lateral_topn",
    "join_multiway_revenue",
    "join_range_quantity_bands",
    "join_right_suppliers_nations",
    "join_semi_big_spenders",
    "mixture_temperature_weights",
    "pack_length_buckets",
    "pack_padding_efficiency",
    "pack_sequences_by_source",
    "pipeline_curation_full",
    "pricing_summary",
    "retrieval_hybrid_rrf",
    "sample_quality_weighted",
    "scalar_map_funcs",
    "similarity_hard_negatives",
    "source_quality_rollup",
    "split_train_val_test",
    "sql_recursive_gapfill_days",
    "stream_dedup_watermark",
    "stream_dedup_within_watermark",
    "stream_session_window",
    "stream_stateful_running_totals",
    "stream_static_enrich",
    "stream_stream_interval_join",
    "stream_stream_outer_join",
    "stream_tumbling_counts",
    "subquery_in",
    "temporal_arithmetic",
    "temporal_parts",
    "temporal_trunc_daily",
    "text_quality_stats",
    "text_remove_boilerplate",
    "text_segment_dedup_rate",
    "text_tfidf_top_terms",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume",
    "tpch_q3_shipping_priority",
    "udf_cogrouped_asof",
    "window_tumbling_hourly",
    # --- latest external row: round 13 ---
    "agg_approx_count_distinct",
    "agg_bool_countif",
    "agg_corr_regression",
    "agg_grouping_sets",
    "agg_minmax_by",
    "agg_percentiles",
    "agg_stats_moments",
    "agg_string_collect",
    "agg_theta_sketch_setops",
    "contamination_ngram_overlap",
    "contamination_semantic_screen_bcast",
    "contamination_winnow_overlap",
    "dedup_canonical_survivors",
    "dedup_components",
    "dedup_duplicate_ngram_spans",
    "dedup_edit_distance_prefix",
    "dedup_edit_distance_prefix_sparse",
    "dedup_exact_documents",
    "dedup_fingerprint",
    "dedup_jaccard_prefix_filter",
    "dedup_minhash_incremental",
    "dedup_minhash_lsh",
    "dedup_minhash_recall_audit",
    "dedup_semantic_semdedup",
    "dedup_simhash",
    "embedding_centroids",
    "join_attribution_clicks",
    "join_left_customer_orders",
    "join_salted_skew",
    "lateral_posexplode_words",
    "mixture_dsir_importance",
    "mixture_resample_by_lang",
    "mixture_token_budget",
    "multimodal_binary_stats",
    "multimodal_feature_extract",
    "multimodal_frame_sample",
    "multimodal_resize_pipeline",
    "pii_redaction",
    "pipeline_clean_corpus",
    "pipeline_param_mapping",
    "similarity_ann_ivf",
    "similarity_ann_ivf_batch",
    "similarity_ann_quantized",
    "similarity_embedding_near_dup",
    "similarity_kmeans_clusters",
    "text_ngram_novelty",
    "tpch_q11_important_stock",
    "tpch_q16_supplier_part_counts",
    "tpch_q20_excess_stock",
    "tpch_q2_min_cost_supplier",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB ANSI SQL; None -> driver's rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator registering a query; wraps the fn to pin session confs."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str, *args, **kwargs) -> DataFrame:
            prepare(spark)
            return fn(spark, sf_dir, *args, **kwargs)

        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=wrapped, oracle=oracle, doc=doc)
        return wrapped

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (registration is an import side effect)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    ordered: dict[str, QuerySpec] = {}
    for name in _PRIORITY_ORDER:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        ordered.setdefault(name, spec)
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in load_all().items() if spec.oracle
    }
