"""Query registry.

Every operator from SURVEY.md §2 lands here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible)
an ANSI-SQL oracle string run by DuckDB over the same parquet tables.

The registry is what ``__spark_entry__.queries()`` / ``oracle_sql()``
expose to the driver's correctness harness.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
_PYTEST_ONLY: set[str] = set()


def register(name: str, oracle: Optional[str] = None, driver: bool = True):
    """Decorator: register a query under ``name`` with an optional DuckDB
    oracle. Queries without an oracle get the driver's weaker rows-only
    check (reserved for genuinely non-SQL-expressible ops).

    ``driver=False`` keeps the query benched and pytest-covered but out
    of the driver-facing ``queries()`` dict: rows-only queries the
    driver can never hash-verify would otherwise permanently occupy
    sampled correctness slots (VERDICT r02 "What's wrong" #3). Their
    checkable seeded twins stand in for driver verification."""
    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        if not driver:
            _PYTEST_ONLY.add(name)
        return fn
    return deco


# ---------------------------------------------------------------------------
# Driver-facing priority order. The round driver's correctness harness
# checks queries in registration order with a bounded budget (50 per
# round), so the first 50 slots carry the round's NEW verification
# information; pytest re-oracles the whole registry every run
# regardless.
#
# Round-13 rotation (rotation discipline #8): LEAD with the four
# queries whose plans the r13 optimization changed and that sat OUTSIDE
# the previous 50-slot window — embedding_neardup_pairs (fold pair dot
# + result-sized pre-sort exchange), dedup_verifier_matrix (single-pass
# tagged tail, then the second-pass conditional-sum aggregation),
# edit_distance_dup_pairs (eagerly-materialized DP cache),
# hard_negatives_celled (fold pair dot). The other r13-changed plans
# (pq_adc_knn, kmv_set_algebra, lsh_band_sweep,
# hard_negative_probe_sweep, semantic_dedup_survivors/sweep) already
# sit inside the window and keep their slots. The r12 lead block
# (Hamming contract trio + the r12-changed plans) earned green
# CORRECTNESS_r12 rows and slides down four. `perfbench/run.py --trace 1`
# reports each query's construct/plan/exec spans and plan-shape counts.
# ---------------------------------------------------------------------------
DRIVER_PRIORITY: tuple[str, ...] = (
    "embedding_neardup_pairs",
    "dedup_verifier_matrix",
    "edit_distance_dup_pairs",
    "hard_negatives_celled",
    "simhash_neardup_pairs",
    "image_neardup_pairs",
    "incremental_image_dedup_pairs",
    "doc_novelty_bands",
    "winnowing_dup_passages",
    "tfidf_top_terms",
    "bloom_decontamination",
    "incremental_dedup_pairs",
    "word_entropy_bands",
    "pq_adc_knn",
    "matryoshka_knn_recall",
    "hard_negative_probe_sweep",
    "hard_negatives",
    "quantized_knn_sample",
    "knn_ivf_seeded",
    "hashed_tf_knn",
    "binary_quantized_knn",
    "binary_rerank_knn",
    "kmv_set_algebra",
    "lsh_band_sweep",
    "minhash_estimate_audit",
    "minhash_unguarded_dup_pairs",
    "multimodal_real_codec",
    "pii_redaction_stats",
    "quantile_sketch_audit",
    "salted_supplier_totals",
    "semantic_dedup_survivors",
    "semantic_dedup_sweep",
    "temperature_mixture_weights",
    "token_fertility_by_lang",
    "training_shard_stats",
    "vocab_coverage_curve",
    "argmax_user_by_type",
    "balanced_mixture_sample",
    "contamination_test_vs_train",
    "correlated_above_customer_avg",
    "correlated_exists_urgent",
    "cube_status_priority",
    "customers_without_orders",
    "daily_value_running",
    "date_functions",
    "dedup_exact_summary",
    "dedup_keep_first",
    "distinct_users_by_type",
    "event_navigation_windows",
    "events_by_day_and_type",
    "explode_token_counts",
    "filter_prefix_predicate",
    "fingerprint_sample",
    "join_of_aggregates",
    "json_props_extract",
    "knn_bruteforce",
    "knn_ivf_label",
    "lang_id_confusion",
    "monthly_avg_price",
    "monthly_orders",
    "nation_order_counts_outer",
    "ngram_jaccard_topk",
    "pivot_daily_by_type",
    "positional_tokens",
    "pricing_summary",
    "quality_scores",
    "revenue_by_region",
    "rollup_order_priority",
    "semi_join_filter",
    "session_windows_30m",
    "set_ops_all_variants",
    "set_ops_customer_keys",
    "simhash_buckets",
    "sorted_daily_value",
    "supplier_quantity_ranks",
    "top3_orders_per_segment",
    "top_customer_monthly_series",
    "top_event_type_by_value",
    "top_suppliers_by_quantity",
    "tumbling_window_6h",
    "variant_props_quartiles",
    "hashed_tf_knn_celled",
    "ivf_append_assignment",
    "rolling_1h_stats",
    "top_customers_by_revenue",
    "monthly_revenue_mom_change",
    "not_in_supplier_nations",
    "range_join_value_bands",
    "scalar_subquery_above_avg",
    "text_stats_by_lang",
    "train_test_split",
    "typed_casts",
    "wei_decimal_topk",
    "windowed_event_dedup",
    "anomalous_hours_by_type",
    "embedding_drift_by_cell",
    "quality_weighted_sample",
    "resample_hourly_ffill",
    "session_funnel",
    "winsorized_value_stats",
    "boilerplate_chunk_stats",
    "sessionize_events",
    "chunk_documents",
    "mixture_weights",
    "seq_length_histogram",
    "url_domain_topk",
    "zorder_curve_sample",
    "array_functions",
    "audio_feature_stats",
    "bigram_perplexity_bands",
    "bloom_prejoin_revenue",
    "cms_overestimate_audit",
    "collect_sorted_lists",
    "dup_cluster_size_histogram",
    "gopher_rule_funnel",
    "hash_sample_10pct",
    "hot_key_skew_report",
    "image_feature_stats",
    "approx_distinct_users",
    "asof_purchase_last_view",
    "bpe_token_counts",
    "containment_dup_pairs",
    "cross_source_dup_matrix",
    "curation_funnel",
    "data_quality_checks",
    "dedup_survivors",
    "dedup_survivors_by_quality",
    "distribution_ranks",
    "dup_clusters",
    "embedding_norm_stats",
    "first_last_bool_aggs",
    "global_overhead",
    "grouping_sets_revenue",
    "json_serialize",
    "kmeans_iteration_stats",
    "lateral_top_customer_per_nation",
    "lsh_recall_audit",
    "map_entries_explode",
    "math_functions",
    "minhash_lsh_dup_pairs",
    "minhash_margin_sweep",
    "minhash_prefilter_audit",
    "minhash_signatures_sample",
    "monthly_from_daily_rollup",
    "multimodal_decode_stats",
    "multimodal_feature_sample",
    "multimodal_frame_stats",
    "ntile_balance_quartiles",
    "null_handling",
    "pagination_page3",
    "profile_orders",
    "regexp_extract_ids",
    "repetition_ratio_bands",
    "shipped_within_90d",
    "stratified_sample_5_per_type",
    "string_agg_top_customers",
    "string_functions",
    "token_packing_bins",
    "unigram_surprisal_bands",
    "unpivot_segment_metrics",
    "value_outlier_fences",
    "value_quantiles_by_type",
    "value_statistics",
)


def _ordered(d: dict) -> dict:
    _load_all()
    first = {n: d[n] for n in DRIVER_PRIORITY if n in d}
    rest = {n: v for n, v in d.items() if n not in first}
    return {**first, **rest}


def all_queries() -> dict[str, QueryFn]:
    """Driver-facing registry: excludes pytest-only (rows-only) queries."""
    _load_all()
    return _ordered(
        {n: f for n, f in _QUERIES.items() if n not in _PYTEST_ONLY}
    )


def bench_queries() -> dict[str, QueryFn]:
    """Everything, including pytest-only queries — bench tracks them all."""
    _load_all()
    return _ordered(_QUERIES)


def all_oracles() -> dict[str, str]:
    _load_all()
    return _ordered(
        {n: s for n, s in _ORACLES.items() if n not in _PYTEST_ONLY}
    )


_LOADED = False


def _load_all() -> None:
    """Import every query module exactly once (imports populate the
    registry via the decorator)."""
    global _LOADED
    if _LOADED:
        return
    from bigdata_processing_spark.queries import (  # noqa: F401
        relational,
        joins,
        analytic,
        semistructured,
        text_analysis,
        dedup,
        similarity,
        multimodal,
        timeseries,
        extended,
        temporal_ext,
        nlp,
        subqueries,
        quality,
        scrubbing,
    )
    _LOADED = True
