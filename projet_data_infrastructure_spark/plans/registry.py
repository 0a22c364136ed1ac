"""Query registry — the single source of truth behind ``__spark_entry__.py``.

Each :class:`QuerySpec` pairs a Spark DataFrame builder with the equivalent
ANSI SQL that DuckDB runs as the correctness oracle (driver contract in
``/root/repo/__spark_entry__.py``). Specs with ``oracle=None`` are genuinely
non-SQL-expressible (streaming/stateful) and get the driver's rows-only check.

Column-name discipline: the driver compares after sorting columns by name, so
every computed column is aliased identically on both sides.
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
    oracle: str | None  # DuckDB SQL over the pre-registered parquet views
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


# Driver-window priority: these names run first, in this order. The first
# 50 fill the driver's 50-slot window; the rest queue behind it, stalest
# oracle proof first. Every other spec keeps its module order behind them.
# Unknown names are rejected by
# tests/test_registry.py::test_driver_priority_names_resolve.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # (a) round-4-era proofs (31), staged in round 13
    "sequence_packing",
    "weighted_sample_topk",
    "gopher_quality_flags",
    "token_diversity",
    "stream_quality_curation",
    "cross_source_contamination",
    "doc_chunking",
    "map_funcs",
    "customer_frontier_by_nation",
    "skyline_orders",
    "preference_pairs",
    "longest_daily_streak",
    "cohort_retention",
    "ratio_to_report",
    "regression_slope_by_user",
    "levenshtein_blocked_pairs",
    "zorder_scan_filtered",
    "equidepth_histogram",
    "revenue_decile_share",
    "rfm_segmentation",
    "snapshot_diff_cdf",
    "ewma_by_user",
    "stream_cdc_apply",
    "multimodal_features",
    "scd2_user_history",
    "incremental_agg_merge",
    "kmv_distinct_sketch",
    "kmv_sketch_set_ops",
    "countmin_user_counts",
    "psi_drift_profile",
    "bloom_membership",
    # (b) round-5-era fillers for slots 32-50 (registry order)
    "session_bounce_rate",
    "resample_hourly_interp",
    "xml_envelope_extract",
    "stream_xml_envelope",
    "stream_sliding_counts",
    "dedup_clusters_starstar",
    "bm25_topk",
    "salted_skew_join",
    "ivfpq_residual_topk",
    "lsh_recall_report",
    "lang_vocab_overlap",
    "weighted_sample_per_lang",
    "sq8_encode",
    "sq8_adc_topk",
    "lateral_subquery_topn",
    "recursive_cte_calendar",
    "acf_by_user",
    "view_purchase_latency",
    "cumulative_new_users",
    # ---- round-15 queue: remaining round-5-era proofs (30) ----
    "max_drawdown_by_user",
    "interevent_gap_histogram",
    "python_datasource_scan",
    "variant_json_extract",
    "stream_minhash_dedup",
    "multimodal_frame_sample",
    "hll_distinct_sketch",
    "schema_evolution_merge",
    "pagerank_fixed_point",
    "triangle_count_suppliers",
    "geo_cell_neighbor_pairs",
    "geo_grid_dbscan",
    "copurchase_brand_pairs",
    "brand_affinity_lift",
    "bfs_khop_reachability",
    "ols_two_feature_nation",
    "prefix_filter_jaccard",
    "attribution_last_touch",
    "bellman_ford_distances",
    "rrf_fusion",
    "positive_pair_mining",
    "label_propagation",
    "span_corruption_prep",
    "hard_negative_mining",
    "stream_cusum_telemetry",
    "ks_drift_statistic",
    "kmeans_fixed_point",
    "sql_udf_rollup",
    "mapinarrow_vector_norm",
    "applyinarrow_label_stats",
    # ---- then the round-7-era proofs (33, registry order) ----
    "scan_project",
    "filter_pushdown",
    "inner_join_enrich",
    "left_join_agg",
    "semi_join",
    "anti_join",
    "scalar_count",
    "orderby_limit",
    "t_closeness_audit",
    "hashed_linear_score",
    "bpe_encode_corpus",
    "full_outer_join",
    "gdpr_erasure_cascade",
    "clustering_coefficient",
    "degree_assortativity",
    "partsupp_synth",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q16_supplier_cnt",
    "tpch_q20_excess_stock",
    "stl_weekly_decompose",
    "holt_linear_forecast",
    "fourier_weekly_fit",
    "knn_label_vote",
    "gbdt_stump_boost",
    "conformal_interval_coverage",
    "stratified_kfold_assign",
    "als_rank1_step",
    "doc_keywords_per_doc",
    "skipgram_window_cooc",
    "higher_moments_by_type",
    "mode_percentile_disc",
)

# Rows-only specs (oracle=None) are pinned behind every oracled spec so they
# never burn a bounded driver-window slot on a `no_oracle` row (verdict r4
# item 5). They remain fully registered and locally gated.


def all_specs() -> list[QuerySpec]:
    # Imported lazily so a syntax error in one domain module surfaces clearly
    # and module import order cannot create cycles.
    from projet_data_infrastructure_spark.plans import (
        advanced,
        events_queries,
        extras,
        graph_geo,
        lakehouse,
        learning,
        llm_queries,
        mining,
        partsupp,
        relational,
        causal_experiments,
        corpus_lm,
        ml_eval,
        sketches,
        stats_inference,
        streaming_parity,
        survival,
        timeseries,
    )

    specs: list[QuerySpec] = []
    specs.extend(relational.SPECS)
    specs.extend(events_queries.SPECS)
    specs.extend(llm_queries.SPECS)
    specs.extend(advanced.SPECS)
    specs.extend(extras.SPECS)
    specs.extend(lakehouse.SPECS)
    specs.extend(graph_geo.SPECS)
    specs.extend(mining.SPECS)
    specs.extend(learning.SPECS)
    specs.extend(sketches.SPECS)
    specs.extend(partsupp.SPECS)
    specs.extend(timeseries.SPECS)
    specs.extend(ml_eval.SPECS)
    specs.extend(corpus_lm.SPECS)
    specs.extend(causal_experiments.SPECS)
    specs.extend(stats_inference.SPECS)
    specs.extend(streaming_parity.SPECS)
    specs.extend(survival.SPECS)
    names = [s.name for s in specs]
    assert len(names) == len(set(names)), "duplicate query names in registry"
    # Stable sort: prioritized names first (in _DRIVER_PRIORITY order), the
    # rest keep their module order behind them, and rows-only specs
    # (oracle=None) sink to the very back so the bounded driver window is
    # spent only on hash-checkable specs.
    rank = {name: i for i, name in enumerate(_DRIVER_PRIORITY)}
    specs.sort(key=lambda s: (s.oracle is None, rank.get(s.name, len(rank))))
    return specs


def queries_map() -> dict[str, QueryFn]:
    return {s.name: s.fn for s in all_specs()}


def oracle_sql_map() -> dict[str, str]:
    return {s.name: s.oracle for s in all_specs() if s.oracle is not None}
