"""Generate QUERIES.md — the navigable index of every registry spec.

One row per spec: name, home module, tags, oracle status, one-line doc.
Regenerate after adding specs: python tools/gen_queries_md.py
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from projet_data_infrastructure_spark.plans import all_specs  # noqa: E402

#: One-liners for the round-1/2-era specs that predate the QuerySpec ``doc``
#: convention (their names are the §2 operator map; kept here so the index
#: is complete without touching stable engine source).
LEGACY_DOCS = {
    "flagship_bonus": "The reference's flagship CTE self-join: per-customer order totals joined back for a CASE bonus tier",
    "scan_project": "Column-pruned scan: projection pushed into the parquet reader (ReadSchema plan-gated)",
    "filter_pushdown": "Predicate pushed to the scan (PushedFilters plan-gated)",
    "cast_types": "CAST matrix across numeric/string/date/timestamp types",
    "case_when_bonus": "Standalone CASE WHEN bonus classification",
    "inner_join_enrich": "Fact-to-dim inner equi-join, broadcast dim (plan-gated)",
    "left_join_agg": "Left outer join preserving unmatched keys, then per-key aggregate",
    "semi_join": "LEFT SEMI join (EXISTS form)",
    "anti_join": "LEFT ANTI join - FK referential violation check",
    "groupby_count_avg": "Canonical group-by with count + avg (map-side combine)",
    "topk_groups": "Top-k groups by aggregate, TakeOrderedAndProject plan-gated",
    "scalar_count": "Single-row corpus count",
    "distinct_agg": "COUNT(DISTINCT) aggregate",
    "rollup_agg": "ROLLUP hierarchy totals",
    "cube_agg": "CUBE over two dimensions",
    "grouping_sets": "Explicit GROUPING SETS",
    "window_rank": "rank() over partitioned order",
    "window_lag": "lag() deltas within user partitions",
    "window_running_sum": "Running sum over a partitioned frame",
    "set_union_all": "UNION ALL of two projections",
    "set_intersect": "INTERSECT of key sets",
    "set_except": "EXCEPT of key sets",
    "orderby_limit": "Global ORDER BY + LIMIT via TakeOrderedAndProject",
    "masked_view": "Role-parameterized masked view (P9/F8): PII columns redacted for non-admins",
    "string_funcs": "concat/format/substring/trim string surface (F10)",
    "string_funcs2": "regexp/translate/pad string surface",
    "date_funcs": "strftime/weekday/date-part surface (F10/F13)",
    "date_arithmetic": "Date construction and interval stepping (F12)",
    "null_logic_coalesce": "3-valued NULL logic + coalesce defaults",
    "conditional_funcs": "if/nullif/nvl2 conditional scalar surface",
    "validation_profile": "One-pass data-quality expectations: null/range/set checks as a single aggregate (SURVEY 2.11)",
    "tpch_q1_pricing": "TPC-H Q1 pricing summary: per flag/status sums, avgs, counts",
    "tpch_q3_priority": "TPC-H Q3 shipping priority: top unshipped orders by revenue",
    "tpch_q5_local_supplier": "TPC-H Q5 local-supplier volume per nation",
    "json_extract": "get_json_object field extraction from the props JSON (F1)",
    "cdc_envelope_parse": "Debezium envelope parse: full from_json schema, op/ts_ms extraction, tombstone policy (P1-P3)",
    "epoch_us_roundtrip": "Lossless microsecond-epoch decode/encode round-trip (F3)",
    "tumbling_window_agg": "Fixed tumbling event-time windows",
    "sliding_window_agg": "Overlapping sliding windows",
    "session_window_agg": "Gap-based session windows",
    "dedup_earliest_event": "Keep earliest event per id (dedup with deterministic survivor)",
    "late_data_filter": "Watermark-style late-data cutoff as a batch predicate",
    "topk_users_by_value": "Top-k users by summed event value",
    "stream_filter_project": "LIVE filter+project through a file micro-batch stream",
    "stream_tumbling_counts": "LIVE tumbling-window counts (stream == batch oracle)",
    "full_outer_join": "FULL OUTER join with null-side accounting",
    "array_agg_sorted": "sort_array(collect_list) deterministic array aggregation",
    "window_funcs2": "ntile/percent_rank/cume_dist window surface",
    "exists_subquery": "Correlated EXISTS subquery",
    "scalar_subquery": "Scalar subquery in a projection",
    "having_filter": "Post-aggregate HAVING predicate",
    "pivot_status_counts": "PIVOT order status into columns",
    "unpivot_measures": "UNPIVOT measures into rows (stack)",
    "wordcount_top20": "Classic tokenized word count, top 20",
    "stats_aggregates": "stddev/variance/skewness/kurtosis/corr aggregate surface",
    "median_percentile": "Exact median + percentiles via value-grid cumulative counts (no global sort)",
    "range_join_pairs": "Interval containment via bucketed range join (no nested loop)",
    "salted_groupby_skew": "Skew-safe two-stage salted aggregation (identical result, plan-gated)",
    "multiway_join_rollup": "Federated 4-table join -> rollup (J4)",
    "asof_join": "As-of join via the union+window carry-forward (one exchange, no range blow-up)",
    "dedup_exact_groups": "Exact duplicate groups by content digest",
    "dedup_exact_keep": "Exact dedup keeping the canonical (min-id) survivor",
    "minhash_signatures": "Per-doc MinHash signatures over shingles (k x 8B per doc)",
    "minhash_lsh_pairs": "LSH banded candidate pairs from MinHash signatures",
    "simhash_32bit": "32-bit SimHash fingerprints from token hashes",
    "simhash_hamming_pairs": "Near-dup pairs by SimHash Hamming distance (bucketed)",
    "ngram_jaccard_pairs": "n-gram Jaccard similarity on LSH candidates",
    "embedding_neardup_pairs": "Embedding cosine near-dup pairs (bucketed, no all-pairs)",
    "cosine_topk_bruteforce": "Brute-force cosine top-k baseline (per-partition TakeOrdered)",
    "ivf_assign": "IVF: assign vectors to nearest centroid bucket",
    "ivf_topk_ann": "IVF ANN top-k: probe assigned buckets only",
    "commute_enrichment_udf": "The reference's HTTP-enrichment step as an Arrow-batched pandas UDF over a deterministic stub (F14)",
    "corpus_curation_pipeline": "End-to-end curation: quality gate -> exact dedup -> near-dup prune, one persisted corpus",
    "doc_fingerprint": "Deterministic document content fingerprint (md5)",
    "rolling_hash_fingerprint": "Rolling-hash (Rabin-style) document fingerprint",
    "lang_id_heuristic": "n-gram heuristic language ID over documents",
    "quality_score": "Length/punctuation/stopword text quality score",
    "text_stats": "Per-doc chars/words/lines statistics",
    "token_count_bpe": "Whitespace + BPE-ish regex token counts",
}


def main() -> None:
    by_mod: dict[str, list] = defaultdict(list)
    for s in all_specs():
        mod = s.fn.__module__.rsplit(".", 1)[-1]
        by_mod[mod].append(s)
    n = sum(len(v) for v in by_mod.values())
    lines = [
        "# QUERIES — the full registry index",
        "",
        f"{n} named queries; every one paired with DuckDB oracle SQL "
        "(`oracle` column) and driver-checkable through "
        "`__spark_entry__.py`. Generated by `tools/gen_queries_md.py` — "
        "regenerate after registry changes.",
        "",
    ]
    for mod in sorted(by_mod):
        specs = sorted(by_mod[mod], key=lambda s: s.name)
        lines.append(f"## plans/{mod}.py ({len(specs)})")
        lines.append("")
        lines.append("| query | tags | oracle | what it computes |")
        lines.append("|---|---|---|---|")
        for s in specs:
            # Early-round specs carry their description on the builder
            # function instead of the QuerySpec — fall back to its
            # docstring's first sentence.
            doc = " ".join((s.doc or "").split())
            if not doc and s.fn.__doc__:
                first = s.fn.__doc__.strip().split("\n\n")[0]
                doc = " ".join(first.split())
            if not doc:
                doc = LEGACY_DOCS.get(s.name, "")
            doc = doc.replace("|", "\\|")
            if len(doc) > 220:
                doc = doc[:217] + "..."
            tags = ", ".join(s.tags)
            lines.append(
                f"| {s.name} | {tags} | "
                f"{'yes' if s.oracle else 'rows-only'} | {doc} |"
            )
        lines.append("")
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote QUERIES.md ({n} specs, {len(by_mod)} modules)")


if __name__ == "__main__":
    main()
