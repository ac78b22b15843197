"""Emit REGISTRY.json — a self-describing index of the named-query
registry, so the SURVEY §2 operator coverage is machine-checkable
instead of hand-maintained.

Per query: defining module, oracle-backed flag, the SURVEY §2 operator
ids it evidences (OPERATOR_IDS map below) and the first doc line.
`build_index()` returns the payload and fails if a query has no tag;
`tests/test_session.py::test_registry_index_is_current` checks that the
committed file equals it.

Run from the repo root:  python tools/gen_registry_index.py
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# query name -> SURVEY.md §2 operator ids (+ pipeline-op tags) it
# evidences. Kept here — next to the artifact generator — rather than
# in the decorators so the frozen registry modules stay untouched.
# Every registered query must carry >= 1 tag (build_index fails if
# one doesn't), so the operator<->query map is fully machine-readable
# — COVERAGE.md prose is commentary, this is the index.
#
# Tag vocabulary:
#   S*/K*/F*/J*/A*/W*/O*/R*/T* — SURVEY.md §2 operator ids.
#   scalar-<family>   — §2.8 scalar-function families.
#   geo / multimodal-<kind> / udf-<name> — §2.8 geo, §2.9/2.11 UDF surface.
#   dedup-<method>    — LLM-pipeline dedup (exact, line, paragraph,
#                       minhash-lsh, simhash, ngram-jaccard,
#                       allpairs-ppjoin, clustering, semantic,
#                       span-coverage, incremental).
#   ann-<method>      — similarity search (brute-force, ivf, lsh,
#                       bucketed, quantize, jl-projection).
#   text-<aspect>     — text analysis (stats, tokens, lang, quality,
#                       quality-c4/gopher/ccnet/charlm, boilerplate,
#                       fingerprint, pii, tfidf, bm25, inverted-index).
#   sketch-<kind>     — approximate structures (bloom, hll, cms,
#                       bitmap, heavy-hitters).
#   sampling-<kind>   — splits/sampling (split, deterministic,
#                       stratified, weighted, mixture, dsir).
#   temporal-<kind>   — CDC/SCD2/IVM/as-of/interval/resample.
#   graph-<kind>      — pagerank, triangles, motifs.
#   robust-<stat>     — robust/exact statistics (mad, gini, ols, chi2,
#                       rrf, trimmed-mean, mode).
#   agg-<kind>        — aggregate machinery beyond §2.5 (rollup, cube,
#                       grouping-sets, percentile, corr, entropy,
#                       weighted-quantile).
#   analytics-<kind>  — product-analytics shapes (funnel, retention,
#                       sessions, histogram, pareto, assoc, …).
#   er-<stage>        — entity resolution (blocking-snm, resolution).
#   join-bloom-pruned / skew / chunking / packing / profiling /
#   clustering-kmeans / contamination / dataset-diff /
#   pipeline-pretrain-capstone — singleton families, self-describing.
OPERATOR_IDS: dict[str, list[str]] = {
    "embedded_json_extract": ["S6", "geo"],
    "segment_rollup": ["S11", "A7"],
    "geojson_features_emit": ["K5"],
    "template_render": ["K6"],
    "range_filter_events": ["F1"],
    "prefix_set_filter_orders": ["F2"],
    "coordinate_validity": ["F3"],
    "not_future_orders": ["F5"],
    "param_filter_documents": ["F6"],
    "fresh_events": ["F7", "A10"],
    "quality_filter_documents": ["F8"],
    "nested_struct_features": ["F9"],
    "prefix_filter_part": ["F10"],
    "category_include_events": ["F11"],
    "dsl_filter_events": ["F12"],
    "dsl_contains_in_docs": ["F12"],
    "dsl_negation_null_semantics": ["F12", "F14"],
    "style_rules_orders": ["F13", "W4"],
    "wire_projection_customer": ["F15"],
    "enrich_coalesce_fill": ["J1"],
    "latest_event_per_user": ["J2", "W1"],
    "enrich_customer_nation": ["J4"],
    "point_in_polygon_regions": ["J5"],
    "region_outage_join": ["J6"],
    "orders_semi_building": ["J7"],
    "customers_without_orders": ["J8"],
    "derived_key_self_join": ["J9"],
    "user_rollup_events": ["J10"],
    "salted_user_rollup": ["J10", "skew"],
    "salted_join_segment_revenue": ["skew"],
    "grouped_sum_orders": ["A1"],
    "affected_ratio_by_nation": ["A2"],
    "promo_revenue_ratio": ["A2"],
    "composite_agg_orders": ["A3"],
    "pricing_summary": ["A3", "A8"],
    "event_value_pivot": ["A4"],
    "distinct_users_by_type": ["A5"],
    "order_count_distribution": ["A5"],
    "value_counts_brand": ["A6"],
    "recent_activity_24h": ["A9"],
    "events_in_user_window": ["A9"],
    "last_nonnull_state_events": ["W1"],
    "top3_orders_per_customer": ["W2"],
    "sliding_window_counts": ["W3"],
    "rolling_1h_user_value": ["W3"],
    "running_customer_revenue": ["W3"],
    "event_interarrival": ["W3"],
    "sessionize_events": ["W3"],
    "union_distinct_orders": ["O4"],
    "urgent_fulfilled_setops": ["O6"],
    "string_funcs_part": ["scalar-strings"],
    "date_funcs_orders": ["scalar-datetime"],
    "math_funcs_lineitem": ["scalar-math"],
    "array_funcs_documents": ["scalar-array"],
    "json_props_events": ["scalar-json"],
    "mercator_tile_cover": ["geo"],
    "haversine_nearest": ["geo"],
    "nztm_projection": ["geo"],
    "zorder_customer_grid": ["geo"],
    "tile_pipeline_stats": ["R1", "R4"],
    "terrain_reproject_pipeline": ["R2", "R3"],
    "image_phash_near_dups": ["multimodal-image"],
    "audio_features_pipeline": ["multimodal-audio"],
    "dedup_exact_documents": ["dedup-exact"],
    "minhash_near_dup_documents": ["dedup-minhash-lsh"],
    "minhash_band_keys_md5": ["dedup-minhash-lsh"],
    "simhash_documents": ["dedup-simhash"],
    "simhash_documents_md5": ["dedup-simhash"],
    "ngram_jaccard_bucketed": ["dedup-ngram-jaccard"],
    "jaccard_prefix_pairs": ["dedup-allpairs-ppjoin"],
    "near_dup_clusters": ["dedup-clustering"],
    "embedding_topk_cosine": ["ann-brute-force"],
    "embedding_bucketed_pairs": ["ann-ivf-bucketed"],
    "ivf_assign_lists": ["ann-ivf"],
    "ivf_topk_probes": ["ann-ivf"],
    "fuzzy_part_name_pairs": ["fuzzy-blocking"],
    "token_counts_cms": ["sketch-cms"],
    "bm25_search": ["text-bm25"],
    "top_terms_tfidf": ["text-tfidf"],
    "inverted_index_postings": ["text-inverted-index"],
    "benchmark_contamination": ["contamination"],
    "text_stats_documents": ["text-stats"],
    "token_histogram": ["text-tokens"],
    "lang_distribution": ["text-lang"],
    "doc_fingerprints": ["text-fingerprint"],
    "pii_redact_documents": ["text-pii"],
    "purchase_funnel": ["analytics-funnel"],
    "event_transitions": ["analytics-transitions"],
    "weekly_retention": ["analytics-retention"],
    "snapshot_diff_documents": ["dataset-diff"],
    "train_val_test_split": ["sampling-split"],
    "deterministic_sample_docs": ["sampling-deterministic"],
    "stratified_sample_by_lang": ["sampling-stratified"],
    "weighted_sample_docs": ["sampling-weighted"],
    "mixture_resample_documents": ["sampling-mixture"],
    "asof_click_purchase": ["temporal-asof"],
    "boilerplate_gram_ratio": ["text-boilerplate"],
    "column_profile_events": ["profiling"],
    "top_customers_by_balance": ["O1", "W2"],
    "daily_event_counts": ["A1", "scalar-datetime"],
    "distinct_segments": ["O6"],
    "doc_token_chunks": ["chunking"],
    "embedding_int8_quantize": ["ann-quantize"],
    "pack_documents_shards": ["packing"],
    "order_revenue_top10": ["W2", "J7"],
    "nation_revenue": ["J4", "A1"],
    "forecast_revenue_filter": ["F5", "A2"],
    "priority_order_check": ["F4"],
    "status_bucket_counts": ["A5", "F4"],
    "brand_revenue_share": ["A2", "A6"],
    "nation_pair_volume": ["J9", "A3"],
    "product_profit_by_nation": ["J4", "A3"],
    "returned_items_customers": ["J7", "F11"],
    "user_sessions": ["W3", "analytics-sessions"],
    "rate_limit_violations": ["W3", "F7"],
    "sitrep_summarize": ["udf-summarize"],
    "zscore_by_segment": ["analytics-zscore"],
    "approx_distinct_users": ["sketch-hll"],
    "large_orders": ["F6", "A1"],
    "high_balance_inactive": ["J8", "F6"],
    "corr_price_quantity": ["agg-corr"],
    "bitmap_distinct_rollup": ["sketch-bitmap"],
    "small_quantity_part_revenue": ["J4", "A2"],
    "top_supplier_by_revenue": ["W2", "J4"],
    "sole_late_supplier_orders": ["J9", "F4"],
    "event_value_histogram": ["analytics-histogram"],
    "quality_decile_stats": ["text-quality", "analytics-decile"],
    "label_centroids": ["ann-ivf"],
    "embedding_lsh_ann": ["ann-lsh"],
    "category_counts_events": ["A5", "F11"],
    "rollup_segment_priority": ["agg-rollup"],
    "cube_event_type_hour": ["agg-cube"],
    "grouping_sets_segment_priority": ["agg-grouping-sets"],
    "percentile_quantities": ["agg-percentile"],
    "weighted_median_bracket_price_by_flag": ["agg-weighted-quantile"],
    "sorted_neighborhood_part_pairs": ["er-blocking-snm"],
    "entity_resolution_parts": ["er-resolution"],
    "c4_line_filters_documents": ["text-quality-c4"],
    "control_char_profile_documents": ["text-quality"],
    "doc_fingerprint_md5": ["text-fingerprint"],
    "dup_span_coverage_documents": ["dedup-span-coverage"],
    "gopher_quality_documents": ["text-quality-gopher"],
    "gopher_repetition_documents": ["text-quality-gopher"],
    "kmeans_refine_assignments": ["clustering-kmeans"],
    "semdedup_embeddings": ["dedup-semantic", "ann-ivf"],
    "bloom_novelty_documents": ["sketch-bloom", "dedup-incremental"],
    "boilerplate_line_removal_documents": ["text-boilerplate"],
    "ccnet_perplexity_buckets": ["text-quality-ccnet"],
    "cdc_apply_events": ["temporal-cdc"],
    "dsir_importance_documents": ["sampling-dsir"],
    "scd2_user_state_history": ["temporal-scd2"],
    "ivm_user_totals_events": ["temporal-ivm"],
    "histogram_quantiles_lineitem": ["analytics-histogram", "agg-percentile"],
    "pareto_frontier_parts": ["analytics-pareto"],
    "mad_outliers_events": ["robust-mad"],
    "mad_outliers_bracketed_events": ["robust-mad"],
    "interval_coalesce_user_activity": ["temporal-interval"],
    "weighted_median_price_by_flag": ["agg-weighted-quantile"],
    "equi_depth_price_histogram": ["analytics-histogram", "agg-percentile"],
    "event_type_diversity_daily": ["agg-entropy"],
    "ols_trend_by_segment": ["robust-ols"],
    "frequent_item_pairs": ["analytics-assoc"],
    "weighted_p90_price_by_flag": ["agg-weighted-quantile"],
    "trimmed_mean_price_by_flag": ["robust-trimmed-mean"],
    "mode_event_type_per_user": ["robust-mode"],
    "event_trigram_motifs": ["graph-motifs"],
    "pagerank_user_type_graph": ["graph-pagerank"],
    "pagerank_redistribute_user_type": ["graph-pagerank"],
    "triangle_count_copurchase": ["graph-triangles"],
    "line_dedup_documents": ["dedup-line"],
    "paragraph_dedup_documents": ["dedup-paragraph"],
    "char_lm_quality_documents": ["text-quality-charlm"],
    "hll_distinct_users_by_type": ["sketch-hll"],
    "embedding_jl_projection": ["ann-jl-projection"],
    "ccnet_buckets_approx": ["text-quality-ccnet", "sketch-cms"],
    "pretrain_pipeline_documents": ["pipeline-pretrain-capstone"],
    "heavy_hitter_tokens_documents": ["sketch-heavy-hitters"],
    "langid_trigram_documents": ["text-lang"],
    "heavy_hitter_tokens_by_lang": ["sketch-heavy-hitters"],
    "token_keyness_chi2": ["robust-chi2"],
    "rrf_orders_value_recency": ["robust-rrf"],
    "gini_revenue_by_segment": ["robust-gini"],
    "doc_length_position_pct_by_lang": ["analytics-percent-rank"],
    "bloom_pruned_urgent_revenue": ["join-bloom-pruned", "sketch-bloom"],
    "weighted_topk_sample_documents": ["sampling-weighted", "W2"],
    "resample_ffill_hourly_user_value": ["temporal-resample"],
}


def build_index() -> dict:
    from utils_infra_spark.queries import REGISTRY, _load

    _load()
    untagged = [n for n in REGISTRY if not OPERATOR_IDS.get(n)]
    if untagged:
        raise SystemExit(
            f"every registered query needs >= 1 op tag in OPERATOR_IDS; missing: {untagged}"
        )
    index = {
        name: {
            "module": q.fn.__module__.rsplit(".", 1)[-1],
            "oracle_backed": q.oracle is not None,
            "ops": OPERATOR_IDS[name],
            "doc": (q.doc or "").strip().splitlines()[0] if (q.doc or "").strip() else "",
        }
        for name, q in REGISTRY.items()
    }
    return {
        "total": len(index),
        "oracle_backed": sum(1 for v in index.values() if v["oracle_backed"]),
        "rows_only": sum(1 for v in index.values() if not v["oracle_backed"]),
        "queries": index,
    }


def main() -> None:
    payload = build_index()
    out_path = os.path.join(REPO, "REGISTRY.json")
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=False)
        f.write("\n")
    print(f"wrote {out_path}: {payload['total']} queries, {payload['oracle_backed']} oracle-backed")


if __name__ == "__main__":
    main()
