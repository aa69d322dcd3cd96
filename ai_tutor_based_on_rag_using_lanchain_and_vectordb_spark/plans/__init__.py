"""Query plans: each module exposes

- ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
- ``ORACLE: dict[str, str]`` — DuckDB-ANSI SQL equivalents (subset; ops
  that aren't SQL-expressible get rows-only checks from the driver).

Column names are aliased identically on both sides (the driver's
comparator sorts columns by name before hashing). Float aggregates are
rounded identically on both sides so value-hashes match despite
summation-order differences.
"""

from . import curation, documents, misc, pipeline, relational, streamgate, tpch_extra, trainprep, vectors

ALL_MODULES = (
    relational, documents, vectors, misc, curation, pipeline, tpch_extra,
    trainprep, streamgate,
)

# Round-13 driver-sample priority (the driver checks a ~50-query prefix
# of this registry each round). Per VERDICT r12 "Next round" #5: the 9
# queries with no-or-oldest driver-artifact record lead — the 7 added
# in r11/r12 that have never appeared in a CORRECTNESS artifact
# (verified green by the in-repo driver-sim instead), then the two r8
# rows — followed by the r9, r10, r11, r12 tranches oldest-first, each
# keeping its prior relative order. Queries NEW in round 13 are not
# listed: _prioritized appends them at the END, so first-checks don't
# crowd out stale re-checks. Semantically the order is irrelevant.
_DRIVER_PRIORITY = (
    "knn_mmr_rerank",
    "knn_mmr_ivf",
    "doc_span_scrubbed",
    "doc_span_scrubbed_sa",
    "dsir_importance_sample",
    "retrieval_eval",
    "bm25_prf_search",
    "user_event_journeys",
    "validation_flags",
    "association_rules",
    "audience_overlap_matrix",
    "bm25_index_search",
    "bm25_search_topk",
    "brand_supplier_counts",
    "catalog_merge_upsert",
    "cms_user_counts",
    "copurchase_pairs",
    "customer_spend_quartiles",
    "disjunctive_predicate_revenue",
    "doc_char_entropy",
    "doc_compression_ratio",
    "doc_top_terms",
    "duplicate_spans",
    "event_heavy_hitters",
    "event_value_auc",
    "exact_price_quantiles",
    "fuzzy_part_names",
    "gk_grouped_quantile_gate",
    "gk_quantile_gate",
    "hybrid_rrf_fusion",
    "kmv_distinct_users",
    "kmv_overlap_gate",
    "knn_ivf_exhaustive",
    "lang_length_quantiles",
    "leakage_safe_splits",
    "media_metadata",
    "neardup_k_core",
    "neardup_local_clustering",
    "neardup_pagerank",
    "neardup_triangles",
    "pareto_parts_skyline",
    "price_quantity_corr",
    "promo_revenue_share",
    "rolling_7d_distinct_users",
    "scd2_catalog_history",
    "sequence_packing",
    "session_overlap_counts",
    "shipping_priority",
    "simhash_verified_pairs",
    "streaming_equivalence_gate",
    "user_time_weighted_value",
    "value_calibration_curve",
    "value_winsorized",
    "warc_roundtrip_docs",
    "zorder_order_keys",
    "benford_order_totals",
    "bloom_fpp_gate",
    "bloom_novel_docs",
    "corpus_shuffle",
    "curation_pipeline_gate",
    "customer_spend_gini",
    "doc_embeddings",
    "doc_fingerprints",
    "doc_fixed_chunks",
    "doc_lang_id",
    "doc_quality",
    "doc_readability",
    "doc_text_search",
    "domain_curation",
    "embedding_covariance",
    "embedding_sq8_error",
    "event_markov_transitions",
    "ewma_daily_revenue",
    "fuzzy_part_names_k2",
    "label_covariance",
    "lineitem_key_skew_report",
    "mahalanobis_outlier_gate",
    "nation_revenue_hhi",
    "orders_column_profile",
    "part_name_entity_groups",
    "pca_projection_gate",
    "quality_bfs_hops",
    "revenue_autocorrelation",
    "revenue_cusum",
    "revenue_seasonality",
    "segment_conversion_ci",
    "semantic_bfs_hops",
    "semantic_bfs_production",
    "semdedup_exhaustive",
    "semdedup_production",
    "semdedup_prune_gate",
    "session_concurrency_timeline",
    "term_pmi_pairs",
    "user_survival_curve",
    "user_value_ewma",
    "value_cumulative_gains",
    "value_cvar",
    "value_equidepth_histogram",
    "value_ks_test",
    "value_mad_outliers",
    "value_percentile_rank",
    "value_psi_drift",
    "value_time_trend",
    "weighted_doc_sample",
    "weighted_median_price",
    "doc_token_stats",
    "embedding_gate",
    "embedding_lsh_recall",
    "embedding_neardup_pairs",
    "health_status",
    "iso_timestamps",
    "knn_exact",
    "knn_ivf_recall",
    "knn_label_filtered",
    "label_centroids",
    "moving_avg_daily_revenue",
    "priority_shipmode_counts",
    "user_event_pivot",
    "active_sessions_24h",
    "api_call_savings",
    "bigram_lm_score",
    "bpe_train_gate",
    "chat_history_topk",
    "cohort_retention",
    "constraint_audit",
    "contamination_overlap",
    "corpus_boilerplate",
    "cube_order_stats",
    "customer_order_distribution",
    "customer_revenue_q10",
    "doc_catalog_list",
    "event_type_counts",
    "expired_session_purge",
    "forecast_revenue_change",
    "gopher_repetition",
    "idle_rich_customers",
    "important_parts_value",
    "json_props_stats",
    "knn_ivfpq_approx",
    "knn_ivfpq_recall",
    "knn_numpy_topk",
    "knn_pq_approx",
    "knn_pq_recall",
    "lang_temperature_sample",
    "large_volume_orders",
    "median_value_by_type",
    "nation_market_share",
    "neardup_components",
    "neardup_keep_best",
    "ngram_jaccard_pairs",
    "product_type_profit",
    "promotable_part_suppliers",
    "props_variant_stats",
    "quality_classifier_filter",
    "quantile_rollup",
    "rate_limit_windows",
    "retention_survivors",
    "session_stats",
    "small_qty_avg_revenue",
    "stratified_exact_sample",
    "top_revenue_supplier",
    "unique_sessions",
    "unpivot_event_fields",
    "volume_shipping_pairs",
    "waiting_suppliers",
    "big_spenders_except",
    "doc_dedup_exact",
    "doc_normalized",
    "doc_pii_scrub",
    "doc_previews",
    "engaged_rich_intersect",
    "lapsed_customers_anti",
    "local_supplier_volume",
    "minhash_recall",
    "nation_region_dim",
    "order_priority_check",
    "pricing_summary",
    "purchase_attribution",
    "recent_buyers_semi",
    "running_customer_spend",
    "segment_rollup",
    "top_customers",
    "user_daily_gapfill",
    "value_histogram",
    "balance_percentiles",
    "cheapest_supplier_per_part",
    "daily_activity",
    "deterministic_doc_sample",
    "event_gaps",
    "hll_rollup_gate",
    "knn_ivf_approx",
    "knn_ivfpq_exhaustive",
    "knn_pq_exhaustive",
    "midnight_pt_countdown",
    "neardup_verified_pairs",
    "purchase_asof_signup",
    "quality_above_lang_median",
    "rag_chat_answers",
    "recursive_chunks",
    "segment_share",
    "session_previews",
    "session_windows",
    "signup_purchase_funnel",
    "simhash_neardup",
    "splitter_invariants",
)


def _prioritized(full: dict) -> dict:
    out = {name: full[name] for name in _DRIVER_PRIORITY if name in full}
    out.update((k, v) for k, v in full.items() if k not in out)
    return out


# In-plan gate guards (plans/guards.py): every rows-only gate query
# whose output carries a pass-flag column gets an assert_true riding a
# numeric column, applied HERE at registry level — the driver's
# rows-only check then fails on the gate's own collect if any flag is
# false, instead of recording a green row count around a red flag
# (VERDICT r11 #1's streamgate nit, closed for the whole gate class).
# Entries: name -> (flag column(s), numeric ride column, ident column).
_GATE_GUARDS: dict[str, tuple] = {
    "minhash_recall": ("passed", "n_exact", "strategy"),
    "hll_rollup_gate": ("passed", "n_days", "strategy"),
    "splitter_invariants": ("passed", "n_chunks", "strategy"),
    "gk_quantile_gate": ("passed", "n", None),
    "gk_grouped_quantile_gate": ("passed", "n", "lang"),
    "kmv_overlap_gate": ("passed", "exact", "pair"),
    "bloom_fpp_gate": ("passed", "n_keys", None),
    "curation_pipeline_gate": ("passed", "observed", "check"),
    "purge_document_gate": ("passed", "observed", "check"),
    "mahalanobis_outlier_gate": ("ok_trace_identity", "n", "label"),
    "pca_projection_gate": (
        ["ok_matches_eigenvalue", "ok_nonincreasing"], "n", "component"
    ),
    "semdedup_prune_gate": ("passed", "n_vectors", "config"),
    "embedding_gate": ("passed", "n_docs", "strategy"),
    "embedding_lsh_recall": ("passed", "n_exact", "strategy"),
    "knn_ivf_recall": ("passed", "n_queries", "strategy"),
    "knn_ivf_filtered_recall": ("passed", "n_queries", "strategy"),
    "knn_mmr_ivf": ("passed", "n_queries", "strategy"),
    "knn_pq_recall": ("passed", "n_queries", "strategy"),
    "knn_ivfpq_recall": ("passed", "n_queries", "strategy"),
    "bpe_train_gate": ("passed", "n_merges", "strategy"),
}


def _guard_wrapped(name: str, fn):
    from .guards import guard_passed

    flags, ride, ident = _GATE_GUARDS[name]

    def wrapped(spark, sf_dir):
        return guard_passed(
            fn(spark, sf_dir), flags, ride, label=name, ident_col=ident
        )

    wrapped.__name__ = f"{name}_guarded"
    wrapped.__doc__ = fn.__doc__
    return wrapped


def all_queries():
    out = {}
    for m in ALL_MODULES:
        out.update(m.QUERIES)
    for name in _GATE_GUARDS:
        if name in out:
            out[name] = _guard_wrapped(name, out[name])
    return _prioritized(out)


def all_oracle_sql():
    out = {}
    for m in ALL_MODULES:
        out.update(m.ORACLE)
    return _prioritized(out)
