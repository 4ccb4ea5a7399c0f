"""Query registry: name -> (spark callable, duckdb oracle SQL).

The driver contract (``__spark_entry__.py``) exposes this registry via
``queries()`` / ``oracle_sql()``. Column names are aliased identically on
both sides (the driver's compare sorts columns by name before hashing).

Determinism discipline (SURVEY §5/§7 "hard parts"):
- every floating aggregate is ``round(x, 4)`` on BOTH sides, so partial-sum
  ordering differences between Spark and DuckDB cannot flip the value hash;
- timestamps are emitted as formatted strings (``yyyy-MM-dd`` style), never
  raw, so session-timezone differences cannot leak in;
- integer sums are cast to BIGINT on the DuckDB side (DuckDB widens to
  INT128 by default);
- any top-k has a total tiebreak order.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

# Submodules that register queries on import.
_QUERY_MODULES = (
    "pulsar_lunar_spark.queries.relational",
    "pulsar_lunar_spark.queries.relational2",
    "pulsar_lunar_spark.queries.relational3",
    "pulsar_lunar_spark.queries.scalar",
    "pulsar_lunar_spark.queries.events",
    "pulsar_lunar_spark.queries.messaging",
    "pulsar_lunar_spark.queries.llm",
    "pulsar_lunar_spark.queries.llm2",
    "pulsar_lunar_spark.queries.llm3",
    "pulsar_lunar_spark.queries.llm4",
    "pulsar_lunar_spark.queries.llm5",
    "pulsar_lunar_spark.queries.llm6",
    "pulsar_lunar_spark.queries.llm7",
    "pulsar_lunar_spark.queries.llm8",
    "pulsar_lunar_spark.queries.llm9",
    "pulsar_lunar_spark.queries.llm10",
    "pulsar_lunar_spark.queries.llm11",
    "pulsar_lunar_spark.queries.llm12",
    "pulsar_lunar_spark.queries.llm13",
    "pulsar_lunar_spark.queries.llm14",
    "pulsar_lunar_spark.queries.llm15",
    "pulsar_lunar_spark.queries.llm16",
    "pulsar_lunar_spark.queries.llm17",
    "pulsar_lunar_spark.queries.llm18",
    "pulsar_lunar_spark.queries.formats",
    "pulsar_lunar_spark.queries.pipeline",
    "pulsar_lunar_spark.queries.modern",
    "pulsar_lunar_spark.queries.media",
    "pulsar_lunar_spark.queries.streaming_q",
    "pulsar_lunar_spark.queries.udf",
    "pulsar_lunar_spark.queries.analytics",
    "pulsar_lunar_spark.queries.analytics2",
    "pulsar_lunar_spark.queries.analytics3",
    "pulsar_lunar_spark.queries.analytics4",
    "pulsar_lunar_spark.queries.analytics5",
    "pulsar_lunar_spark.queries.analytics6",
    "pulsar_lunar_spark.queries.analytics7",
    "pulsar_lunar_spark.queries.analytics8",
    "pulsar_lunar_spark.queries.maintenance_q",
    "pulsar_lunar_spark.queries.modern2",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    module: str = ""


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name, fn, oracle, tuple(tags), (fn.__doc__ or "").strip(), fn.__module__
        )
        return fn

    return deco


# Queries already driver-confirmed green (CORRECTNESS_r01.json union
# CORRECTNESS_r02.json): pushed to the back of the registry order so a
# head-first correctness sample spends its budget on queries that have no
# driver-side green row yet. Union over rounds => every family ends up
# driver-confirmed. This set is the single source of truth for
# "driver-green" claims (COVERAGE.md cites it).
_DRIVER_CONFIRMED = frozenset(
    {
        # round 1 (CORRECTNESS_r01.json, 49 green)
        "q1_pricing_summary", "q2_stats_by_segment", "q3_shipping_priority",
        "q5_local_supplier_volume", "q_join_semi", "q_join_anti", "q_join_outer",
        "q_join_full_outer", "q_join_cross", "q_join_theta_range",
        "q4_order_priority", "q_window_topk_per_group", "q_window_running",
        "q_window_ranks", "q_rollup", "q_cube", "q_grouping_sets", "q_pivot",
        "q_set_union", "q_set_intersect", "q_set_except", "q_drop_duplicates",
        "q_sort_limit", "q_predicates", "q_conditional", "q6_forecast_revenue",
        "q12_shipmode_priority", "q14_promo_share", "q19_disjunctive",
        "q_scalar_subquery", "q_correlated_subquery", "q_posexplode",
        "q_percentiles", "q_hash_sample", "q_union_by_name",
        "q_intersect_except_all", "q_inline_values_join", "q7_volume_shipping",
        "q8_market_share", "q9_product_profit", "q10_returned_items",
        "q11_important_suppliers", "q13_customer_distribution",
        "q15_top_supplier", "q17_small_quantity_revenue",
        "q18_large_volume_customers", "q20_part_volume_suppliers",
        "q21_waiting_suppliers", "q22_idle_rich_customers",
        # round 2 (CORRECTNESS_r02.json, 49 green; q_math_funcs was the one
        # red — type skew, fixed and deliberately NOT listed here so the r3
        # sample re-checks it)
        "q_array_hof2", "q_map_hof", "q_width_bucket", "q_timezone_convert",
        "q_file_provenance", "q_regr_aggregates", "q_kll_quantiles",
        "q_theta_sketch_ops", "q_agg_breadth", "q_mask_redact",
        "q_xpath_extract", "q_url_funcs", "q_gini_index", "q_benford_digits",
        "q_catalog_ctas", "q_multi_topic_read", "q_sql_scripting",
        "q_events_asof_tolerance", "q_payload_encryption", "q_pandas_api",
        "q_sql_udf", "q_sql_variables", "q_bitmap_distinct",
        "q_try_arithmetic", "q_merge_upsert", "q_snapshot_timetravel",
        "q_compact_files", "q_binary_source", "q_xml_source_roundtrip",
        "q_collation", "q_group_by_all", "q_events_interpolate",
        "q_time_weighted_avg", "q_snapshot_diff", "q_recursive_cte",
        "q_sql_pipe", "q_string_funcs", "q_date_funcs", "q_array_funcs",
        "q_map_funcs", "q_json_funcs", "q_envelope_roundtrip",
        "q_dedup_exact", "q_lang_detect", "q_text_stats", "q_python_udf",
        "q_pandas_udf_scalar", "q_apply_in_pandas", "q_udtf_split",
        # round 3 (CORRECTNESS_r03.json, 50/50 green)
        "q_ann_topk", "q_bm25_search", "q_chunked_reassembly",
        "q_compressed_topic", "q_containment_dedup", "q_contamination",
        "q_dedup_bloom", "q_dedup_cluster", "q_dedup_embedding",
        "q_dedup_incremental", "q_dedup_minhash", "q_dedup_simhash",
        "q_delayed_delivery", "q_events_compacted", "q_funnel",
        "q_fuzzy_neighbors", "q_geo_replication", "q_incremental_mv",
        "q_individual_ack", "q_ivf_topk", "q_key_shared_ranges",
        "q_knn_join", "q_lsh_band_tuning", "q_math_funcs",
        "q_ngram_jaccard", "q_passage_dedup", "q_pii_redact",
        "q_pq_adc_topk", "q_retrieval_metrics", "q_seek_message_id",
        "q_semdedup", "q_similarity_topk", "q_source_mixture",
        "q_stream_backpressure", "q_stream_cdc_apply",
        "q_stream_custom_session", "q_stream_dedup", "q_stream_dedup_ttl",
        "q_stream_enrich", "q_stream_observed_metrics",
        "q_stream_outer_join", "q_stream_session", "q_stream_sliding",
        "q_stream_stateful_count", "q_stream_stream_join",
        "q_stream_tumbling", "q_tfidf_terms", "q_token_packing",
        "q_topic_retention", "q_topics_metadata",
        # round 4 (CORRECTNESS_r04.json, 50/50 green)
        "q16_excluded_suppliers", "q_apply_in_arrow", "q_approx_stats",
        "q_aqe_skew_join", "q_bloom_join_filter", "q_bpe_encode",
        "q_bpe_merges", "q_corrupt_records", "q_csv_roundtrip",
        "q_dlq_routing", "q_dynamic_partition_prune", "q_events_asof",
        "q_events_asof_forward", "q_events_collect", "q_events_densify",
        "q_events_ffill", "q_events_first_last", "q_events_islands",
        "q_events_session", "q_events_session_dynamic", "q_events_sliding",
        "q_events_tumbling", "q_heavy_hitters", "q_hll_distinct",
        "q_json_roundtrip", "q_kmeans_clusters", "q_map_in_arrow",
        "q_map_in_pandas", "q_media_audio_features", "q_media_audio_mulaw",
        "q_media_frame_sample", "q_media_image_features",
        "q_media_jpeg_features", "q_media_png_features", "q_media_resize",
        "q_media_transcode", "q_orc_roundtrip", "q_pagerank_trade",
        "q_pandas_udf_grouped_agg", "q_partitioned_prune", "q_row_ids",
        "q_salted_join", "q_schema_evolution", "q_sql_interface",
        "q_sql_parameterized", "q_text_roundtrip", "q_triangle_count",
        "q_txn_sink", "q_window_range_frame", "q_xml_roundtrip",
        # round 5 (CORRECTNESS_r05.json, 50/50 green)
        "q_unsubscribe", "q_payload_integrity", "q_dsir_select",
        "q_shard_assignment", "q_bucketed_join", "q_curriculum_interleave",
        "q_setsim_prefix_join", "q_rrf_fusion", "q_hard_negatives",
        "q_curation_funnel", "q_length_buckets", "q_assoc_rules",
        "q_custom_source", "q_envelope_partition_routing", "q_variant_json",
        "q_json_tuple", "q_zorder_layout", "q_spatial_grid_join",
        "q_temporal_join", "q_scd2_intervals", "q_interval_pairs_binned",
        "q_lateral_topk", "q_csv_funcs", "q_embed_outliers",
        "q_embed_project", "q_embed_quantize", "q_label_centroids",
        "q_group_regression", "q_chunk_documents", "q_doc_fingerprint",
        "q_duplicate_spans", "q_lang_quality", "q_ngram_novelty",
        "q_pmi_collocations", "q_quality_classifier", "q_quality_gopher",
        "q_sentence_stats", "q_unigram_surprisal", "q_url_domains",
        "q_cohort_retention", "q_conversion_latency", "q_cusum_drift",
        "q_decay_scores", "q_event_transitions", "q_ewma_smooth",
        "q_ohlc_bars", "q_rolling_7d", "q_seasonality", "q_top_paths",
        "q_approx_quantile",
        # round 6 (CORRECTNESS_r06.json, 50/50 green — closed the ledger:
        # every registered query now has a driver-green row and the latest
        # status is green for all 271)
        "q_chi2_cells", "q_cumulative_distinct", "q_dedup_source_matrix",
        "q_dq_checks", "q_epoch_shuffle", "q_langid_f1", "q_mad_outliers",
        "q_mmr_select", "q_null_handling", "q_pagination",
        "q_percentrank_norm", "q_positive_pairs", "q_repetition_gopher",
        "q_sample_stratified", "q_sample_weighted", "q_span_corruption",
        "q_string_agg", "q_temperature_mixture", "q_tokenizer_fertility",
        "q_trimmed_mean", "q_unpivot", "q_value_histogram",
        "q_zscore_outliers",
        # round 7 (CORRECTNESS_r07.json, 50/50 green — 7 additions, 2
        # rewrites re-confirmed via the _NEWEST_FIRST override, 41
        # re-confirmations; ledger stays closed at 278)
        "q_crossmodal_dedup", "q_softdedup_weights", "q_calibration_ece",
        "q_threshold_sweep", "q_filter_agreement", "q_token_budget_mix",
        "q_leakage_safe_split",
        # round 8 (CORRECTNESS_r08.json, 50/50 green — 26 additions, 3
        # rewrites re-confirmed via the _NEWEST_FIRST override, 21
        # re-confirmations; ledger stays closed at 304)
        "q_bitext_mining", "q_bootstrap_ci", "q_char_entropy",
        "q_dataset_card", "q_dedup_pareto", "q_doremi_weights",
        "q_dp_noisy_topk", "q_hits_scores", "q_k_anonymity",
        "q_kn_doc_surprisal", "q_kneser_ney", "q_label_propagation",
        "q_mutual_info", "q_pass_at_k", "q_pca_power",
        "q_perplexity_filter", "q_psi_drift", "q_rho_select",
        "q_silhouette", "q_skyline", "q_span_decontamination",
        "q_state_store_read", "q_stream_psi_drift", "q_udtf_table_arg",
        "q_vocab_coverage", "q_zipf_fit",
        # round 9 (CORRECTNESS_r09.json, 50/50 green — 10 additions, 9
        # rewrites/factorings re-confirmed via the _NEWEST_FIRST override,
        # 31 re-confirmations; ledger stays closed at 314)
        "q_max_dup_span", "q_stupid_backoff", "q_bitext_precision",
        "q_source_attribution", "q_conformal_threshold", "q_partition_ari",
        "q_source_kl", "q_watermark_detect", "q_fleiss_kappa",
        "q_ivf_nprobe_sweep",
        # round 10 (CORRECTNESS_r10.json, 50/50 green — 8 additions, 9
        # rewrites re-confirmed via the _NEWEST_FIRST override, 33
        # re-confirmations; ledger stays closed at 322)
        "q_train_quality_lr", "q_scene_cuts", "q_audio_fingerprint_dedup",
        "q_rouge_overlap", "q_image_phash_dedup", "q_matryoshka_eval",
        "q_ann_hubness", "q_audio_silence_segments",
    }
)


def all_queries() -> dict[str, QuerySpec]:
    """Full registry, interleaved round-robin across query families.

    The verification driver samples the registry head-first; a flat
    module-by-module order means a 50-query sample never reaches the later
    families (events/streaming/LLM/analytics).  Round-robin across modules
    guarantees the first len(modules) entries already span every family and
    the first 2*len(modules) cover two per family, so any head-sample
    exercises the whole operator surface.  Queries already driver-confirmed
    in a previous round sort after everything still unconfirmed.
    """
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    by_module: dict[str, list[QuerySpec]] = {}
    for spec in _REGISTRY.values():
        by_module.setdefault(spec.module, []).append(spec)
    # Module order follows _QUERY_MODULES; unknown modules (tests) go last.
    order = [m for m in _QUERY_MODULES if m in by_module] + [
        m for m in by_module if m not in _QUERY_MODULES
    ]
    interleaved: list[QuerySpec] = []
    queues = [list(by_module[m]) for m in order]
    while queues:
        next_round = []
        for q in queues:
            interleaved.append(q.pop(0))
            if q:
                next_round.append(q)
        queues = next_round
    # A name in _NEWEST_FIRST counts as fresh even if a previous round
    # confirmed an OLDER implementation: rewrites are treated like additions
    # (ADVICE r6) — the driver must re-verify the new plan in its own round.
    fresh_names = {
        s.name
        for s in interleaved
        if s.name in _NEWEST_FIRST or s.name not in _DRIVER_CONFIRMED
    }
    fresh = [s for s in interleaved if s.name in fresh_names]
    seen = [s for s in interleaved if s.name not in fresh_names]
    # Newest operators first among the fresh: they are the least-verified
    # code in the repo, so a head-first correctness sample should reach
    # them this round, not N rounds from now.
    first = [s for s in fresh if s.name in _NEWEST_FIRST]
    first.sort(key=lambda s: _NEWEST_FIRST.index(s.name))
    rest = [s for s in fresh if s.name not in _NEWEST_FIRST]
    return {s.name: s for s in first + rest + seen}


# Curated registry head: the driver samples ~50 queries head-first, so the
# window is budgeted deliberately.  The head is DERIVED, not typed
# (VERDICT r5 next-step #8): ``all_queries()`` sorts every query without a
# _DRIVER_CONFIRMED row ahead of every confirmed one.  After the round-7
# rotation (CORRECTNESS_r06's 50 greens folded in above) the cumulative
# ledger is CLOSED — all 271 pre-round-7 queries are driver-confirmed — so
# the window is spent on round-7 additions and REWRITES, then
# re-confirmations.
#
# _NEWEST_FIRST holds queries added OR materially rewritten in the current
# round, ordered verify-first: brand-new code should meet the driver before
# anything else (a rewrite's old confirmation row was earned by the old
# plan — ADVICE r6).  Rotation each round: fold the latest
# CORRECTNESS_r{N} greens into _DRIVER_CONFIRMED and clear/refill this
# tuple with the new round's names.
_NEWEST_FIRST: tuple[str, ...] = (
    # round-11 additions and rewrites (each entry is registered with oracle
    # + tests + plan budget + three-scale parity before the driver sees it)
    "q_stream_ingest_dedup",
    "q_video_neardup",
    "q_unigram_lm_train",
    "q_unigram_encode",
    "q_neardup_safe_split",
    "q_domain_curriculum",
    "q_distill_threshold_eval",
    "q_nucleus_sampling_audit",
    "q_spec_decode_overlap",
    "q_stream_media_ingest",
    "q_stream_audio_ingest",
    "q_stream_image_ingest",
    # round-11 rewrite: every call trains its four epochs plus the eval
    # pass (r12); the cloned-session epoch loop closes the ADVICE r10
    # conf-leak finding
    "q_train_quality_lr",
)

