"""Scale-plan audits: the physical plans of headline queries must be the
plans we'd want on a 1000-executor cluster (pushdown, broadcast, no
cartesian, WindowGroupLimit, Python only where declared)."""

from __future__ import annotations

import pytest

from pulsar_lunar_spark.plans.inspect import (
    assert_scale_plan,
    has_window_group_limit,
    pushed_filters,
    read_schemas,
    uses_broadcast_join,
    uses_python_eval,
)
from pulsar_lunar_spark.queries import all_queries

SPECS = all_queries()

# Queries that intentionally use Python (pandas UDF surface + LSH/driver-side
# query-vector fetch).
PYTHON_OK = {
    "q_python_udf",  # the declared row-at-a-time UDF surface itself
    "q_udtf_split",  # the declared Python UDTF surface itself
    "q_udtf_table_arg",  # the TABLE-argument UDTF surface itself
    "q_pandas_udf_scalar",
    "q_pandas_udf_grouped_agg",
    "q_apply_in_pandas",
    "q_map_in_pandas",
    # vectorized Arrow-batched numpy paths — the declared fast lane for
    # matrix-shaped similarity / signature math (BLAS & minimum.reduceat)
    "q_dedup_embedding",
    "q_dedup_minhash",
    "q_dedup_source_matrix",  # same vectorized minhash pipeline + source joins
    "q_dedup_incremental",  # vectorized Arrow minhash signatures by design
    "q_dedup_simhash",  # vectorized Arrow per-bit vote by design
    "q_lsh_band_tuning",  # same vectorized signature path, two band configs
    "q_knn_join",  # GEMM path: BLAS scores + per-partition local top-k
    "q_hard_negatives",  # label-masked GEMM, same lane as q_knn_join (r6 rewrite)
    "q_positive_pairs",  # same-label mask through the same GEMM lane
    "q_semdedup",  # per-cell GEMM pair stage (same fast lane as q_dedup_embedding)
    # mapInPandas codecs — Python is the declared decode/resize path
    "q_media_image_features",
    "q_media_audio_features",
    "q_media_frame_sample",
    "q_media_resize",
    "q_media_png_features",
    "q_media_jpeg_features",
    "q_media_transcode",
    "q_media_audio_mulaw",
    # batch-6 declared Python/Arrow surfaces
    "q_map_in_arrow",
    "q_apply_in_arrow",
    "q_row_ids",  # mapInPandas partition-offset enumeration (zipWithIndex pattern)
    # round-7: rectangular blocked GEMM, same lane as q_dedup_embedding
    "q_crossmodal_dedup",
    # round-10 media curation: mapInPandas decode is the declared lane
    "q_scene_cuts",  # AVI decode + vectorized frame deltas
    "q_audio_fingerprint_dedup",  # WAV decode + vectorized Haar bands
    "q_image_phash_dedup",  # BMP decode + vectorized dHash grid
    "q_ann_hubness",  # GEMM lane (knn_join_gemm), same as q_knn_join
    "q_audio_silence_segments",  # WAV decode + vectorized window energies
    # round-11 media curation
    "q_video_neardup",  # AVI decode x2 (frame deltas + per-frame dHash)
    # round-11 tokenizer: per-word Viterbi DP is the declared Arrow lane
    "q_unigram_encode",
    # round-11: vectorized Arrow minhash signatures (q_dedup_minhash lane)
    "q_neardup_safe_split",
    # round-12: Gopher repetition counters moved to the Arrow counting
    # lane (the interpreted-HOF allocation storm was the r11 in-suite
    # blowup source; JVM twin kept in operators/corpus.py for identity)
    "q_quality_gopher",
}

# Bounded cross joins by design (5-row region table / single-row query vec).
CARTESIAN_OK = {
    "q_join_cross",
    "q_similarity_topk",
    "q_knn_join",
    "q_ngram_jaccard",
    "q_ivf_topk",  # single-row query vec + single-row probed-cell id
    "q_dedup_cluster",  # bounded 80-doc slice pairwise verify (scale path: LSH edges)
    "q_tfidf_terms",  # single-row broadcast N-docs side
    "q_bm25_search",  # single-row broadcast corpus-stats side
    "q_kmeans_clusters",  # K-row broadcast centroid side (K=4)
    "q_embed_outliers",  # same K-row broadcast centroid side as the fit
    "q_unigram_surprisal",  # single-row broadcast total-token side
    "q_semdedup",  # K-row broadcast centroid side of the kmeans cell assign
    "q_pmi_collocations",  # single-row broadcast total-token side
    "q_assoc_rules",  # single-row broadcast basket-total side
    "q_dq_checks",  # 5 bounded (1-row violation-count x 1-row total) pairs
    "q_token_budget_mix",  # single-row broadcast weight-total side
    "q_leakage_safe_split",  # single-row broadcast leak-count side
    "q_chi2_cells",  # single-row broadcast grand-total side
    "q_bpe_encode",  # bpe_train's bounded vocab argmax feeds the fold
    "q_kn_doc_surprisal",  # single-row broadcast corpus-mean side
    "q_spec_decode_overlap",  # single-row broadcast bigram-total side
    "q_hits_scores",  # single-row broadcast per-round max side
}


def test_q1_pushdown_and_pruning(spark, sf_dir):
    df = SPECS["q1_pricing_summary"].fn(spark, sf_dir)
    # shipdate filter must reach the parquet scan
    assert any("l_shipdate" in p for p in pushed_filters(df))
    # column pruning: unused columns (l_orderkey etc.) not in ReadSchema
    rs = " ".join(read_schemas(df))
    assert "l_orderkey" not in rs and "l_partkey" not in rs


def test_q5_broadcasts_dimensions(spark, sf_dir):
    df = SPECS["q5_local_supplier_volume"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)
    assert_scale_plan(df, require_pushdown=True, require_broadcast=True)


def test_q3_pushdown(spark, sf_dir):
    df = SPECS["q3_shipping_priority"].fn(spark, sf_dir)
    assert any("BUILDING" in p for p in pushed_filters(df))


def test_topk_uses_window_group_limit(spark, sf_dir):
    df = SPECS["q_window_topk_per_group"].fn(spark, sf_dir)
    assert has_window_group_limit(df)


def test_compacted_read_is_sortfree_argmax(spark, sf_dir):
    """The compacted view is a per-key max_by aggregate: partial
    aggregation + NO window, NO sort anywhere in the plan (the previous
    rn=1 window form paid a full partition sort even with
    WindowGroupLimit; the arg-max is 9x faster at sf0.1)."""
    from pulsar_lunar_spark.plans.inspect import plan_text

    df = SPECS["q_events_compacted"].fn(spark, sf_dir)
    text = plan_text(df)
    assert "max_by" in text
    assert "Window" not in text


def test_sort_limit_is_take_ordered(spark, sf_dir):
    from pulsar_lunar_spark.plans.inspect import plan_text

    df = SPECS["q_sort_limit"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in plan_text(df)


@pytest.mark.parametrize(
    "name", ["q_dp_noisy_topk", "q_kneser_ney", "q_zipf_fit"]
)
def test_llm13_topk_heads_are_take_ordered(name, spark, sf_dir):
    """Round-9 rewrite (r8 VERDICT watch item): the three llm13 top-k
    queries must bound their head with TakeOrderedAndProject instead of
    an unpartitioned rank window over the unbounded token/bigram-type
    table — at 100 TB the single-partition global window over an O(V^2)
    type table is the first thing to break."""
    from pulsar_lunar_spark.plans.inspect import plan_text

    df = SPECS[name].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in plan_text(df), name


@pytest.mark.parametrize(
    "name", sorted(n for n in SPECS if n not in CARTESIAN_OK)
)
def test_no_cartesian_products(name, spark, sf_dir):
    assert_scale_plan(SPECS[name].fn(spark, sf_dir), forbid_cartesian=True)


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for n in SPECS
        if n not in PYTHON_OK and not n.startswith("q_ann")
    ),
)
def test_jvm_only_queries_have_no_python_eval(name, spark, sf_dir):
    """Every query outside the declared UDF surface stays JVM-side (UDFs are
    the slow path; the relational/dedup/text stack is pure codegen)."""
    assert not uses_python_eval(SPECS[name].fn(spark, sf_dir)), name


def test_curriculum_interleave_is_sharded(spark, sf_dir):
    """The serve-rank is computed zipWithIndex-style (VERDICT r5 #5): the
    corpus is range-sharded on the serve key and ranked per shard + offset
    — NO corpus-wide single-partition window. The only SinglePartition
    exchange feeds the <=16-row shard-count cumsum; the offsets branch's
    textual duplicate of the range exchange folds into a runtime
    ReusedExchange under AQE."""
    df = SPECS["q_curriculum_interleave"].fn(spark, sf_dir)
    from pulsar_lunar_spark.plans.inspect import executed_plan_text

    txt = executed_plan_text(df)
    assert "Exchange rangepartitioning(pos" in txt
    assert "windowspecdefinition(__pid" in txt  # per-shard local rank
    assert txt.count("Exchange SinglePartition") == 1  # offsets cumsum only
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final and "rangepartitioning" in final


def test_minhash_jvm_variant_plan(spark, sf_dir):
    """The MinHash-LSH candidate join avoids cartesian joins. (Its Arrow
    signature lane is Python-by-design.)"""
    from pulsar_lunar_spark.operators.dedup import minhash_lsh_candidates
    from pulsar_lunar_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(d, "doc_id", "text")
    assert_scale_plan(cands, forbid_cartesian=True)


@pytest.mark.parametrize("name", ["q7_volume_shipping", "q8_market_share", "q9_product_profit", "q14_promo_share"])
def test_tpch_join_chains_broadcast_dimensions(name, spark, sf_dir):
    """The multi-way TPC-H shapes must broadcast their dimension sides —
    at 100 TB a shuffled nation/part/supplier join would be a plan bug."""
    df = SPECS[name].fn(spark, sf_dir)
    assert uses_broadcast_join(df), name


@pytest.mark.parametrize("name", ["q_tfidf_terms", "q_bm25_search", "q_kmeans_clusters"])
def test_corpus_ml_queries_broadcast_small_sides(name, spark, sf_dir):
    """The tiny sides (term-df table, corpus stats, K centroids) must
    never shuffle the corpus against them — at 100 TB that's a plan bug.
    The equi-keyed sides must be BroadcastHashJoin; the K-centroid assign
    goes further: centroids travel as LITERALS in an argmin projection
    (ml.kmeans_assign_literal), so the assign stage has no join NODE at
    all and zero Exchange."""
    from pulsar_lunar_spark.plans.inspect import plan_text

    df = SPECS[name].fn(spark, sf_dir)
    if name == "q_kmeans_clusters":
        text = plan_text(df)
        # literal-argmin assign: no centroid join of any kind in the plan
        assert "BroadcastNestedLoopJoin" not in text, name
        assert "array_min" in text, name
    else:
        assert uses_broadcast_join(df), name


EXCHANGE_BUDGETS = {
    # (max shuffle exchanges, max broadcast exchanges) per headline query —
    # generous by 1 over the current plan so micro-changes pass, but a
    # structural regression (a lost exchange reuse, a join that stopped
    # broadcasting and doubled its shuffles) fails loudly.
    "q1_pricing_summary": (3, 1),
    "q3_shipping_priority": (2, 3),
    "q5_local_supplier_volume": (3, 6),
    "q9_product_profit": (3, 5),
    "q21_waiting_suppliers": (3, 3),
    "q_window_topk_per_group": (3, 2),
    "q_tfidf_terms": (7, 3),
    "q_dedup_exact": (3, 1),
    "q_cumulative_distinct": (3, 1),
    "q_events_session": (3, 1),
    "q_funnel": (10, 4),
    "q_lang_detect": (3, 1),
    # round-2 additions
    "q_events_interpolate": (4, 1),  # grid-bounds agg + shared window sort + output sort
    "q_time_weighted_avg": (3, 1),  # LEAD window and groupBy share one user_id exchange
    "q_snapshot_diff": (5, 1),  # full-outer join (2) + agg + sort
    "q_bitmap_distinct": (4, 1),  # cell agg + rollup + sort
    "q_contamination": (4, 2),  # bench side broadcasts; corpus shingles shuffle once
    "q_hll_distinct": (7, 2),  # one corpus distinct exchange feeds both branches
    "q_recursive_cte": (3, 1),  # per-depth agg + sort; iteration adds no exchanges
    # round-4 rewrites
    "q_assoc_rules": (9, 4),  # basket fold replaces the postings self-join
    "q_ngram_novelty": (4, 2),  # one trigram exchange; df=1 owner via min, no postings join
    "q_dedup_bloom": (6, 3),  # positions computed once; totals from a text-free scan
    "q_containment_dedup": (4, 2),  # written-once postings; stopword set broadcast anti-join
    "q_ann_topk": (1, 2),  # zero shuffles: scored spool + two TakeOrdered scans
    # round-5 weak-set locks: constants are being worked, so the plan
    # SHAPES are regression-guarded while they are
    "q_semdedup": (6, 2),  # keep_vec assign feeds cell GEMM joinlessly; drops agg per cell
    "q_retrieval_metrics": (9, 5),  # one ranked pass, per-cutoff evals share it
    "q10_returned_items": (2, 4),  # single fact shuffle, dims broadcast
    "q_embed_outliers": (3, 1),  # centroid agg + z-score agg share partitioning
    "q_events_session_dynamic": (3, 1),  # session window sort + output agg
    "q_media_resize": (2, 1),  # declared Python codec lane: one scan, no join
    "q_media_transcode": (2, 1),  # same shape as resize
    "q_salted_join": (3, 2),  # salt explode + shuffled join (demo forces shuffle)
    # round-5 llm8 batch
    "q_dsir_select": (3, 2),  # bucket fit agg + per-doc agg; posterior broadcasts
    # static-plan count is 7 because the offsets branch textually repeats
    # the range-exchange subtree — at runtime AQE folds it into ONE
    # ReusedExchange (asserted by test_curriculum_interleave_is_sharded);
    # runtime full-data exchanges: source window, range shard, shard-id
    # window = 3, plus two <=16-row aggregate exchanges
    "q_curriculum_interleave": (7, 1),
    "q_aqe_skew_join": (1, 1),  # AQE skew split handles the rest at runtime
    # round-6 rewrites
    "q_hard_negatives": (3, 0),  # one GEMM pass; window + output sort only
    # round-6 additions
    "q_positive_pairs": (3, 0),  # same GEMM lane as q_hard_negatives
    "q_repetition_gopher": (3, 0),  # parallelize + 16-row agg + sort
    "q_tokenizer_fertility": (3, 0),  # same shape
    "q_temperature_mixture": (4, 1),  # source agg + own-total broadcast + sort
    "q_span_corruption": (1, 0),  # pure map pass + bounded output sort
    "q_epoch_shuffle": (3, 3),  # two TakeOrdered heads + 10-row rank join
    "q_dedup_source_matrix": (4, 6),  # LSH pipeline + broadcast pair lookups
    "q_langid_f1": (4, 2),  # scoring pass x broadcast class list + one agg
    # round-7 additions
    "q_crossmodal_dedup": (3, 1),  # one groupBy(block) exchange + sort
    "q_softdedup_weights": (7, 1),  # post-spool CC labels + source agg
    "q_calibration_ece": (4, 2),  # doc agg + bucket agg + 10-row window
    "q_threshold_sweep": (4, 2),  # one scoring pass x 5-literal explode
    "q_filter_agreement": (3, 3),  # rule projection join scoring pass
    "q_token_budget_mix": (6, 3),  # count agg + quota bc + per-source cumsum
    "q_leakage_safe_split": (7, 2),  # group agg + leak HAVING + 1-row bc
    # round-8 additions
    "q_doremi_weights": (3, 1),  # source agg + 20-row window iterations
    "q_span_decontamination": (7, 2),  # bench bc join + hit distinct + agg
    "q_bootstrap_ci": (5, 2),  # scoring pass + 21-row resample agg + window
    "q_pass_at_k": (4, 1),  # per-task agg + 3-literal explode + 3-row agg
    "q_psi_drift": (4, 2),  # 8-bucket agg + spine join + 8-row windows
    "q_vocab_coverage": (5, 2),  # (src,tok) agg + vocab re-agg/top-k + out sort
    "q_dedup_pareto": (3, 1),  # prefix-group agg + size re-agg + out sort
    "q_rho_select": (5, 3),  # shared token explode x 2 bc scorers + join + topk
    "q_perplexity_filter": (6, 2),  # ref word agg + word join + doc/src aggs
    "q_dataset_card": (5, 2),  # (src,lang) agg + share window + size agg join
    # round-8 third wave (llm13)
    "q_k_anonymity": (3, 0),  # QI agg + 1-row conditional-sum agg + 4-row sort
    "q_dp_noisy_topk": (2, 0),  # token agg + TakeOrdered head + 25-row rank window
    "q_bitext_mining": (5, 1),  # dot agg + 2 side windows + sort; anchors bc
    "q_silhouette": (6, 1),  # centroid agg bc + d2/ab/s aggs + sort
    "q_kneser_ney": (3, 0),  # one scan; window-form marginals; TakeOrdered top-k
    "q_kn_doc_surprisal": (4, 2),  # spooled per-doc means; 1-row mean bc
    "q_pca_power": (3, 0),  # one scan + 64-row pos agg + 1-row fold
    "q_mutual_info": (3, 0),  # one scan; window-form marginals, no spool
    "q_char_entropy": (5, 0),  # (doc,char) agg + doc window/agg + rollup
    "q_skyline": (5, 1),  # bucket windows + tiny bucket-maxima broadcast
    "q_label_propagation": (2, 2),  # checkpointed loop; final 25-row join
    # h half-rounds checkpoint; the last a-subtree (one bc join off the
    # final h checkpoint + its 25-row aggs) stays lazy in the returned
    # plan by design (A/B: eager a-checkpoints cost 0.4 s of job floors)
    "q_hits_scores": (8, 5),
    "q_zipf_fit": (2, 0),  # token agg + TakeOrdered 100-row head into 1-row OLS agg
    # round-9 additions (llm14)
    "q_max_dup_span": (6, 2),  # shared span exchange + dup agg + doc window + TOAP
    "q_stupid_backoff": (8, 5),  # spooled type table + 3 bc'd backoff joins + doc agg
    "q_bitext_precision": (7, 2),  # the bitext matmul + margin re-rank + 3-row sweep
    "q_source_attribution": (5, 3),  # one token pass x 2 bc scorers + source rollup
    # two-pass bucketed order statistic (r10): coarse-histogram agg +
    # bounded SinglePartition cum + alpha-keyed refine exchange + located-
    # bucket/threshold broadcasts — more exchanges than the r9 direct cum
    # window, but every one runs over a bounded or alpha-partitioned
    # table (the r9 verdict's 100 TB hazard was the UNBOUNDED value-table
    # window + full-table BNL theta-join, both gone)
    "q_conformal_threshold": (8, 6),
    "q_partition_ari": (7, 0),  # one cell agg + keyed windows + 1-row reduce
    "q_source_kl": (5, 2),  # spooled cell table + keyed windows + 1-row N bc
    "q_watermark_detect": (3, 0),  # one scan + doc agg + TakeOrdered top-20
    "q_fleiss_kappa": (5, 2),  # spooled vote table + 2 rollups + 1-row combine
    "q_ivf_nprobe_sweep": (8, 12),  # centroid agg + shared np exchange + bc topk joins
    # round-10 additions (llm17)
    # returned plan = the one accuracy pass (per-doc hash agg off the
    # feats spool + 1-row stats agg); the 4 gradient epochs are eager
    # driver-synchronized side jobs (one doc window + 65-row agg each,
    # the kmeans-iteration shape) and never appear in the returned plan
    "q_train_quality_lr": (2, 0),
    # map-only Arrow decode stages; the relational tails shuffle only
    # O(transitions)/O(windows) rows keyed by media/clip id
    "q_scene_cuts": (3, 1),  # per-vid agg + cut window + left join + sort
    "q_audio_fingerprint_dedup": (2, 1),  # (win,fp) postings self-join + pair agg
    "q_image_phash_dedup": (3, 1),  # (band,value) postings self-join + distinct + sort
    # round-11 additions: every exchange moves O(shots)/O(pairs) rows,
    # never frames or bytes
    "q_video_neardup": (8, 3),  # fused-feature spool scan + sig distinct/counts + sig-bucket self-join
    "q_stream_ingest_dedup": (1, 0),  # result = pair-store scan + sort (work happens per-batch)
    "q_unigram_lm_train": (0, 0),  # corpus pass collects in the operator; result is literal rows
    "q_unigram_encode": (2, 0),  # per-doc agg + sort; Viterbi rides the scan
    "q_neardup_safe_split": (5, 3),  # LSH pair pipeline + leaky projection joined back
    "q_domain_curriculum": (2, 0),  # source agg + epoch windows on the 20-row frame
    "q_distill_threshold_eval": (3, 0),  # per-doc agg + 5-thr sweep agg + 5-row rank
    "q_nucleus_sampling_audit": (3, 1),  # ctx TakeOrdered + w1 windows + 8-row agg
    "q_spec_decode_overlap": (5, 3),  # draft agg + scalar total + ctx head + 8-row agg
    "q_stream_media_ingest": (1, 0),  # result = pair-store scan + sort (work happens per-batch)
    "q_stream_audio_ingest": (1, 0),  # result = pair-store scan + sort (work happens per-batch)
    "q_stream_image_ingest": (1, 0),  # result = pair-store scan + sort (work happens per-batch)
    # one qid-clustered exchange shared by the (qid,vec) agg, all three
    # rank windows, and the overlap aggregate (the nprobe-sweep lesson)
    "q_matryoshka_eval": (2, 1),
    "q_ann_hubness": (2, 0),  # GEMM local top-k + global window + count + TOAP
    "q_audio_silence_segments": (3, 0),  # media-keyed islands window + 2 rollups
    # one (doc, gram) span equi-join + distinct-position count + pair join
    "q_rouge_overlap": (4, 1),
}


def test_triangle_count_single_scan_via_reuse(spark, sf_dir):
    """The r6 verdict's one actionable plan defect: q_triangle_count
    re-executed its edge-building subtree per consumer (38 FileScans /
    72 shuffles / 0 ReusedExchange). The round-7 single-job edge-iterator
    form must keep every multi-consumer subtree folded: exactly ONE
    lineitem scan and >=3 ReusedExchanges in the RUNTIME plan (AQE folds
    at execution, so assert on the post-collect final plan, not the
    static text — the static plan legitimately shows the subtree
    repeated; same discipline as q_curriculum_interleave's reuse
    assert). Round 8: the registered query returns a localized two-bigint
    frame (conf-scoped eager execution, the q_aqe_skew_join pattern), so
    this asserts on the inner distributed plan executed under the same
    scoped confs the query uses."""
    import re

    from pulsar_lunar_spark.queries.analytics3 import _TRI_CONFS, _triangle_df

    prev = {k: spark.conf.get(k, None) for k in _TRI_CONFS}
    for k, v in _TRI_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = _triangle_df(spark, sf_dir)
        df.collect()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    txt = df._jdf.queryExecution().executedPlan().toString()
    final = txt.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1, "edge subtree re-executed"
    assert final.count("ReusedExchange") >= 3, "exchange reuse regressed"
    shuffles = len(
        re.findall(r"Exchange (?:hash|range)partitioning", final)
    ) + final.count("Exchange SinglePartition")
    # 8 observed at the test fixture's scale (AQE keeps more query stages
    # distinct on tiny inputs); generous by 1 per the budget convention
    assert shuffles <= 9, f"{shuffles} shuffles in the final plan (budget 9)"


@pytest.mark.parametrize("name", sorted(EXCHANGE_BUDGETS))
def test_exchange_budget(name, spark, sf_dir):
    """Shuffle/broadcast counts per headline plan stay within budget —
    every Exchange is data movement the 100 TB run pays for."""
    import re

    from pulsar_lunar_spark.plans.inspect import executed_plan_text

    txt = executed_plan_text(SPECS[name].fn(spark, sf_dir))
    shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", txt)) + txt.count(
        "Exchange SinglePartition"
    )
    broadcasts = txt.count("BroadcastExchange")
    max_sh, max_bc = EXCHANGE_BUDGETS[name]
    assert shuffles <= max_sh, f"{name}: {shuffles} shuffles (budget {max_sh})"
    assert broadcasts <= max_bc, f"{name}: {broadcasts} broadcasts (budget {max_bc})"
