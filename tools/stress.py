#!/usr/bin/env python
"""Scale-up stress probe: multiply the sf0.1 fact tables Nx IN-ENGINE
(explode over a literal range — no synthetic files, rows are exact copies
with shifted keys) and measure how the headline plan shapes scale.

This is perf evidence, not a correctness oracle: the point is the
SLOPE. A plan that is O(n) with healthy partitioning should scale
wall-clock ~linearly from 1x to Nx while per-row throughput holds; a
hidden quadratic (cartesian, all-pairs, driver collect) blows up
super-linearly and fails the run.

Usage:
    python tools/stress.py [N] [sf_dir]     # default N=10, sf0.1

Prints one JSON line: {"mult": N, "probes": {name: {"rows": r, "sec": s,
"rows_per_sec": t}}, "slopes": {name: ratio_vs_1x_per_row}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from pulsar_lunar_spark.session import artifact_dir, get_spark, load_table, scratch_dir


def multiply(df: DataFrame, key_cols: list[str], mult: int) -> DataFrame:
    """Nx the table: each copy shifts its integer keys into a disjoint
    range, so join/group cardinalities scale like real data growth (the
    same key never collides across copies)."""
    if mult <= 1:
        return df
    shift = 1 << 40
    c = F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("__copy")
    out = df.select("*", c)
    for k in key_cols:
        out = out.withColumn(k, F.col(k) + F.col("__copy") * F.lit(shift))
    # NOTE: deliberately NOT repartitioned after the explode. Measured: a
    # round-robin exchange of the multiplied full-width rows costs more
    # than every probe it was meant to help (50x fact join 14.7 s -> 57.8 s
    # with the extra shuffle — it doubles the data movement and spills).
    # The probes' own joins/windows/aggregations shuffle anyway, which is
    # where Nx-real-files parallelism re-appears on a cluster.
    return out.drop("__copy")


def probes(spark, sf_dir: str, mult: int):
    li = multiply(
        load_table(spark, sf_dir, "lineitem"), ["l_orderkey"], mult
    )
    orders = multiply(load_table(spark, sf_dir, "orders"), ["o_orderkey"], mult)
    docs = multiply(load_table(spark, sf_dir, "documents"), ["doc_id"], mult)

    def q1_shape():
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )

    def join_agg_shape():
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    def window_shape():
        from pyspark.sql import Window

        w = Window.partitionBy("l_orderkey").orderBy("l_shipdate")
        return (
            li.select("l_orderkey", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") == 1)
            .groupBy()
            .count()
            .collect()
        )

    def shingle_shape():
        from pulsar_lunar_spark.operators.dedup import shingles
        from pulsar_lunar_spark.session import ensure_parallelism

        return (
            ensure_parallelism(docs)
            .select(F.explode(shingles(F.col("text"), 3)).alias("s"))
            .groupBy()
            .count()
            .collect()
        )

    def containment_shape():
        # df-capped postings pair expansion (dedup.containment_pairs):
        # the probe proves the df cap keeps the pair count bounded as the
        # corpus multiplies (copies have disjoint doc ids but IDENTICAL
        # text, so every shingle's df scales with mult — the worst case
        # for an uncapped postings join). clearCache first, defensively:
        # Spark's CacheManager matches persisted plans by canonicalized
        # form, so if ANY cache of this subtree exists the measured rep
        # would read it and report the cache-hit path (measured 2.4 s at
        # 50x vs the real 8.7 s build when the operator briefly persisted
        # internally) — the probe must always time the cold build
        from pulsar_lunar_spark.operators.dedup import containment_pairs

        spark.catalog.clearCache()
        return (
            containment_pairs(docs, "doc_id", "text", df_cap=50)
            .groupBy()
            .count()
            .collect()
        )

    def dsir_importance_shape():
        # hashed n-gram importance (corpus.hashed_ngram_importance): the
        # bucket model is FIXED at 4096 rows no matter the corpus size
        # (broadcast side constant), so the probe proves the per-doc
        # scoring pass scales linearly — the bigram stream is the only
        # thing that grows.
        from pulsar_lunar_spark.operators.corpus import hashed_ngram_importance

        return (
            hashed_ngram_importance(
                docs, id_col="doc_id", text_col="text",
                target=F.col("source") == "src0",
            )
            .groupBy()
            .agg(F.count(F.lit(1)), F.sum("avg_importance"))
            .collect()
        )

    def dsir_importance_persist_shape():
        # the operator's own documented at-scale recipe (VERDICT r5 #7):
        # repartition("bucket") + persist pays the scan+explode+md5 ONCE
        # for both consumers and clusters the fit aggregate's exchange —
        # probes whether the two-pass form's slope is shuffle-bound on
        # the bucket exchange as the corpus multiplies
        from pulsar_lunar_spark.operators.corpus import (
            hashed_ngram_importance_from,
            hashed_ngram_stream,
        )

        stream = hashed_ngram_stream(
            docs, id_col="doc_id", text_col="text",
            target=F.col("source") == "src0",
        ).repartition("bucket").persist()
        try:
            out = (
                hashed_ngram_importance_from(stream, id_col="doc_id")
                .groupBy()
                .agg(F.count(F.lit(1)), F.sum("avg_importance"))
                .collect()
            )
        finally:
            stream.unpersist(blocking=True)
        return out

    def gini_decimal_shape():
        # the decimal(38,0) moment sums (q_gini_index): sum(i*v) passes
        # 2^63 near 1e6 rows — this probe THROWS under ANSI if anyone
        # regresses the widening back to int64
        from pyspark.sql import Window

        v = F.floor(F.col("o_totalprice") * 100).cast("bigint")
        w = Window.orderBy(v, "o_orderkey")
        x = orders.select(v.alias("v"), F.row_number().over(w).alias("i"))
        return x.agg(
            F.expr(
                "cast((2 * sum(cast(i as decimal(38,0)) * cast(v as decimal(38,0)))"
                "      - (count(1) + 1) * sum(cast(v as decimal(38,0))))"
                " div ((count(1) * sum(cast(v as decimal(38,0)))) div 1000000)"
                " as bigint)"
            ).alias("gini_ppm")
        ).collect()

    def stream_session_state_shape():
        # q_stream_session-shaped STATE probe: mult-x rows AND mult-x key
        # cardinality (disjoint user ranges) through a watermarked
        # session_window aggregate on the RocksDB provider — the slope
        # proves per-key state cost stays linear as the store multiplies.
        # Source parquet is written outside the timed region; each run
        # uses a fresh checkpoint (the cursor must replay everything).
        from pulsar_lunar_spark.streaming.ops import run_available_now

        events = multiply(
            load_table(spark, sf_dir, "events"), ["event_id", "user_id"], mult
        )
        src = artifact_dir(
            spark,
            sf_dir,
            f"pl_stress_session_src_x{mult}",
            events.select("user_id", "ts", "value").write.mode("overwrite").parquet,
        )
        schema = "user_id bigint, ts timestamp, value double"
        sessions = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "2 hours")
            .groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        )
        out = scratch_dir("pl_stress_session_out", sf_dir)

        def write_complete(bdf, batch_id):
            bdf.write.mode("overwrite").parquet(out)

        q = run_available_now(
            sessions.writeStream.foreachBatch(write_complete).outputMode(
                "complete"
            ),
            scratch_dir("pl_stress_session_ck", sf_dir),
            state_partitions=8,
            state_store="rocksdb",
            no_data_batches=False,
        )
        p = q.lastProgress
        if p and p.get("stateOperators"):
            so = p["stateOperators"][0]
            print(
                f"#   state rows={so.get('numRowsTotal')} "
                f"mem={so.get('memoryUsedBytes')}",
                file=sys.stderr,
            )
        return [True]

    def group_cumsum_window_shape():
        # the per-source running-sum WINDOW form (q_token_budget_mix's
        # local plan): the source dimension is FIXED while rows multiply,
        # so each source's whole slice funnels through one window-sort
        # task — this probe exists to measure that funnel's slope next to
        # the sharded form below (same output, same input)
        from pyspark.sql import Window

        return (
            docs.select(
                "source",
                F.col("n_chars").cast("long").alias("v"),
                F.sum(F.col("n_chars").cast("long"))
                .over(Window.partitionBy("source").orderBy("doc_id"))
                .alias("cum"),
            )
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("cum").alias("s"))
            .collect()
        )

    def group_cumsum_sharded_shape():
        # partitioning.sharded_group_cumsum — the documented at-scale
        # swap: range shards spread each source across tasks, local sums
        # run as a per-(shard, group) JVM window, offsets are a
        # shard x source grid broadcast back (pure JVM — the earlier
        # mapInPandas form lost on Arrow serde). Value-identical to the
        # window form (tests lock it); this probe pins the SLOPE
        # difference.
        from pulsar_lunar_spark.operators.partitioning import sharded_group_cumsum

        out = sharded_group_cumsum(
            docs.select("doc_id", "source", F.col("n_chars").cast("long").alias("v")),
            "source", ["doc_id"], "v", n_ranges=32,
        )
        return (
            out.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("cum").alias("s"))
            .collect()
        )

    def cc_star_chain_shape():
        # connected_components_star on a PATH GRAPH of length 20k*mult —
        # the adversarial diameter case min-label propagation cannot
        # finish in bounded rounds. Star contraction's round count grows
        # O(log^2 n), so wall-clock should grow ~logarithmically while
        # the chain grows linearly (slope << linear).
        from pulsar_lunar_spark.operators.corpus import connected_components_star

        n = 20_000 * mult
        nodes = spark.range(n).select(F.col("id").alias("node"))
        edges = spark.range(n - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        out = connected_components_star(nodes, edges, max_rounds=60)
        assert out.filter(F.col("component") != 0).count() == 0
        return n

    def blocked_gemm_shape():
        # blocked cosine pair family (q_dedup_embedding / q_semdedup /
        # q_crossmodal_dedup): multiply BOTH vec_id and label, so each
        # copy's vectors land in DISJOINT blocks — block SIZE stays
        # constant while block COUNT grows with mult. That is the
        # operator's documented 100 TB contract ("K grows with n so cells
        # stay IVF-sized"): cost is O(sum block^2 · dim) = linear in
        # corpus size at fixed cell size. Multiplying rows into the SAME
        # blocks would instead grow per-block cost quadratically — by
        # design, and exactly what the contract says not to do.
        from pulsar_lunar_spark.operators.similarity import blocked_cosine_pairs

        emb = multiply(
            load_table(spark, sf_dir, "embeddings"), ["vec_id", "label"], mult
        )
        return (
            blocked_cosine_pairs(
                emb, id_col="vec_id", vec_col="embedding",
                block_col="label", threshold=0.40,
            )
            .groupBy()
            .count()
            .collect()
        )

    def dim_matmul_shape():
        # the llm13 relational-matmul family (q_bitext_mining /
        # q_silhouette): candidate vectors explode by dimension and
        # broadcast-join a BOUNDED anchor/centroid element table, one
        # (cand, anchor) hash aggregate. Multiply vec_id only — the
        # anchor batch is the declared bounded dimension, so cost must
        # stay O(candidates * anchors * dim) = linear in corpus size.
        emb = multiply(
            load_table(spark, sf_dir, "embeddings"), ["vec_id"], mult
        )
        micro = F.expr(
            "transform(embedding, x ->"
            " CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
        )
        q = emb.select("vec_id", micro.alias("qv"))
        a_long = q.filter(
            (F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 32)
        ).select(
            F.col("vec_id").alias("anchor_id"),
            F.posexplode("qv").alias("pos", "aq"),
        )
        b_long = q.filter(F.col("vec_id") % 2 == 1).select(
            F.col("vec_id").alias("cand_id"),
            F.posexplode("qv").alias("pos", "xq"),
        )
        return (
            b_long.join(F.broadcast(a_long), "pos")
            .groupBy("cand_id", "anchor_id")
            .agg(F.sum(F.col("xq") * F.col("aq")).alias("dot"))
            .groupBy()
            .count()
            .collect()
        )

    def triangle_adjacency_shape():
        # the round-7 q_triangle_count plan (orient_edges ->
        # oriented_adjacency -> edge-iterator): multiply orderkeys AND
        # suppkeys so each copy forms a DISJOINT co-occurrence subgraph —
        # vertex and edge counts scale with mult at constant density, the
        # honest graph-growth model (multiplying only rows would densify
        # one fixed 300-node graph toward its K_300 ceiling instead).
        from pulsar_lunar_spark.operators.graph import (
            orient_edges,
            oriented_adjacency,
            triangle_count_adjacency,
        )

        lig = multiply(
            load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 300),
            ["l_orderkey", "l_suppkey"],
            mult,
        ).select("l_orderkey", "l_suppkey")
        per_order = (
            lig.groupBy("l_orderkey")
            .agg(F.collect_set("l_suppkey").alias("ss"))
            .filter(F.size("ss") >= 2)
        )
        edges = (
            per_order.select(F.explode("ss").alias("src"), F.col("ss"))
            .select("src", F.explode("ss").alias("dst"))
            .filter(F.col("src") < F.col("dst"))
            .distinct()
        )
        return triangle_count_adjacency(
            oriented_adjacency(orient_edges(edges))
        ).collect()

    def stream_join_state_shape():
        # q_stream_outer_join-shaped STATE probe (VERDICT r6 #4 — the one
        # remaining 100x-by-analogy claim): mult-x rows AND mult-x key
        # cardinality through a watermarked LEFT-OUTER stream-stream range
        # join on the RocksDB provider. Both join sides buffer state until
        # the global watermark evicts them, so the slope proves the
        # two-sided join store scales like the session-window store.
        # Source parquet written outside the timed region; fresh
        # checkpoint per run (the cursor must replay everything).
        from pulsar_lunar_spark.streaming.ops import run_available_now

        events = multiply(
            load_table(spark, sf_dir, "events"), ["event_id", "user_id"], mult
        )
        src = artifact_dir(
            spark,
            sf_dir,
            f"pl_stress_join_src_x{mult}",
            events.select("user_id", "ts", "event_type").write.mode("overwrite").parquet,
        )
        schema = "user_id bigint, ts timestamp, event_type string"

        def typed(etype, alias):
            s = (
                spark.readStream.schema(schema)
                .parquet(src)
                .select(
                    F.col("user_id").alias(f"{alias}_user"),
                    F.col("ts").alias(f"{alias}_ts"),
                    "event_type",
                )
            )
            # watermark BEFORE the type filter (the q_stream_outer_join
            # discipline: each side tracks its post-filter max otherwise)
            return s.withWatermark(f"{alias}_ts", "30 minutes").filter(
                F.col("event_type") == etype
            )

        pairs = typed("click", "c").join(
            typed("purchase", "p"),
            F.expr(
                "p_user = c_user AND p_ts >= c_ts "
                "AND p_ts <= c_ts + interval 30 minutes"
            ),
            "left_outer",
        ).select("c_user", "c_ts", "p_ts")
        out = scratch_dir("pl_stress_join_out", sf_dir)
        q = run_available_now(
            pairs.writeStream.format("parquet").option("path", out).outputMode(
                "append"
            ),
            scratch_dir("pl_stress_join_ck", sf_dir),
            state_partitions=8,
            state_store="rocksdb",
        )
        # PEAK state, not lastProgress: availableNow loads both sides into
        # the join stores in the data batches and the trailing watermark
        # batch evicts almost everything, so the final numRowsTotal only
        # shows the tail — the peak is what actually sat in RocksDB
        peak_rows = peak_mem = 0
        for p in q.recentProgress:
            for so in p.get("stateOperators") or []:
                peak_rows = max(peak_rows, so.get("numRowsTotal") or 0)
                peak_mem = max(peak_mem, so.get("memoryUsedBytes") or 0)
        print(
            f"#   join state peak rows={peak_rows} mem={peak_mem}",
            file=sys.stderr,
        )
        return [True]

    def conformal_order_stat_shape():
        # two-pass bucketed k-th-smallest (q_conformal_threshold's r10
        # hardening): synthesize a micro-quantized loss per multiplied
        # doc (md5-uniform over the ~1e7 range), then pass 1 = fixed-
        # width coarse histogram (div 4096 -> at most range/4096 rows at
        # ANY corpus size) + bounded cumulative + per-alpha bucket
        # locate, pass 2 = equi-join refine inside the located buckets.
        # Linearity here proves the unbounded-value-table window the r9
        # form used is fully retired.
        from pyspark.sql import Window

        from pulsar_lunar_spark.operators.corpus import md5_int

        losses = docs.select(
            (md5_int(F.col("doc_id").cast("string"), hex_chars=6) * 596 + 7)
            .cast("long")
            .alias("loss_micro")
        )
        n_cal = losses.count()
        hist = losses.groupBy(
            F.expr("loss_micro div 4096").alias("bk")
        ).agg(F.count(F.lit(1)).cast("long").alias("c"))
        cumh = hist.select(
            "bk",
            "c",
            F.sum("c")
            .over(Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, 0))
            .cast("long")
            .alias("cumb"),
        )
        ks = spark.createDataFrame(
            [
                (a, ((n_cal + 1) * (1_000_000 - a) + 999_999) // 1_000_000)
                for a in (100_000, 50_000, 10_000)
            ],
            "alpha_ppm long, k_rank long",
        )
        loc = (
            ks.join(cumh, F.col("cumb") >= F.col("k_rank"), "left")
            .groupBy("alpha_ppm", "k_rank")
            .agg(F.min(F.struct("bk", "cumb", "c")).alias("t"))
            .select(
                "alpha_ppm",
                "k_rank",
                F.col("t.bk").alias("bk"),
                (F.col("t.cumb") - F.col("t.c")).cast("long").alias("base"),
            )
        )
        within = (
            losses.select(
                F.expr("loss_micro div 4096").alias("bk"), "loss_micro"
            )
            .join(F.broadcast(loc.filter(F.col("bk").isNotNull())), "bk")
            .repartition("alpha_ppm")
            .groupBy("alpha_ppm", "k_rank", "base", "loss_micro")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        cumw = within.select(
            "alpha_ppm",
            "k_rank",
            "loss_micro",
            (
                F.col("base")
                + F.sum("c").over(
                    Window.partitionBy("alpha_ppm")
                    .orderBy("loss_micro")
                    .rowsBetween(Window.unboundedPreceding, 0)
                )
            )
            .cast("long")
            .alias("cum"),
        )
        return (
            cumw.filter(F.col("cum") >= F.col("k_rank"))
            .groupBy("alpha_ppm", "k_rank")
            .agg(F.min("loss_micro").alias("threshold_micro"))
            .collect()
        )

    def lr_gradient_epoch_shape():
        # one full-batch GD epoch of q_train_quality_lr's exact shape over
        # the multiplied corpus: hashed-feature explode -> doc-partitioned
        # window logit with a 65-literal weight array -> integer sigmoid
        # err -> 65-row gradient aggregate. Linearity proves the per-epoch
        # cost is O(doc-bucket rows) data movement — the local wall is
        # driver-synchronized job floors, not the pass itself.
        from pyspark.sql import Window

        from pulsar_lunar_spark.operators.corpus import md5_int
        from pulsar_lunar_spark.operators.dedup import normalize_text

        words = F.filter(
            F.split(normalize_text(F.col("text")), " "),
            lambda x: F.length(x) > 0,
        )
        lab = docs.select(
            "doc_id",
            F.when(F.size(words) >= 56, 1).otherwise(0).cast("long").alias("y"),
            words.alias("__w"),
        )
        tok = lab.select("doc_id", "y", F.explode("__w").alias("__word")).select(
            "doc_id", "y", (md5_int(F.col("__word")) % 64).alias("b")
        )
        feats = tok.groupBy("doc_id", "y", "b").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        arr = F.array(*[F.lit((37 * i) % 201 - 100).cast("long") for i in range(65)])
        w_doc = Window.partitionBy("doc_id")
        lg = F.sum(
            F.element_at(arr, (F.col("b") + 1).cast("int")) * F.col("cnt")
        ).over(w_doc).cast("long")
        p = F.expr(
            "1000000000000L div (1000000L + cast(floor("
            "exp((0 - cast(least(greatest(lg, -13000000L), 13000000L)"
            " as double)) / 1000000.0) * 1000000 + 0.5) as long))"
        )
        return (
            feats.filter(F.col("doc_id") % 2 == 0)
            .select("doc_id", "y", "b", "cnt", lg.alias("lg"))
            .select("b", "cnt", (p - 1_000_000 * F.col("y")).alias("err"))
            .groupBy("b")
            .agg(F.sum(F.col("err") * F.col("cnt")).cast("long").alias("g"))
            .collect()
        )

    def max_dup_span_shape():
        # maximal-duplicate-span pipeline (q_max_dup_span): copies have
        # IDENTICAL text under disjoint doc_ids, so every span's doc-set
        # scales with mult and EVERY position ends up flagged — the
        # worst case for the flag join and the islands window. The probe
        # proves the gaps-and-islands form stays linear when the corpus
        # is wall-to-wall duplication.
        from pyspark.sql import Window

        from pulsar_lunar_spark.operators.dedup import normalize_text

        toks = docs.select(
            "doc_id",
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda w: F.length(w) > 0,
            ).alias("w"),
        ).filter(F.size("w") >= 8)
        spans = (
            toks.select(
                "doc_id",
                F.posexplode(
                    F.expr(
                        "transform(sequence(1, size(w) - 7),"
                        " i -> array_join(slice(w, i, 8), ' '))"
                    )
                ).alias("j", "span"),
            )
            .select("doc_id", (F.col("j") + 1).alias("pos"), "span")
            .repartition("span")
        )
        dup = (
            spans.groupBy("span", "doc_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("span")
            .agg(F.count(F.lit(1)).alias("nd"))
            .filter(F.col("nd") >= 2)
            .select("span")
        )
        flag = spans.join(dup, "span").select("doc_id", "pos")
        w_doc = Window.partitionBy("doc_id").orderBy("pos")
        runs = flag.select(
            "doc_id",
            (F.col("pos") - F.row_number().over(w_doc)).alias("grp"),
        )
        return (
            runs.groupBy("doc_id", "grp")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy()
            .agg(F.count(F.lit(1)), F.sum("n"))
            .collect()
        )

    def backoff_score_shape():
        # stupid-backoff eval scoring (q_stupid_backoff): copies share
        # identical text, so the trigram TYPE table (and the spool) stays
        # CONSTANT while the eval stream multiplies — the probe proves
        # the three keyed backoff joins scale with the stream, not the
        # model. Train on the unmultiplied table (the model is fixed);
        # multiply only the eval half.
        from pyspark.sql import Window

        from pulsar_lunar_spark.operators.dedup import normalize_text

        base = load_table(spark, sf_dir, "documents")
        words = F.split(normalize_text(F.col("text")), " ")

        def trigrams(df, with_doc):
            staged = df.select("doc_id", words.alias("__w")).filter(
                F.size("__w") >= 3
            )
            cols = ["doc_id"] if with_doc else []
            return staged.select(
                *cols,
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(__w) - 2),"
                        " i -> concat(element_at(__w, i), ' ',"
                        " element_at(__w, i + 1), ' ',"
                        " element_at(__w, i + 2)))"
                    )
                ).alias("t"),
            )

        cnt = (
            trigrams(base.filter(F.col("doc_id") % 2 == 0), False)
            .groupBy("t")
            .agg(F.count(F.lit(1)).cast("long").alias("c123"))
        )
        tri = cnt.select(
            "t",
            F.expr(
                "concat(split_part(t, ' ', 1), ' ', split_part(t, ' ', 2))"
            ).alias("b12"),
            "c123",
        ).select(
            "t",
            "c123",
            F.sum("c123")
            .over(Window.partitionBy("b12"))
            .cast("long")
            .alias("c12"),
        )
        ev = trigrams(
            multiply(base, ["doc_id"], mult).filter(F.col("doc_id") % 2 == 1),
            True,
        )
        s = ev.join(tri, "t", "left").select(
            "doc_id",
            F.coalesce(
                F.greatest(
                    F.expr("(1000000L * c123) div c12"),
                    F.lit(1).cast("long"),
                ),
                F.lit(1).cast("long"),
            ).alias("s_ppm"),
        )
        return (
            s.groupBy("doc_id")
            .agg(F.expr("sum(s_ppm) div count(1)").alias("m"))
            .groupBy()
            .agg(F.count(F.lit(1)), F.sum("m"))
            .collect()
        )

    # containment_dfcap LAST: its defensive clearCache() wipes EVERY
    # persisted plan in the session, so any probe measured after it in
    # the same pass would re-time a cold build of whatever it had warmed
    # (each probe warms immediately before its measured rep, but a warm
    # rep that REUSES a cache filled by the warm call would be silently
    # cold-started). Last-in-pass makes the wipe unobservable.
    def band_postings_shape():
        # the (band_index, band_value) postings self-join pair-mass shape
        # shared by the media near-dup lanes (q_image_phash_dedup /
        # q_audio_fingerprint_dedup / q_video_neardup): 4 band postings
        # per item, planted 5-item clusters sharing all four values (the
        # realistic regime — near-dup cluster size is a data property,
        # bounded as the corpus grows, so pair mass stays O(items x
        # cluster)). The probe measures the join + distinct-pair
        # aggregate; the decode stages it follows are map-only.
        bands = docs.select(
            "doc_id", F.explode(F.expr("array(0, 1, 2, 3)")).alias("k")
        ).select(
            "doc_id",
            "k",
            ((F.col("doc_id") - F.col("doc_id") % 5) * 4 + F.col("k")).alias(
                "bv"
            ),
        )
        pairs = (
            bands.alias("a")
            .join(
                bands.alias("b"),
                (F.col("a.k") == F.col("b.k"))
                & (F.col("a.bv") == F.col("b.bv"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .distinct()
        )
        return pairs.groupBy().count().collect()

    def ingest_store_probe_shape():
        # the streaming-ingest marginal-batch question: ONE day's batch
        # (fixed size) probing a signature/bucket store that has grown
        # Nx. Store rows shift ids into disjoint ranges (multiply);
        # planted 5-item clusters as in band_postings; the batch is the
        # UNSHIFTED 1x slice, so its collision set stays constant while
        # the store scan grows — slope measures the probe's sensitivity
        # to store size (locally a flat scan; bucket-partitioned pruning
        # is the at-scale lever, SCALE.md ingest notes).
        batch = load_table(spark, sf_dir, "documents").select("doc_id")
        store = docs.select("doc_id")

        def bands_of(df):
            return df.select(
                "doc_id", F.explode(F.expr("array(0, 1, 2, 3)")).alias("k")
            ).select(
                "doc_id",
                "k",
                (
                    (F.col("doc_id") - F.col("doc_id") % 5) * 4 + F.col("k")
                ).alias("bv"),
            )

        pairs = (
            bands_of(batch).alias("a")
            .join(
                bands_of(store).alias("b"),
                (F.col("a.k") == F.col("b.k"))
                & (F.col("a.bv") == F.col("b.bv"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("id_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
            )
            .distinct()
        )
        return pairs.groupBy().count().collect()

    return {
        "q1_scan_agg": q1_shape,
        "fact_fact_join": join_agg_shape,
        "window_per_key": window_shape,
        "shingle_explode": shingle_shape,
        "dsir_importance": dsir_importance_shape,
        "dsir_importance_persist": dsir_importance_persist_shape,
        "gini_decimal": gini_decimal_shape,
        "group_cumsum_window": group_cumsum_window_shape,
        "group_cumsum_sharded": group_cumsum_sharded_shape,
        "cc_star_chain": cc_star_chain_shape,
        "blocked_gemm_pairs": blocked_gemm_shape,
        "dim_matmul": dim_matmul_shape,
        "triangle_adjacency": triangle_adjacency_shape,
        "stream_session_state": stream_session_state_shape,
        "stream_join_state": stream_join_state_shape,
        "max_dup_span_runs": max_dup_span_shape,
        "backoff_score_stream": backoff_score_shape,
        "containment_dfcap": containment_shape,
        "conformal_order_stat": conformal_order_stat_shape,
        "lr_gradient_epoch": lr_gradient_epoch_shape,
        "band_postings": band_postings_shape,
        "ingest_store_probe": ingest_store_probe_shape,
    }


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    spark = get_spark("pl-stress")
    spark.sparkContext.setLogLevel("ERROR")

    out = {"mult": mult, "probes": {}, "slopes": {}}
    base_rate: dict[str, float] = {}
    for m in (1, mult):
        ps = probes(spark, sf_dir, m)
        if only is not None:
            ps = {k: v for k, v in ps.items() if k in only}
        for name, fn in ps.items():
            fn()  # warm (codegen + python workers)
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            if m == 1:
                base_rate[name] = dt
                print(f"# 1x  {name}: {dt:.2f}s", file=sys.stderr)
            else:
                out["probes"][name] = {"sec": round(dt, 2)}
                # per-unit-of-data slowdown: 1.0 = perfectly linear
                slope = dt / (base_rate[name] * m) if base_rate[name] > 0 else None
                out["slopes"][name] = round(slope, 2) if slope else None
                print(
                    f"# {m}x {name}: {dt:.2f}s (slope {out['slopes'][name]})",
                    file=sys.stderr,
                )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
