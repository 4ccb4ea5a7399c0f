"""LLM-pipeline batch 15 (round 9, second wave): calibration and
partition-agreement statistics —

- split-conformal calibration (``q_conformal_threshold``): the
  distribution-free coverage guarantee a production classifier gate
  ships with — calibrate the (1-alpha) nonconformity quantile on one
  split, verify empirical coverage on the other, for alpha in
  {10%, 5%, 1%};
- Adjusted Rand Index (``q_partition_ari``): pair-counting agreement
  between the corpus's two natural partitions (lang vs source) — the
  chance-corrected counterpart of q_mutual_info, exact integer pair
  combinatorics;
- per-source unigram KL divergence (``q_source_kl``): KL(P_src ||
  P_corpus) in exact micro-nats — "how far does each source's token
  distribution sit from the corpus mix", the domain-distinctiveness
  score DoReMi-style reweighting and source-card reports read.

Determinism discipline (the llm13/llm14 rules): integer ppm/micro
BIGINT arithmetic, non-negative division numerators, LN over
exact-integer ratios, IEEE double expressions written in the SAME
literal order on both engines, total tiebreak orders everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators.dedup import normalize_text
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import ensure_parallelism, load_table

_NORM = "REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')"


# ---------------------------------------------------------------------------
# Split-conformal calibration thresholds + empirical coverage
# ---------------------------------------------------------------------------

_CONF_ALPHAS_PPM = (100_000, 50_000, 10_000)  # 10%, 5%, 1%
_CONF_BUCKET = 4096  # micro-nats per coarse order-statistic bucket


def _conformal_oracle() -> str:
    from pulsar_lunar_spark.queries.llm12 import _scorer_sql

    alphas = ", ".join(str(a) for a in _CONF_ALPHAS_PPM)
    return f"""
    WITH {_scorer_sql(4096, "m")},
    cal AS MATERIALIZED (
        SELECT loss_micro FROM m WHERE doc_id % 2 = 0
    ), ncal AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal
    ), vals AS MATERIALIZED (
        SELECT loss_micro, CAST(COUNT(*) AS BIGINT) AS c FROM cal GROUP BY 1
    ), cum AS (
        SELECT loss_micro,
               CAST(SUM(c) OVER (ORDER BY loss_micro
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM vals
    ), ks AS (
        SELECT CAST(a.alpha AS BIGINT) AS alpha_ppm,
               CAST(((n.n_cal + 1) * (1000000 - a.alpha) + 999999) // 1000000
                    AS BIGINT) AS k_rank
        FROM (SELECT UNNEST([{alphas}]) AS alpha) a CROSS JOIN ncal n
    ), thr AS (
        -- LEFT join + int64-max sentinel: when k_rank exceeds n_cal
        -- (tiny calibration splits at strict alphas) the conformal
        -- convention is threshold = +infinity (cover everything), not a
        -- silently dropped alpha row
        SELECT ks.alpha_ppm, ks.k_rank,
               CAST(COALESCE(MIN(cum.loss_micro), 9223372036854775807)
                    AS BIGINT) AS threshold_micro
        FROM ks LEFT JOIN cum ON cum.cum >= ks.k_rank
        GROUP BY ks.alpha_ppm, ks.k_rank
    ), ev AS (
        SELECT loss_micro FROM m WHERE doc_id % 2 = 1
    )
    SELECT t.alpha_ppm, t.k_rank, t.threshold_micro,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN ev.loss_micro <= t.threshold_micro
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST((1000000 * SUM(CASE WHEN ev.loss_micro <= t.threshold_micro
                                    THEN 1 ELSE 0 END)) // COUNT(*)
                AS BIGINT) AS coverage_ppm
    FROM thr t CROSS JOIN ev
    GROUP BY t.alpha_ppm, t.k_rank, t.threshold_micro
    ORDER BY alpha_ppm
    """


@register(
    "q_conformal_threshold",
    oracle=_conformal_oracle(),
    tags=("llm", "calibration", "conformal", "eval"),
)
def q_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration: the classifier's per-document
    cross-entropy loss (the q_rho_select strong scorer — already proven
    engine-exact in micro-nats) is the nonconformity score; the
    calibration split (even doc_ids) yields, for each alpha in
    {10%, 5%, 1%}, the k = ceil((n+1)(1-alpha))-th smallest loss as the
    conformal threshold, and the eval split (odd doc_ids) reports
    empirical coverage — the distribution-free guarantee (coverage >=
    1-alpha in expectation) a production gate is shipped with.

    Plan: ONE corpus scan scores every document (broadcast 4096-row
    weight join); the k-th-smallest order statistic is a TWO-PASS
    BUCKETED search (the r9-verdict hardening): pass 1 aggregates the
    calibration losses into fixed-width coarse buckets (loss div 4096 —
    at most quantization-range/4096 ~ a few thousand rows at ANY corpus
    size, a real dimension-table bound, unlike the raw distinct-loss
    table whose only bound was the ~1e7 micro-nat range), cumulates that
    BOUNDED histogram, and locates each alpha's target bucket; pass 2
    re-scans only the located buckets (an equi-join that pushes down to
    the bucket column) and cumulates WITHIN them, partitioned by alpha —
    every window here runs over a bounded or partitioned table, and the
    only theta-join probes the few-thousand-row histogram, not the full
    distinct-loss table. Thresholds are a 3-row frame broadcast onto the
    eval half for the coverage aggregate. Output is hash-identical to
    the direct cumulative form (same k-th smallest, duplicates and all).
    The scorer body is q_rho_select's strong half (the shared
    scored_docs/ce_loss_micro pair, mirroring the shared _scorer_sql
    oracle builder)."""
    from pulsar_lunar_spark.session import shared_spool

    # The loss table feeds the calibration quantile AND the eval
    # coverage, and is deterministic per dataset — a process-shared spool
    # (doc-level rows, linear at any scale) pays the scoring scan once
    # per process instead of once per consumer per call (the kn_bigram
    # _model precedent: score once, calibrate/evaluate many).
    def loss_build() -> DataFrame:
        from pulsar_lunar_spark.queries.llm12 import ce_loss_micro, scored_docs

        return scored_docs(spark, sf_dir).select(
            "doc_id", ce_loss_micro("logit_strong").alias("loss_micro")
        )

    losses = shared_spool(spark, sf_dir, "pulsar_lunar_conf_loss", loss_build)
    cal = losses.filter(F.col("doc_id") % 2 == 0)
    n_cal = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    from pyspark.sql.window import Window

    ks = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(a) for a in _CONF_ALPHAS_PPM])
            ).alias("alpha_ppm")
        )
        .crossJoin(F.broadcast(n_cal))
        .select(
            F.col("alpha_ppm").cast("long").alias("alpha_ppm"),
            F.expr(
                "((n_cal + 1) * (1000000 - alpha_ppm) + 999999) div 1000000"
            )
            .cast("long")
            .alias("k_rank"),
        )
    )
    # Pass 1: bounded coarse histogram + bucket location. The cumulative
    # window is unpartitioned but runs over <= range/4096 rows — a true
    # dimension bound independent of corpus size.
    hist = cal.groupBy(
        F.expr(f"loss_micro div {_CONF_BUCKET}").alias("bk")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    cumh = hist.select(
        "bk",
        "c",
        F.sum("c")
        .over(Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cumb"),
    )
    # min(struct) picks the lowest qualifying bucket and carries its
    # cumulative alongside; base = docs strictly below the bucket.
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
    # Pass 2: refine inside the located buckets only (equi-join on bk —
    # pushes down; <= 4096 distinct micro values per bucket, cumulated
    # per alpha partition).
    # One alpha-keyed exchange serves the whole refine chain: hash
    # partitioning on the SUBSET (alpha_ppm) satisfies the groupBy's
    # superset clustering, the alpha-partitioned cumulative window, AND
    # the found-aggregate below (the r3 subset-partitioning rule), so
    # none of them adds a shuffle.
    within = (
        cal.select(
            F.expr(f"loss_micro div {_CONF_BUCKET}").alias("bk"), "loss_micro"
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
    found = (
        cumw.filter(F.col("cum") >= F.col("k_rank"))
        .groupBy("alpha_ppm", "k_rank")
        .agg(F.min("loss_micro").cast("long").alias("found_micro"))
    )
    # LEFT join + int64-max sentinel: when k_rank > n_cal no bucket
    # qualifies and the conformal convention is threshold = +infinity
    # (cover everything), never a silently dropped alpha row.
    thr = ks.join(F.broadcast(found), ["alpha_ppm", "k_rank"], "left").select(
        "alpha_ppm",
        "k_rank",
        F.coalesce(F.col("found_micro"), F.lit(9223372036854775807))
        .cast("long")
        .alias("threshold_micro"),
    )
    ev = losses.filter(F.col("doc_id") % 2 == 1)
    return (
        ev.crossJoin(F.broadcast(thr))
        .groupBy("alpha_ppm", "k_rank", "threshold_micro")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(
                F.when(F.col("loss_micro") <= F.col("threshold_micro"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "alpha_ppm",
            "k_rank",
            "threshold_micro",
            "n_eval",
            "n_covered",
            F.expr("(1000000L * n_covered) div n_eval")
            .cast("long")
            .alias("coverage_ppm"),
        )
        .orderBy("alpha_ppm")
    )


# ---------------------------------------------------------------------------
# Adjusted Rand Index between the lang and source partitions
# ---------------------------------------------------------------------------


def _ari_oracle() -> str:
    return """
    WITH cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2
    ), marked AS (
        SELECT n,
               CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS a,
               CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS b,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY source) AS rl,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY lang) AS rs
        FROM cells
    ), sums AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS sij,
               CAST(SUM(CASE WHEN rl = 1 THEN a * (a - 1) // 2 ELSE 0 END)
                    AS BIGINT) AS sa,
               CAST(SUM(CASE WHEN rs = 1 THEN b * (b - 1) // 2 ELSE 0 END)
                    AS BIGINT) AS sb
        FROM marked
    )
    SELECT n_docs, n_cells, sij, sa, sb,
           CAST(FLOOR(1000000 * (CAST(sij AS DOUBLE)
                    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
                      / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1) / 2))
                / ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2
                    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
                      / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1) / 2))
                + 0.5) AS BIGINT) AS ari_ppm
    FROM sums
    """


@register(
    "q_partition_ari",
    oracle=_ari_oracle(),
    tags=("llm", "clustering", "ari", "eval"),
)
def q_partition_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between the corpus's two natural partitions
    (lang vs source): the pair-counting, chance-corrected agreement
    statistic — the counterpart of q_mutual_info's information-theoretic
    view, and the standard external eval for any clustering (swap either
    side for k-means cells or LSH dup-cluster labels at no plan change).
    ARI ~ 0 means the partitions are independent; 1 means identical.

    Exactness: all four pair sums (within-cell, per-lang, per-source,
    total) are exact BIGINT combinatorics off ONE (lang, source) cell
    aggregate — marginals ride keyed windows over the cell table and
    each marginal's C(a,2) is counted once via a rank-1 guard. The final
    ARI is IEEE double arithmetic over those exact integers with the
    expression written in the SAME literal order on both engines, then
    floored to ppm. Plan: one scan, one cell aggregate (langs x sources
    bounded), keyed windows, a 1-row reduce."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    from pyspark.sql.window import Window

    marked = cells.select(
        "n",
        F.sum("n").over(Window.partitionBy("lang")).cast("long").alias("a"),
        F.sum("n").over(Window.partitionBy("source")).cast("long").alias("b"),
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("source"))
        .alias("rl"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy("lang"))
        .alias("rs"),
    )
    sums = marked.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias("sij"),
        F.sum(F.expr("CASE WHEN rl = 1 THEN a * (a - 1) div 2 ELSE 0 END"))
        .cast("long")
        .alias("sa"),
        F.sum(F.expr("CASE WHEN rs = 1 THEN b * (b - 1) div 2 ELSE 0 END"))
        .cast("long")
        .alias("sb"),
    )
    return sums.select(
        "n_docs",
        "n_cells",
        "sij",
        "sa",
        "sb",
        F.expr(
            "CAST(FLOOR(1000000 * (CAST(sij AS DOUBLE)"
            "     - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)"
            "       / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1) / 2))"
            " / ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2"
            "     - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)"
            "       / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1) / 2))"
            " + 0.5) AS BIGINT)"
        ).alias("ari_ppm"),
    )


# ---------------------------------------------------------------------------
# Per-source unigram KL divergence vs the corpus distribution
# ---------------------------------------------------------------------------


def _kl_oracle() -> str:
    return f"""
    WITH tok AS (
        SELECT source, UNNEST(STRING_SPLIT({_NORM}, ' ')) AS word
        FROM documents
    ), cells AS MATERIALIZED (
        SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells
    ), marked AS (
        SELECT source, c,
               CAST(SUM(c) OVER (PARTITION BY word) AS BIGINT) AS cw,
               CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS ns
        FROM cells
    ), contrib AS (
        SELECT source, ns,
               GREATEST((1000000 * c) // ns, 1) AS ps_ppm,
               GREATEST((1000000 * cw) // tot.n, 1) AS pc_ppm
        FROM marked CROSS JOIN tot
    )
    SELECT source,
           CAST(MIN(ns) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_cells,
           CAST(SUM(CAST(FLOOR(ps_ppm
                    * LN(CAST(ps_ppm AS DOUBLE) / CAST(pc_ppm AS DOUBLE))
                    + 0.5) AS BIGINT)) AS BIGINT) AS kl_micro
    FROM contrib GROUP BY source ORDER BY source
    """


@register(
    "q_source_kl",
    oracle=_kl_oracle(),
    tags=("llm", "mixture", "kl-divergence", "dataset-card"),
)
def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence KL(P_src || P_corpus) in exact
    micro-nats: how far each source's token distribution sits from the
    corpus mix — the domain-distinctiveness statistic a DoReMi-style
    reweighter or a dataset card reports next to the source's size.
    No smoothing is needed: the sum runs over OBSERVED (source, word)
    cells only (unobserved words have p_src = 0 and contribute exactly
    0), so the statistic is the exact KL of the empirical distributions
    at ppm quantization.

    Exactness: ps/pc are floor-quantized ppm integers (clamped >= 1 so
    LN never sees 0); each cell's contribution floors ONCE to
    micro-nats (ps_ppm * ln(ps/pc) — already 1e6-scaled); per-source
    sums are integer, order-free. Plan: one scan into the (source,
    word) cell aggregate, SPOOLED once (the corpus total N and the
    windowed marginals are two consumers — the llm14 q_stupid_backoff
    lesson); word and source marginals ride KEYED windows over the
    V x S-bounded cell table; N is a 1-row broadcast scalar frame,
    never an unpartitioned window."""
    from pulsar_lunar_spark.session import scratch_dir

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    raw_cells = (
        d.select(
            "source",
            F.explode(F.split(normalize_text(F.col("text")), " ")).alias(
                "word"
            ),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    slot = scratch_dir("pl_kl_cells", sf_dir)
    raw_cells.write.mode("overwrite").parquet(slot)
    cells = spark.read.parquet(slot)
    tot = cells.agg(F.sum("c").cast("long").alias("n"))
    from pyspark.sql.window import Window

    marked = cells.select(
        "source",
        "c",
        F.sum("c").over(Window.partitionBy("word")).cast("long").alias("cw"),
        F.sum("c").over(Window.partitionBy("source")).cast("long").alias("ns"),
    )
    contrib = marked.crossJoin(F.broadcast(tot)).select(
        "source",
        "ns",
        F.greatest(F.expr("(1000000L * c) div ns"), F.lit(1).cast("long"))
        .alias("ps_ppm"),
        F.greatest(F.expr("(1000000L * cw) div n"), F.lit(1).cast("long"))
        .alias("pc_ppm"),
    )
    return (
        contrib.groupBy("source")
        .agg(
            F.min("ns").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab_cells"),
            F.sum(
                F.floor(
                    F.col("ps_ppm")
                    * F.log(
                        F.col("ps_ppm").cast("double")
                        / F.col("pc_ppm").cast("double")
                    )
                    + 0.5
                ).cast("long")
            )
            .cast("long")
            .alias("kl_micro"),
        )
        .orderBy("source")
    )
