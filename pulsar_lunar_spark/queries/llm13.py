"""LLM-pipeline batch 13 (round 8, third wave): privacy, alignment
mining, and corpus-statistics asks —

- k-anonymity audit (``q_k_anonymity``): quasi-identifier group-size
  risk sweep over the customer table — the table a privacy reviewer
  reads before a dataset leaves the building;
- DP noisy top-k plumbing (``q_dp_noisy_topk``): report-noisy-max over
  token counts with discrete-Laplace noise drawn through a
  deterministic md5 inverse-CDF (the q_bootstrap_ci Poisson-threshold
  discipline) — the MECHANISM's distributed plumbing, testable
  end-to-end; a production run swaps the md5 uniform for a real RNG
  stream (deterministic noise is NOT differential privacy);
- margin-based bitext mining (``q_bitext_mining``): CCMatrix/LASER-style
  ratio-margin scoring of best cross-side embedding matches — the
  aligned-pair miner for parallel-corpus construction;
- cluster-quality silhouette (``q_silhouette``): centroid-based
  simplified silhouette per label over the embeddings table — the
  go/no-go statistic before trusting cluster labels for SemDeDup cells
  or topic balancing;
- Kneser-Ney bigram LM (``q_kneser_ney``): interpolated KN-smoothed
  bigram probabilities (absolute discount 3/4) — the classical LM
  quality-scoring backbone, exact ppm integers;
- bigram-LM document surprisal (``q_kn_doc_surprisal``): the KN model
  applied as a self-normalizing per-source quality filter — the
  bigram-order upgrade of q_perplexity_filter's unigram gate;
- Zipf law fit (``q_zipf_fit``): OLS slope of the log-log
  rank-frequency curve over the top-100 tokens — the corpus-health
  check that catches template explosions (slope drifts far from -1);
- PCA power iteration (``q_pca_power``): top principal direction of the
  embedding corpus via fixed-point power iteration, fully relational —
  the iterative linear-algebra member of the bounded-loop family;
- mutual information (``q_mutual_info``): source↔language MI in exact
  micro-nats — does a cheap metadata field predict an expensive label;
- character entropy (``q_char_entropy``): per-document char-distribution
  Shannon entropy per source — the gibberish detector's core signal;
- skyline (``q_skyline``): the Pareto front (min price, max size) in the
  distributed bucket form — no global sort, no self-join;
- label propagation (``q_label_propagation``): semi-supervised weighted
  majority-vote label spreading with clamped seeds over the trade graph;
- HITS (``q_hits_scores``): hubs & authorities over the directed trade
  graph — three mutual-reinforcement rounds in max-normalized exact ppm.

Determinism discipline: every statistic is integer ppm/milli BIGINT
arithmetic with sign-separated division (Spark div truncates toward
zero, DuckDB // floors — they agree only on non-negative numerators);
embedding elements are floor-quantized to exact micro integers BEFORE
any sum (the q_label_centroids precedent), so dot products and squared
distances are exact BIGINT and SQRT/LN over exact integers is the
IEEE-754 correctly-rounded double both engines share; the one uniform
draw (DP noise) is an md5 integer against CASE thresholds embedded
literal-for-literal in both engines from one Python computation.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators.dedup import normalize_text
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import ensure_parallelism, load_table, local_rows

_NORM = "REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')"


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

_KANON_KS = (2, 5, 10, 20)


def _kanon_oracle() -> str:
    per_k = ", ".join(
        f"CAST(SUM(CASE WHEN s < {k} THEN s ELSE 0 END) AS BIGINT) AS rk{k}, "
        f"CAST(SUM(CASE WHEN s < {k} THEN 1 ELSE 0 END) AS BIGINT) AS gk{k}"
        for k in _KANON_KS
    )
    unions = " UNION ALL ".join(
        f"SELECT {k} AS k, rk{k} AS rows_at_risk, gk{k} AS groups_at_risk,"
        f" total FROM agg"
        for k in _KANON_KS
    )
    return f"""
    WITH g AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_kilo,
               CAST(COUNT(*) AS BIGINT) AS s
        FROM customer GROUP BY 1, 2, 3
    ), agg AS (
        SELECT CAST(SUM(s) AS BIGINT) AS total, {per_k} FROM g
    )
    SELECT CAST(k AS BIGINT) AS k, rows_at_risk, groups_at_risk,
           CAST((1000000 * (total - rows_at_risk)) // total AS BIGINT)
               AS safe_ppm,
           total AS total_rows
    FROM ({unions}) ORDER BY k
    """


@register(
    "q_k_anonymity",
    oracle=_kanon_oracle(),
    tags=("llm", "privacy", "k-anonymity", "audit"),
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk sweep: group customers by the quasi-identifier
    triple (market segment, nation, account-balance kilo-bucket), then
    for k in {2, 5, 10, 20} report how many rows sit in groups smaller
    than k (re-identifiable at that k), how many groups those are, and
    the surviving-share in exact ppm. This is the privacy reviewer's
    headline table: a dataset is k-anonymous at level k exactly when
    rows_at_risk = 0.

    All-integer; numerators are non-negative by construction so DIV is
    engine-portable without sign separation. Plan: one scan, one
    quasi-identifier hash aggregate (the only shuffle — keyed on the QI
    triple, AQE handles segment skew), one single-row conditional-sum
    aggregate over the group table, then a 4-row stack — no joins. At
    100 TB the group table is bounded by distinct QI combinations, the
    natural compression of the audit."""
    cust = ensure_parallelism(load_table(spark, sf_dir, "customer"))
    g = cust.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_kilo"),
    ).agg(F.count(F.lit(1)).cast("long").alias("s"))
    aggs = [F.sum("s").cast("long").alias("total")]
    for k in _KANON_KS:
        aggs.append(
            F.sum(F.when(F.col("s") < k, F.col("s")).otherwise(0))
            .cast("long")
            .alias(f"rk{k}")
        )
        aggs.append(
            F.sum(F.when(F.col("s") < k, 1).otherwise(0))
            .cast("long")
            .alias(f"gk{k}")
        )
    one = g.agg(*aggs)
    stack_args = ", ".join(
        f"{k}L, rk{k}, gk{k}" for k in _KANON_KS
    )
    stacked = one.select(
        "total",
        F.expr(
            f"stack({len(_KANON_KS)}, {stack_args})"
            " AS (k, rows_at_risk, groups_at_risk)"
        ),
    )
    return stacked.select(
        "k",
        "rows_at_risk",
        "groups_at_risk",
        F.expr("(1000000L * (total - rows_at_risk)) div total").alias(
            "safe_ppm"
        ),
        F.col("total").alias("total_rows"),
    ).orderBy("k")


# ---------------------------------------------------------------------------
# DP noisy top-k (report-noisy-max plumbing, deterministic harness)
# ---------------------------------------------------------------------------

_DP_B = 2.0  # discrete-Laplace scale (in count units)
_DP_SUPPORT = 8  # truncate noise to |z| <= 8
_DP_TOPK = 10


def _dp_noise_case(u_expr: str) -> str:
    """CASE mapping a uniform integer u in [0, 1e6) to a truncated
    discrete-Laplace draw via inverse CDF. Support is ordered
    [0, +1, -1, +2, -2, ...] so the highest-probability outcomes take
    the low-u range; thresholds are exact integer literals computed once
    here and shared literal-for-literal by Spark and DuckDB."""
    support = [0]
    for k in range(1, _DP_SUPPORT + 1):
        support.extend((k, -k))
    weights = [math.exp(-abs(z) / _DP_B) for z in support]
    total = sum(weights)
    branches = []
    cum = 0.0
    for z in support[:-1]:
        cum += math.exp(-abs(z) / _DP_B) / total
        branches.append(f"WHEN {u_expr} < {int(cum * 1_000_000)} THEN {z}")
    return (
        "CASE " + " ".join(branches) + f" ELSE {support[-1]} END"
    )


def _dp_oracle() -> str:
    u = "CAST('0x' || SUBSTR(MD5('dp|' || token), 1, 6) AS BIGINT) % 1000000"
    return f"""
    WITH t AS (
        SELECT UNNEST(STRING_SPLIT({_NORM}, ' ')) AS token FROM documents
    ), c AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM t GROUP BY 1
    ), n AS (
        SELECT token, true_count,
               CAST({_dp_noise_case(u)} AS BIGINT) AS noise
        FROM c
    ), r AS (
        SELECT token, true_count, noise, true_count + noise AS noisy_count,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY true_count + noise DESC, token) AS BIGINT) AS rank
        FROM n
    )
    SELECT rank, token, true_count, noise, noisy_count
    FROM r WHERE rank <= {_DP_TOPK} ORDER BY rank
    """


@register(
    "q_dp_noisy_topk",
    oracle=_dp_oracle(),
    tags=("llm", "privacy", "dp", "noisy-topk"),
)
def q_dp_noisy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report-noisy-max top-k over corpus token counts: each token's
    exact count gets a truncated discrete-Laplace perturbation (scale
    b=2, |z| <= 8) drawn through an inverse CDF, and the top-10 by NOISY
    count is released alongside the true counts for audit. This is the
    distributed PLUMBING of the DP release — exact count aggregate,
    per-key noise, noisy re-rank — made deterministic for testing by
    sourcing the uniform from md5(token): a production release swaps
    that one expression for a real RNG stream (deterministic noise is
    NOT differential privacy, and this docstring is the loud label).

    The inverse-CDF thresholds are exact integer literals computed once
    in Python and embedded in BOTH engines' CASE (the q_bootstrap_ci
    Poisson discipline) — no transcendentals at query time. Plan: one
    scan, one explode riding the scan, one token hash aggregate (the
    only data-bearing shuffle), then a 10-row top-k; at 100 TB the
    aggregate output is vocabulary-bounded."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("token")
    )
    c = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    u = (
        "CAST(conv(substring(md5(concat('dp|', token)), 1, 6), 16, 10)"
        " AS BIGINT) % 1000000"
    )
    n = c.select(
        "token",
        "true_count",
        F.expr(f"CAST({_dp_noise_case(u)} AS BIGINT)").alias("noise"),
    ).select(
        "token",
        "true_count",
        "noise",
        (F.col("true_count") + F.col("noise")).alias("noisy_count"),
    )
    from pyspark.sql.window import Window

    # llm8 top_rank shape (r8 VERDICT): orderBy().limit() rides
    # TakeOrderedAndProject, then the rank window runs over the bounded
    # _DP_TOPK-row head instead of the unbounded vocabulary table.
    top = n.orderBy(F.desc("noisy_count"), F.asc("token")).limit(_DP_TOPK)
    w = Window.orderBy(F.desc("noisy_count"), F.asc("token"))
    return (
        top.select(
            F.row_number().over(w).cast("long").alias("rank"),
            "token",
            "true_count",
            "noise",
            "noisy_count",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Margin-based bitext mining (CCMatrix/LASER ratio margin)
# ---------------------------------------------------------------------------

_BT_ANCHOR_CAP = 32  # anchors: even vec_ids below this (declared batch)
_BT_K = 4  # margin denominator: mean of top-4 neighbours each side


def _bitext_oracle() -> str:
    return f"""
    WITH q AS (
        SELECT vec_id,
               LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                              x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT))
                   AS qv
        FROM embeddings
    ), a AS (
        SELECT vec_id AS anchor_id, qv AS av FROM q
        WHERE vec_id % 2 = 0 AND vec_id < {_BT_ANCHOR_CAP}
    ), b AS (
        SELECT vec_id AS cand_id, qv AS bv FROM q WHERE vec_id % 2 = 1
    ), sims AS (
        SELECT a.anchor_id, b.cand_id,
               CAST(FLOOR((LIST_INNER_PRODUCT(a.av, b.bv)
                    / (SQRT(LIST_INNER_PRODUCT(a.av, a.av))
                       * SQRT(LIST_INNER_PRODUCT(b.bv, b.bv))))
                    * 1000000 + 0.5) AS BIGINT) AS sim_micro
        FROM a CROSS JOIN b
    ), ra AS (
        SELECT anchor_id, cand_id, sim_micro,
               ROW_NUMBER() OVER (PARTITION BY anchor_id
                                  ORDER BY sim_micro DESC, cand_id) AS rna
        FROM sims
    ), ta AS (
        SELECT anchor_id,
               CAST(SUM(CASE WHEN rna <= {_BT_K} THEN sim_micro ELSE 0 END)
                    AS BIGINT) AS top4_anchor_sum
        FROM ra GROUP BY 1
    ), rb AS (
        SELECT anchor_id, cand_id, sim_micro,
               ROW_NUMBER() OVER (PARTITION BY cand_id
                                  ORDER BY sim_micro DESC, anchor_id) AS rnb
        FROM sims
    ), tb AS (
        SELECT cand_id,
               CAST(SUM(CASE WHEN rnb <= {_BT_K} THEN sim_micro ELSE 0 END)
                    AS BIGINT) AS top4_cand_sum
        FROM rb GROUP BY 1
    ), best AS (
        SELECT anchor_id, cand_id, sim_micro FROM ra WHERE rna = 1
    )
    SELECT best.anchor_id, best.cand_id, best.sim_micro,
           ta.top4_anchor_sum, tb.top4_cand_sum,
           CASE WHEN best.sim_micro >= 0 THEN
               CAST((8000000 * best.sim_micro)
                    // GREATEST(ta.top4_anchor_sum + tb.top4_cand_sum, 1)
                    AS BIGINT)
           ELSE
               -CAST((8000000 * (-best.sim_micro))
                     // GREATEST(ta.top4_anchor_sum + tb.top4_cand_sum, 1)
                     AS BIGINT)
           END AS margin_ppm
    FROM best
    JOIN ta USING (anchor_id) JOIN tb USING (cand_id)
    ORDER BY anchor_id
    """


def _bitext_margin_frame(
    spark: SparkSession, sf_dir: str, keep_rn: int
) -> DataFrame:
    """Shared CCMatrix margin pipeline: per-anchor top-``keep_rn`` cosine
    candidates with ratio margins. Returns (anchor_id, cand_id, sim_micro,
    rna, top4_anchor_sum, top4_cand_sum, margin_ppm). q_bitext_mining
    consumes keep_rn=1 (the best match per anchor); llm14's
    q_bitext_precision consumes keep_rn=_BT_K for the precision@k eval."""
    emb = load_table(spark, sf_dir, "embeddings")
    micro = F.expr(
        "transform(embedding, x ->"
        " CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
    )
    q = emb.select("vec_id", micro.alias("qv"))
    a = q.filter(
        (F.col("vec_id") % 2 == 0) & (F.col("vec_id") < _BT_ANCHOR_CAP)
    ).select(F.col("vec_id").alias("anchor_id"), F.col("qv").alias("av"))
    b = q.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("cand_id"), F.col("qv").alias("bv")
    )
    # Anchor side: ONE frame carrying both the exploded elements and the
    # anchor norm (16 x dim rows, broadcast) — na is constant per anchor
    # so it rides the group key instead of costing a second scan + join.
    a_long = a.select(
        "anchor_id",
        F.aggregate(
            F.expr("transform(av, v -> v * v)"),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("na"),
        F.posexplode("av").alias("pos", "aq"),
    )
    b_long = b.select(
        "cand_id",
        F.aggregate(
            F.expr("transform(bv, v -> v * v)"),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("nb"),
        F.posexplode("bv").alias("pos", "xq"),
    )
    sims = (
        b_long.join(F.broadcast(a_long), "pos")
        .groupBy("cand_id", "anchor_id", "nb", "na")
        .agg(F.sum(F.col("xq") * F.col("aq")).alias("dot"))
        .select(
            "anchor_id",
            "cand_id",
            F.floor(
                (
                    F.col("dot").cast("double")
                    / (F.sqrt(F.col("na").cast("double"))
                       * F.sqrt(F.col("nb").cast("double")))
                )
                * 1_000_000
                + 0.5
            )
            .cast("long")
            .alias("sim_micro"),
        )
    )
    from pyspark.sql.window import Window

    # Both per-side statistics ride WINDOW aggregates over the rank's own
    # partition (not groupBy + join-back), so the sims pipeline executes
    # exactly once: one exchange per side, no re-scan.
    wa = Window.partitionBy("anchor_id").orderBy(
        F.desc("sim_micro"), F.asc("cand_id")
    )
    wa_all = Window.partitionBy("anchor_id")
    wb = Window.partitionBy("cand_id").orderBy(
        F.desc("sim_micro"), F.asc("anchor_id")
    )
    wb_all = Window.partitionBy("cand_id")
    ranked = (
        sims.withColumn("rna", F.row_number().over(wa))
        .withColumn(
            "top4_anchor_sum",
            F.sum(
                F.when(F.col("rna") <= _BT_K, F.col("sim_micro")).otherwise(0)
            )
            .over(wa_all)
            .cast("long"),
        )
        .withColumn("rnb", F.row_number().over(wb))
        .withColumn(
            "top4_cand_sum",
            F.sum(
                F.when(F.col("rnb") <= _BT_K, F.col("sim_micro")).otherwise(0)
            )
            .over(wb_all)
            .cast("long"),
        )
    )
    joined = ranked.filter(F.col("rna") <= keep_rn)
    margin = F.when(
        F.col("sim_micro") >= 0,
        F.expr(
            "(8000000L * sim_micro)"
            " div GREATEST(top4_anchor_sum + top4_cand_sum, 1L)"
        ),
    ).otherwise(
        -F.expr(
            "(8000000L * (-sim_micro))"
            " div GREATEST(top4_anchor_sum + top4_cand_sum, 1L)"
        )
    )
    return joined.select(
        "anchor_id",
        "cand_id",
        "sim_micro",
        "rna",
        "top4_anchor_sum",
        "top4_cand_sum",
        margin.cast("long").alias("margin_ppm"),
    )


@register(
    "q_bitext_mining",
    oracle=_bitext_oracle(),
    tags=("llm", "embedding", "bitext", "margin", "alignment"),
)
def q_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (the CCMatrix/LASER ratio-margin
    criterion): for each of 16 declared anchor vectors (even vec_ids —
    "language A"), the best cosine match among odd vec_ids ("language
    B"), scored by margin = 2*cos(a,b) / (mean top-4 cos of a + mean
    top-4 cos of b). Raw cosine rewards hubs — vectors close to
    everything; the margin denominator normalizes by each side's local
    neighbourhood density, which is what makes mined pairs precise
    enough to train on.

    Exactness: elements are floor-quantized to micro integers BEFORE the
    dot product, so dots and norms are exact BIGINT; SQRT over exact
    integers is correctly-rounded IEEE on both engines, and the margin is
    sign-separated integer DIV over the micro-rounded sims. Plan: the
    similarity matrix is a sparse-dense matmul expressed relationally —
    candidates explode by dimension and broadcast-join the 1024-row
    anchor-element table on pos (anchor norms ride the group key, no
    second scan), one (cand, anchor) hash aggregate — never a crossJoin;
    both margin denominators are WINDOW aggregates over the rank's own
    partition, so the sims pipeline executes exactly once (2 FileScans /
    4 exchanges total, plan-budget-locked). At 100 TB the anchor batch
    is the declared bounded dimension, so every stage is
    O(candidates * anchors) with a broadcast dim table. The pipeline
    body lives in _bitext_margin_frame (round-9 factoring, shared with
    llm14's q_bitext_precision); keep_rn=1 keeps this query's plan the
    rna-filtered shape it was confirmed with."""
    return (
        _bitext_margin_frame(spark, sf_dir, 1)
        .drop("rna")
        .orderBy("anchor_id")
    )


# ---------------------------------------------------------------------------
# Centroid-based simplified silhouette
# ---------------------------------------------------------------------------


def _silhouette_oracle() -> str:
    return """
    WITH raw AS (
        SELECT vec_id, label,
               UNNEST(CAST(embedding AS DOUBLE[])) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS pos
        FROM embeddings
    ), pts AS (
        SELECT vec_id, label, pos,
               CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT) AS xq
        FROM raw
    ), cent AS (
        SELECT label AS clabel, pos,
               CASE WHEN SUM(xq) >= 0
                    THEN CAST(SUM(xq) // COUNT(*) AS BIGINT)
                    ELSE -CAST((-SUM(xq)) // COUNT(*) AS BIGINT)
               END AS cq
        FROM pts GROUP BY 1, 2
    ), d2 AS (
        SELECT p.vec_id, p.label, c.clabel,
               CAST(SUM((p.xq - c.cq) * (p.xq - c.cq)) AS BIGINT) AS dsq
        FROM pts p JOIN cent c USING (pos) GROUP BY 1, 2, 3
    ), dd AS (
        SELECT vec_id, label, clabel,
               CAST(FLOOR(SQRT(CAST(dsq AS DOUBLE)) + 0.5) AS BIGINT) AS dm
        FROM d2
    ), ab AS (
        SELECT vec_id, label,
               MIN(CASE WHEN clabel = label THEN dm END) AS a,
               MIN(CASE WHEN clabel <> label THEN dm END) AS b
        FROM dd GROUP BY 1, 2
    ), s AS (
        SELECT label,
               CASE WHEN b >= a
                    THEN CAST((1000 * (b - a))
                              // GREATEST(GREATEST(a, b), 1) AS BIGINT)
                    ELSE -CAST((1000 * (a - b))
                               // GREATEST(GREATEST(a, b), 1) AS BIGINT)
               END AS s_milli
        FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
           CASE WHEN SUM(s_milli) >= 0
                THEN CAST(SUM(s_milli) // COUNT(*) AS BIGINT)
                ELSE -CAST((-SUM(s_milli)) // COUNT(*) AS BIGINT)
           END AS mean_sil_milli,
           CAST(SUM(CASE WHEN s_milli < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative
    FROM s GROUP BY label ORDER BY label
    """


@register(
    "q_silhouette",
    oracle=_silhouette_oracle(),
    tags=("llm", "embedding", "clustering", "silhouette", "quality"),
)
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based simplified silhouette per label: for every vector,
    a = distance to its own label centroid and b = distance to the
    nearest OTHER centroid; s = (b - a) / max(a, b) in exact milli
    units, reported as the per-label mean plus the count of negative-s
    points (vectors closer to a foreign centroid than their own — the
    mislabel signal). This is the go/no-go check before label clusters
    are trusted for SemDeDup cells, topic balancing, or stratified
    splits.

    Exactness: elements floor-quantize to micro integers before the
    exact BIGINT centroid sums; the centroid itself is a sign-separated
    truncating division (part of the spec'd statistic); squared
    distances are exact BIGINT and their SQRT is the correctly-rounded
    IEEE double on both engines, micro-rounded before the comparison.
    Plan: one scan, posexplode riding it, one (label, pos) centroid
    aggregate, then a broadcast join of points-by-dimension against the
    labels*dims centroid table (bounded dim table at any corpus size)
    into a (vec, candidate-label) hash aggregate — never a crossJoin —
    and two cheap re-aggregates. Scales as O(points * labels * dims)
    with only broadcast dimension tables shuffle-side."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    micro = F.expr(
        "transform(embedding, x ->"
        " CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
    )
    pts = emb.select(
        "vec_id", "label", F.posexplode(micro).alias("pos0", "xq")
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "xq")
    cent = (
        pts.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(F.sum("xq").alias("sx"), F.count(F.lit(1)).alias("n"))
        .select(
            "clabel",
            "pos",
            F.when(
                F.col("sx") >= 0, F.expr("sx div n")
            )
            .otherwise(-F.expr("(-sx) div n"))
            .cast("long")
            .alias("cq"),
        )
    )
    d2 = (
        pts.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum((F.col("xq") - F.col("cq")) * (F.col("xq") - F.col("cq")))
            .cast("long")
            .alias("dsq")
        )
    )
    dd = d2.select(
        "vec_id",
        "label",
        "clabel",
        F.floor(F.sqrt(F.col("dsq").cast("double")) + 0.5)
        .cast("long")
        .alias("dm"),
    )
    ab = dd.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("dm"))).alias(
            "a"
        ),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dm"))).alias(
            "b"
        ),
    )
    s = ab.select(
        "label",
        F.when(
            F.col("b") >= F.col("a"),
            F.expr("(1000L * (b - a)) div GREATEST(GREATEST(a, b), 1L)"),
        )
        .otherwise(
            -F.expr("(1000L * (a - b)) div GREATEST(GREATEST(a, b), 1L)")
        )
        .cast("long")
        .alias("s_milli"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum("s_milli").alias("ssum"),
            F.sum(F.when(F.col("s_milli") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_negative"),
        )
        .select(
            "label",
            "n_points",
            F.when(
                F.col("ssum") >= 0, F.expr("ssum div n_points")
            )
            .otherwise(-F.expr("(-ssum) div n_points"))
            .cast("long")
            .alias("mean_sil_milli"),
            "n_negative",
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM (discount 3/4)
# ---------------------------------------------------------------------------

_KN_TOPK = 20


def _kn_cte() -> str:
    """The shared KN-model CTE chain (through ``k`` = the full bigram
    model with p_kn_ppm): reused by the q_kneser_ney oracle and the
    q_nucleus_sampling_audit oracle (llm18) — engine/oracle pairs share
    SQL builders so replicas cannot drift."""
    return f"""
    WITH w AS (
        SELECT STRING_SPLIT({_NORM}, ' ') AS words FROM documents
    ), bg AS (
        SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(words)),
                                     i -> words[i] || ' ' || words[i + 1]))
                   AS b
        FROM w WHERE LEN(words) >= 2
    ), cnt AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1
    ), bi AS (
        SELECT SPLIT_PART(b, ' ', 1) AS w1, SPLIT_PART(b, ' ', 2) AS w2, c12
        FROM cnt
    ), u1 AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS nfoll
        FROM bi GROUP BY 1
    ), u2 AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS nprec FROM bi GROUP BY 1
    ), d AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nbi FROM bi
    ), p AS (
        SELECT bi.w1, bi.w2, bi.c12, u1.c1, u1.nfoll, u2.nprec, d.nbi
        FROM bi JOIN u1 USING (w1) JOIN u2 USING (w2) CROSS JOIN d
    ), k AS (
        SELECT w1, w2, c12, c1,
               GREATEST(
                   CAST((1000000 * (4 * c12 - 3)) // (4 * c1) AS BIGINT)
                   + CAST((3 * nfoll * ((1000000 * nprec) // nbi))
                          // (4 * c1) AS BIGINT),
                   1) AS p_kn_ppm
        FROM p
    )"""


def _kn_oracle() -> str:
    return f"""{_kn_cte()}, r AS (
        SELECT w1, w2, c12, c1, p_kn_ppm,
               ROW_NUMBER() OVER (ORDER BY c12 DESC, w1, w2) AS rn
        FROM k
    )
    SELECT w1, w2, c12, c1, p_kn_ppm
    FROM r WHERE rn <= {_KN_TOPK} ORDER BY c12 DESC, w1, w2
    """


@register(
    "q_kneser_ney",
    oracle=_kn_oracle(),
    tags=("llm", "lm", "kneser-ney", "ngram"),
)
def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (absolute discount
    d = 3/4) for the corpus's top-20 bigrams:

        p_kn(w2|w1) = (c12 - 3/4)/c1 + (3/4 * N1+(w1,*)/c1) * p_cont(w2)
        p_cont(w2)  = N1+(*, w2) / |distinct bigrams|

    — the classical smoothed-LM backbone behind perplexity-based quality
    scoring, in exact ppm integers: the discount rides as the 4x-scaled
    numerator (4*c12 - 3, never negative since c12 >= 1), and every
    division has a non-negative numerator so Spark's div and DuckDB's //
    agree without sign separation. The ppm value clamps to >= 1 so the
    downstream LN in q_kn_doc_surprisal never sees zero (operator
    contract, mirrored in the oracle).

    Plan: reads the process-shared KN MODEL spool (corpus.kn_bigram_model
    over the shared bigram-type table — train once per process for the
    WHOLE KN family, the trade_edges pattern, r9 VERDICT #2); inside the
    one-time build every marginal is a WINDOW aggregate over the
    vocabulary-squared-bounded type table (no self-joins); this query is
    then a TakeOrdered head over the stored model."""
    from pulsar_lunar_spark.operators.corpus import kn_bigram_model

    k = kn_bigram_model(spark, sf_dir).select(
        "w1", "w2", "c12", "c1", "p_kn_ppm"
    )
    # The rank was filter-only: orderBy().limit() is the same top-K under
    # the same total tiebreak, rides TakeOrderedAndProject, and drops the
    # unpartitioned window over the O(V^2) bigram-type table (r8 VERDICT
    # 100 TB hazard).
    return (
        k.orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
        .limit(_KN_TOPK)
        .select("w1", "w2", "c12", "c1", "p_kn_ppm")
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit (OLS slope on log-log, milli-LN quantization)
# ---------------------------------------------------------------------------

_ZIPF_TOPK = 100


def _zipf_oracle() -> str:
    return f"""
    WITH t AS (
        SELECT UNNEST(STRING_SPLIT({_NORM}, ' ')) AS token FROM documents
    ), c AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1
    ), r AS (
        SELECT cnt, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token)
                         AS BIGINT) AS rnk
        FROM c
    ), l AS (
        SELECT cnt,
               CAST(FLOOR(LN(CAST(rnk AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
                   AS lr,
               CAST(FLOOR(LN(CAST(cnt AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
                   AS lf
        FROM r WHERE rnk <= {_ZIPF_TOPK}
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(lr) AS BIGINT) AS sx,
               CAST(SUM(lf) AS BIGINT) AS sy,
               CAST(SUM(lr * lr) AS BIGINT) AS sxx,
               CAST(SUM(lr * lf) AS BIGINT) AS sxy,
               CAST(SUM(cnt) AS BIGINT) AS tot,
               CAST(MAX(cnt) AS BIGINT) AS topf
        FROM l
    )
    SELECT n AS n_terms, tot AS total_occurrences, topf AS top_freq,
           CASE WHEN (n * sxy - sx * sy) >= 0
                THEN CAST((1000000 * (n * sxy - sx * sy))
                          // GREATEST(n * sxx - sx * sx, 1) AS BIGINT)
                ELSE -CAST((1000000 * (sx * sy - n * sxy))
                           // GREATEST(n * sxx - sx * sx, 1) AS BIGINT)
           END AS slope_micro,
           CAST(sy // n AS BIGINT) AS mean_lnf_milli
    FROM s
    """


@register(
    "q_zipf_fit",
    oracle=_zipf_oracle(),
    tags=("llm", "corpus-stats", "zipf", "regression"),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the token rank-frequency curve: OLS slope of
    ln(frequency) against ln(rank) for the top-100 tokens — healthy
    natural-language corpora sit near slope -1; template explosions and
    boilerplate floods bend it shallow. Both logs quantize to exact
    MILLI integers (not the usual micro) before the OLS cross-products
    so every sum-of-products stays far inside int64 (lr <= 4 605, lf
    bounded by ln(corpus) — n*Sxy tops out near 1e12 even at 100 TB
    counts, and the 1e6-scaled slope numerator stays under 1e18); the
    slope division is sign-separated because the numerator is negative
    for any Zipf-like corpus. LN over exact integer inputs is the same
    libm double on both engines (the q_unigram_surprisal precedent).

    Plan: one scan, one explode riding it, one token hash aggregate
    (vocabulary-bounded output), a 100-row window + single-row OLS
    aggregate — the statistic compresses to one row regardless of corpus
    size."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("token")
    )
    c = toks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    from pyspark.sql.window import Window

    # llm8 top_rank shape: TakeOrderedAndProject bounds the head to
    # _ZIPF_TOPK rows, then the rank window runs over that head only.
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    top = (
        c.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(_ZIPF_TOPK)
        .select("cnt", F.row_number().over(w).cast("long").alias("rnk"))
    )
    l = top.select(
        "cnt",
        F.floor(F.log(F.col("rnk").cast("double")) * 1000 + 0.5)
        .cast("long")
        .alias("lr"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1000 + 0.5)
        .cast("long")
        .alias("lf"),
    )
    s = l.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lr").cast("long").alias("sx"),
        F.sum("lf").cast("long").alias("sy"),
        F.sum(F.col("lr") * F.col("lr")).cast("long").alias("sxx"),
        F.sum(F.col("lr") * F.col("lf")).cast("long").alias("sxy"),
        F.sum("cnt").cast("long").alias("tot"),
        F.max("cnt").cast("long").alias("topf"),
    )
    slope = F.when(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) >= 0,
        F.expr(
            "(1000000L * (n * sxy - sx * sy))"
            " div GREATEST(n * sxx - sx * sx, 1L)"
        ),
    ).otherwise(
        -F.expr(
            "(1000000L * (sx * sy - n * sxy))"
            " div GREATEST(n * sxx - sx * sx, 1L)"
        )
    )
    return s.select(
        F.col("n").alias("n_terms"),
        F.col("tot").alias("total_occurrences"),
        F.col("topf").alias("top_freq"),
        slope.cast("long").alias("slope_micro"),
        F.expr("sy div n").cast("long").alias("mean_lnf_milli"),
    )


# ---------------------------------------------------------------------------
# Bigram-LM document surprisal (the KN model applied as a quality filter)
# ---------------------------------------------------------------------------


def _kn_surprisal_oracle() -> str:
    return f"""
    WITH w AS (
        SELECT doc_id, source, STRING_SPLIT({_NORM}, ' ') AS words
        FROM documents
    ), bgd AS (
        SELECT doc_id, source,
               UNNEST(LIST_TRANSFORM(RANGE(1, LEN(words)),
                                     i -> words[i] || ' ' || words[i + 1]))
                   AS b
        FROM w WHERE LEN(words) >= 2
    ), cnt AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c12 FROM bgd GROUP BY 1
    ), bi AS (
        SELECT b, SPLIT_PART(b, ' ', 1) AS w1, SPLIT_PART(b, ' ', 2) AS w2,
               c12
        FROM cnt
    ), u1 AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS nfoll
        FROM bi GROUP BY 1
    ), u2 AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS nprec FROM bi GROUP BY 1
    ), d AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nbi FROM bi
    ), probs AS (
        SELECT bi.b,
               GREATEST(
                   CAST((1000000 * (4 * bi.c12 - 3)) // (4 * u1.c1)
                        AS BIGINT)
                   + CAST((3 * u1.nfoll * ((1000000 * u2.nprec) // d.nbi))
                          // (4 * u1.c1) AS BIGINT),
                   1) AS p_kn_ppm
        FROM bi JOIN u1 USING (w1) JOIN u2 USING (w2) CROSS JOIN d
    ), sc AS (
        SELECT bgd.doc_id, bgd.source,
               CAST(FLOOR(-LN(probs.p_kn_ppm / 1000000.0) * 1000000 + 0.5)
                    AS BIGINT) AS s
        FROM bgd JOIN probs USING (b)
    ), docm AS (
        SELECT doc_id, source,
               CAST(SUM(s) // COUNT(*) AS BIGINT) AS m
        FROM sc GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(SUM(m) // COUNT(*) AS BIGINT) AS mu FROM docm
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(m) // COUNT(*) AS BIGINT) AS avg_surprisal_micro,
           CAST(SUM(CASE WHEN m < tot.mu THEN 1 ELSE 0 END) AS BIGINT)
               AS n_below_corpus_mean
    FROM docm CROSS JOIN tot
    GROUP BY source, tot.mu ORDER BY source
    """


@register(
    "q_kn_doc_surprisal",
    oracle=_kn_surprisal_oracle(),
    tags=("llm", "lm", "kneser-ney", "quality", "surprisal"),
)
def q_kn_doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kneser-Ney bigram LM applied as a document quality signal:
    every document's mean per-bigram surprisal under the corpus-trained
    KN model (-ln p_kn in exact micro-nats), rolled up per source with
    the count of documents scoring BELOW the corpus-wide mean — the
    bigram-order upgrade of q_perplexity_filter's unigram gate (word-
    ORDER anomalies like shuffled boilerplate score high under a bigram
    LM but look normal to a unigram one). The threshold is the corpus's
    own mean, so the filter is self-normalizing across scales.

    Determinism: p_kn_ppm is the exact integer from kn_bigram_probs
    (clamped >= 1, so LN never sees 0); the per-bigram surprisal floors
    ONCE to micro-nats (the q_unigram_surprisal precedent) and
    everything downstream is exact BIGINT with non-negative numerators.
    Plan: training reads the process-shared KN MODEL spool
    (corpus.kn_bigram_model — ONE corpus train scan + one marginal pass
    per process for the whole KN family, the trade_edges pattern
    prescribed by the r9 VERDICT for the repo's worst solo ratio, with
    the marginals window-aggregated inside the one-time model build).
    Scoring scans the corpus once and joins
    the probability table WITHOUT a broadcast hint: the table is
    vocabulary-squared bounded, which at 100 TB is NOT broadcast-size —
    AQE converts the join to broadcast at runtime when the measured side
    is small (it is here), so the plan is scale-correct and locally
    optimal at once (measured: the hinted broadcast was also ~0.2 s
    SLOWER per call, it serializes the probs job before the scan).
    ensure_parallelism on the scoring scan was likewise measured off
    (r8 lesson: a full-width text exchange costs more than the explode
    buys back — sf0.1 medians 1.08 plain vs 1.26-1.38 with it). Per-doc
    and per-source aggregates + the 1-row corpus-mean scalar frame. The
    per-doc mean table still spools (two consumers: the corpus mean and
    the rollup)."""
    from pulsar_lunar_spark.operators.corpus import kn_bigram_model
    from pulsar_lunar_spark.session import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(normalize_text(F.col("text")), " ")
    staged = docs.select("doc_id", "source", words.alias("__w")).filter(
        F.size("__w") >= 2
    )
    bgd = staged.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__w) - 1),"
                " i -> concat(element_at(__w, i), ' ',"
                " element_at(__w, i + 1)))"
            )
        ).alias("b"),
    )
    probs = kn_bigram_model(spark, sf_dir).select("b", "p_kn_ppm")
    sc = bgd.join(probs, "b").select(
        "doc_id",
        "source",
        F.floor(
            -F.log(F.col("p_kn_ppm").cast("double") / 1000000.0) * 1000000
            + 0.5
        )
        .cast("long")
        .alias("s"),
    )
    raw_docm = sc.groupBy("doc_id", "source").agg(
        F.expr("sum(s) div count(1)").cast("long").alias("m")
    )
    # The per-doc mean table feeds TWO consumers (the corpus mean and the
    # per-source rollup) — spool it once so the scoring scan runs once,
    # not per consumer (doc-level rows, linear at any corpus size).
    dslot = scratch_dir("pl_kn_docm", sf_dir)
    raw_docm.write.mode("overwrite").parquet(dslot)
    docm = spark.read.parquet(dslot)
    tot = docm.agg(F.expr("sum(m) div count(1)").cast("long").alias("mu"))
    return (
        docm.crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("sum(m) div count(1)")
            .cast("long")
            .alias("avg_surprisal_micro"),
            F.sum(F.when(F.col("m") < F.col("mu"), 1).otherwise(0))
            .cast("long")
            .alias("n_below_corpus_mean"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Top principal component via fixed-point power iteration
# ---------------------------------------------------------------------------

_PCA_ITERATIONS = 4
_PCA_DIMS_OUT = 8
_PCA_V0_MILLI = 125  # 1/sqrt(64) in milli units — the deterministic seed


def _pca_pts_cte() -> str:
    return """
    WITH q AS (
        SELECT vec_id,
               LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                              x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT))
                   AS qk
        FROM embeddings
    ), pts AS (
        SELECT vec_id, u.pos, u.xk
        FROM (SELECT vec_id, UNNEST(qk) AS xk,
                     GENERATE_SUBSCRIPTS(qk, 1) AS pos
              FROM q) u
    )"""


def _pca_iteration_ctes(t: int, v_prev: str) -> str:
    """One power-iteration step as CTEs: scores (exact integer dot with
    the previous direction, sign-separated >>10 rescale), per-dimension
    accumulations (exact BIGINT), then the normalized next direction as
    a milli-quantized list (IEEE sqrt/divide over exact integers)."""
    return f"""
    , sc{t} AS (
        SELECT q.vec_id,
               CASE WHEN CAST(LIST_INNER_PRODUCT(q.qk, {v_prev}) AS BIGINT)
                         >= 0
                    THEN CAST(LIST_INNER_PRODUCT(q.qk, {v_prev}) AS BIGINT)
                         // 1024
                    ELSE -((-CAST(LIST_INNER_PRODUCT(q.qk, {v_prev})
                                  AS BIGINT)) // 1024)
               END AS s_red
        FROM q
    ), w{t} AS (
        SELECT p.pos, CAST(SUM(p.xk * s.s_red) AS BIGINT) AS w
        FROM pts p JOIN sc{t} s USING (vec_id) GROUP BY p.pos
    ), n{t} AS (
        SELECT LIST(CAST(w AS DOUBLE) ORDER BY pos) AS wl FROM w{t}
    ), v{t} AS (
        SELECT LIST_TRANSFORM(
                   wl,
                   x -> CAST(FLOOR(1000 * (x / SQRT(
                            LIST_INNER_PRODUCT(wl, wl))) + 0.5) AS BIGINT))
                   AS v
        FROM n{t}
    )"""


def _pca_oracle() -> str:
    dim = 64
    v0 = "[" + ", ".join([str(_PCA_V0_MILLI)] * dim) + "]"
    parts = [_pca_pts_cte()]
    v_prev = f"CAST({v0} AS BIGINT[])"
    for t in range(1, _PCA_ITERATIONS + 1):
        parts.append(_pca_iteration_ctes(t, v_prev))
        v_prev = f"(SELECT v FROM v{t})"
    last = _PCA_ITERATIONS
    return (
        "".join(parts)
        + f"""
    SELECT CAST(r.i - 1 AS BIGINT) AS pos,
           v.v[r.i] AS loading_milli
    FROM v{last} v, RANGE(1, {_PCA_DIMS_OUT + 1}) r(i)
    ORDER BY pos
    """
    )


@register(
    "q_pca_power",
    oracle=_pca_oracle(),
    tags=("llm", "embedding", "pca", "power-iteration", "iterative"),
)
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus via FIXED-POINT
    power iteration on the uncentered second-moment matrix — the
    iterative linear-algebra member of the kmeans/pagerank/DoReMi
    bounded-loop family, computed entirely relationally: per row an
    exact integer dot with the current direction (elements kilo-
    quantized, direction milli-quantized), a sign-separated >>10
    rescale (keeps the per-dimension accumulation inside int64 out to
    ~1e10 rows), one (pos) hash aggregate for X^T(Xv), then
    normalization over exact-integer-valued doubles (IEEE sqrt/divide
    and a LEFT-TO-RIGHT 64-element fold for the norm — the MMR
    precedent: Spark's aggregate() fold == DuckDB's LIST_INNER_PRODUCT
    == the driver's Python loop, all on exactly-representable values).
    Four fixed iterations; the sign convention is pinned by the
    all-positive seed. Output: the first 8 loading dims in milli units.

    Plan: one corpus scan per iteration (the honest minimum for
    Xᵀ(Xv) without materializing X twice), each a scan-level dot +
    posexplode into a 64-row aggregate; iterations 1..3 collect 64 rows
    to the driver (the kmeans bounded-collect precedent), the returned
    frame computes iteration 4's normalization in-engine via a sorted
    64-element fold."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    kilo = F.expr(
        "transform(embedding, x ->"
        " CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
    )
    q = emb.select(kilo.alias("qk"))

    def w_frame(v_milli: list[int]):
        v_lit = "array(" + ", ".join(f"{x}L" for x in v_milli) + ")"
        dot = F.expr(
            f"aggregate(zip_with(qk, {v_lit}, (x, y) -> x * y),"
            " 0L, (acc, e) -> acc + e)"
        )
        scored = q.select(
            "qk",
            dot.alias("s"),
        ).select(
            "qk",
            F.when(
                F.col("s") >= 0, F.expr("s div 1024")
            )
            .otherwise(-F.expr("(-s) div 1024"))
            .cast("long")
            .alias("s_red"),
        )
        return (
            scored.select(F.posexplode("qk").alias("pos0", "xk"), "s_red")
            .groupBy(F.col("pos0").alias("pos"))
            .agg(F.sum(F.col("xk") * F.col("s_red")).cast("long").alias("w"))
        )

    import math as _math

    v = [_PCA_V0_MILLI] * 64
    for _ in range(_PCA_ITERATIONS - 1):
        rows = sorted(w_frame(v).collect(), key=lambda r: r.pos)
        ws = [int(r.w) for r in rows]
        n2 = 0.0
        for x in ws:
            # cast-then-multiply mirrors both engines' CAST(w AS DOUBLE)
            # * CAST(w AS DOUBLE); parity bound is |w| <= 2^53, not 2^106
            n2 += float(x) * float(x)
        nrm = _math.sqrt(n2)
        v = [_math.floor(1000 * (float(x) / nrm) + 0.5) for x in ws]

    w4 = w_frame(v)
    one = w4.agg(
        F.sort_array(F.collect_list(F.struct("pos", "w"))).alias("arr")
    )
    return (
        one.select(
            F.explode(
                F.expr(
                    "transform(arr, e -> struct(CAST(e.pos AS BIGINT) AS pos,"
                    " CAST(FLOOR(1000 * (CAST(e.w AS DOUBLE) / SQRT("
                    " aggregate(transform(arr,"
                    "   z -> CAST(z.w AS DOUBLE) * CAST(z.w AS DOUBLE)),"
                    "   CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)))"
                    " + 0.5) AS BIGINT) AS loading_milli))"
                )
            ).alias("e")
        )
        .select("e.pos", "e.loading_milli")
        .filter(F.col("pos") < _PCA_DIMS_OUT)
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# Mutual information between source and language (feature selection)
# ---------------------------------------------------------------------------


def _mi_oracle() -> str:
    return """
    WITH j AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_sl
        FROM documents GROUP BY 1, 2
    ), m AS (
        SELECT source, lang, n_sl,
               CAST(SUM(n_sl) OVER (PARTITION BY source) AS BIGINT) AS n_s,
               CAST(SUM(n_sl) OVER (PARTITION BY lang) AS BIGINT) AS n_l,
               CAST(SUM(n_sl) OVER () AS BIGINT) AS n
        FROM j
    ), c AS (
        SELECT source, lang, n_sl,
               CAST(FLOOR((CAST(n_sl AS DOUBLE) / CAST(n AS DOUBLE))
                    * LN((CAST(n_sl AS DOUBLE) * CAST(n AS DOUBLE))
                         / (CAST(n_s AS DOUBLE) * CAST(n_l AS DOUBLE)))
                    * 1000000 + 0.5) AS BIGINT) AS mi_cell_micro
        FROM m
    )
    SELECT source, lang, n_sl, mi_cell_micro,
           CAST(SUM(mi_cell_micro) OVER () AS BIGINT) AS mi_total_micro
    FROM c ORDER BY source, lang
    """


@register(
    "q_mutual_info",
    oracle=_mi_oracle(),
    tags=("llm", "corpus-stats", "mutual-information", "feature-selection"),
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between document source and language — the
    feature-selection statistic that tells a curation team whether a
    cheap metadata field (source) already predicts an expensive label
    (language): MI near 0 means sampling by source cannot skew the
    language mix; high MI means it will. Per-cell contributions
    p(s,l)*ln(p(s,l)/(p(s)p(l))) floor ONCE to micro-nats (positive AND
    negative cells — floor(x+0.5) is symmetric round-half-up, identical
    on both engines) and the corpus MI is their exact BIGINT window sum.
    Each count casts to DOUBLE separately before multiplying, so no
    product exceeds 2^53 even when n_sl*n would (the kappa int64 lesson
    applied to the float side).

    Plan: one scan, one (source, lang) hash aggregate — the contingency
    table, bounded by |sources|x|langs| at any corpus size — then every
    marginal is a WINDOW aggregate over that tiny table, so it pipelines
    once with no self-joins and no spool (round-8 rewrite: the join form
    either re-scanned the corpus per marginal or paid a tmpfs spool per
    call). The same shape as q_chi2_cells with an information-theoretic
    statistic."""
    from pyspark.sql.window import Window

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    j = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sl")
    )
    m = j.select(
        "source",
        "lang",
        "n_sl",
        F.sum("n_sl").over(Window.partitionBy("source")).cast("long").alias("n_s"),
        F.sum("n_sl").over(Window.partitionBy("lang")).cast("long").alias("n_l"),
        F.sum("n_sl").over(Window.partitionBy()).cast("long").alias("n"),
    )
    c = m.select(
        "source",
        "lang",
        "n_sl",
        F.floor(
            (F.col("n_sl").cast("double") / F.col("n").cast("double"))
            * F.log(
                (F.col("n_sl").cast("double") * F.col("n").cast("double"))
                / (F.col("n_s").cast("double") * F.col("n_l").cast("double"))
            )
            * 1_000_000
            + 0.5
        )
        .cast("long")
        .alias("mi_cell_micro"),
    )
    return c.select(
        "source",
        "lang",
        "n_sl",
        "mi_cell_micro",
        F.sum("mi_cell_micro")
        .over(Window.partitionBy())
        .cast("long")
        .alias("mi_total_micro"),
    ).orderBy("source", "lang")


# ---------------------------------------------------------------------------
# Character-entropy gibberish signal
# ---------------------------------------------------------------------------


def _char_entropy_oracle() -> str:
    return f"""
    WITH ch AS (
        SELECT doc_id, source, UNNEST(STRING_SPLIT({_NORM}, '')) AS c
        FROM documents
    ), cc AS (
        SELECT doc_id, source, c, CAST(COUNT(*) AS BIGINT) AS k
        FROM ch WHERE c <> '' GROUP BY 1, 2, 3
    ), cl AS (
        SELECT doc_id, source, k,
               CAST(SUM(k) OVER (PARTITION BY doc_id) AS BIGINT) AS L
        FROM cc
    ), tm AS (
        SELECT doc_id, source,
               CAST(FLOOR(-(CAST(k AS DOUBLE) / CAST(L AS DOUBLE))
                    * LN(CAST(k AS DOUBLE) / CAST(L AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS t_micro
        FROM cl
    ), dl AS (
        SELECT doc_id, source, CAST(SUM(t_micro) AS BIGINT) AS h_micro
        FROM tm GROUP BY doc_id, source
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(h_micro) // COUNT(*) AS BIGINT) AS avg_entropy_micro,
           CAST(MIN(h_micro) AS BIGINT) AS min_entropy_micro,
           CAST(MAX(h_micro) AS BIGINT) AS max_entropy_micro
    FROM dl GROUP BY source ORDER BY source
    """


@register(
    "q_char_entropy",
    oracle=_char_entropy_oracle(),
    tags=("llm", "quality", "entropy", "gibberish"),
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document, rolled up
    per source — the gibberish detector's core signal: natural text sits
    in a narrow entropy band; base64 blobs and key dumps score high,
    repeated-character padding scores low. Per-character terms
    -(k/L)ln(k/L) floor ONCE to micro-nats (the q_dataset_card
    language-mix entropy discipline), the per-document sum and the
    per-source mean/min/max are exact BIGINT.

    Plan: one scan, the character explode rides it, one
    (doc, char) hash aggregate, a per-doc window + re-aggregate (both
    keyed on doc_id — one exchange serves them), then the 16-row source
    rollup. Alphabet-bounded intermediate (distinct chars per doc <=
    |alphabet|), linear in corpus size."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    cc = (
        d.select(
            "doc_id",
            "source",
            F.explode(F.split(normalize_text(F.col("text")), "")).alias("c"),
        )
        .filter(F.col("c") != "")
        .groupBy("doc_id", "source", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id")
    terms = cc.select(
        "doc_id",
        "source",
        "k",
        F.floor(
            -(
                F.col("k").cast("double")
                / F.sum("k").over(w).cast("double")
            )
            * F.log(
                F.col("k").cast("double") / F.sum("k").over(w).cast("double")
            )
            * 1_000_000
            + 0.5
        )
        .cast("long")
        .alias("t_micro"),
    )
    dl = terms.groupBy("doc_id", "source").agg(
        F.sum("t_micro").cast("long").alias("h_micro")
    )
    return (
        dl.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("sum(h_micro) div count(1)")
            .cast("long")
            .alias("avg_entropy_micro"),
            F.min("h_micro").cast("long").alias("min_entropy_micro"),
            F.max("h_micro").cast("long").alias("max_entropy_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto front): minimize price, maximize size
# ---------------------------------------------------------------------------

_SKY_BUCKET_CENTS = 10_000  # price buckets of $100 — the parallelism grain


def _skyline_oracle() -> str:
    return """
    WITH p AS MATERIALIZED (
        SELECT p_partkey,
               CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(p_size AS BIGINT) AS size
        FROM part
    )
    SELECT b.p_partkey, b.cents, b.size
    FROM p b
    WHERE NOT EXISTS (
        SELECT 1 FROM p a
        WHERE a.cents <= b.cents AND a.size >= b.size
          AND (a.cents < b.cents OR a.size > b.size)
    )
    ORDER BY b.cents, b.size DESC, b.p_partkey
    """


@register(
    "q_skyline",
    oracle=_skyline_oracle(),
    tags=("analytics", "skyline", "pareto", "window"),
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto front) over parts — minimize price, maximize
    size: every part not strictly dominated by another (someone cheaper
    with at least the size, or same-price with strictly more size). The
    classic multi-criteria shortlist operator, here in the DISTRIBUTED
    bucket form rather than a global sort: price buckets partition the
    order, each bucket computes its local skyline in parallel (within-
    bucket RANGE-frame running max over strictly-cheaper rows + a
    same-price max), and cross-bucket dominance reduces to the tiny
    bucket-maxima table — the running best size over strictly-cheaper
    buckets broadcasts back as one filter. A cheaper bucket implies a
    strictly lower price (buckets partition price ranges), so the
    bucket-level check is exact, not approximate. No global sort, no
    self-join over the data: the only full-width exchange is the bucket
    hash partition; the oracle is the quadratic NOT EXISTS the operator
    provably equals.

    All-integer: price floors once to exact cents; dominance is BIGINT
    comparisons throughout."""
    p = ensure_parallelism(load_table(spark, sf_dir, "part")).select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long").alias(
            "cents"
        ),
        F.col("p_size").cast("long").alias("size"),
    )
    from pyspark.sql.window import Window

    b = p.withColumn("bucket", F.expr(f"cents div {_SKY_BUCKET_CENTS}"))
    # within-bucket: dominated by a strictly-cheaper row (RANGE frame
    # excludes the current price) or by a same-price larger row
    w_cheaper = (
        Window.partitionBy("bucket")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("bucket", "cents")
    local = b.select(
        "p_partkey",
        "cents",
        "size",
        "bucket",
        F.max("size").over(w_cheaper).alias("max_cheaper"),
        F.max("size").over(w_same).alias("max_same"),
    ).filter(
        (F.col("max_cheaper").isNull() | (F.col("max_cheaper") < F.col("size")))
        & (F.col("max_same") <= F.col("size"))
    )
    # cross-bucket: the best size seen in any STRICTLY cheaper bucket
    bmax = b.groupBy("bucket").agg(F.max("size").alias("bsize"))
    w_buckets = (
        Window.orderBy("bucket").rangeBetween(Window.unboundedPreceding, -1)
    )
    prior = bmax.select(
        "bucket", F.max("bsize").over(w_buckets).alias("best_cheaper_bucket")
    )
    return (
        local.join(F.broadcast(prior), "bucket")
        .filter(
            F.col("best_cheaper_bucket").isNull()
            | (F.col("best_cheaper_bucket") < F.col("size"))
        )
        .select("p_partkey", "cents", "size")
        .orderBy("cents", F.desc("size"), "p_partkey")
    )


# ---------------------------------------------------------------------------
# Semi-supervised label propagation (weighted majority vote)
# ---------------------------------------------------------------------------

_LP_SEEDS = 5  # nations with key < 5 keep their region label as seeds
_LP_ITERATIONS = 3


def _lp_edges_cte() -> str:
    return """
    WITH raw AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ), edges AS MATERIALIZED (
        SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
            SELECT src, dst, w FROM raw WHERE src <> dst
            UNION ALL
            SELECT dst AS src, src AS dst, w FROM raw WHERE src <> dst
        ) GROUP BY 1, 2
    ), l0 AS MATERIALIZED (
        SELECT n_nationkey AS node,
               CASE WHEN n_nationkey < {seeds}
                    THEN CAST(n_regionkey AS BIGINT) END AS label
        FROM nation
    )""".replace("{seeds}", str(_LP_SEEDS))


def _lp_iteration(t: int) -> str:
    prev = f"l{t - 1}"
    return f"""
    , v{t} AS (
        SELECT e.dst AS node, p.label, CAST(SUM(e.w) AS BIGINT) AS votes
        FROM edges e JOIN {prev} p ON e.src = p.node
        WHERE p.label IS NOT NULL
        GROUP BY 1, 2
    ), m{t} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY votes DESC, label) AS rn
            FROM v{t}
        ) WHERE rn = 1
    ), l{t} AS MATERIALIZED (
        SELECT p.node,
               CASE WHEN p.node < {_LP_SEEDS} THEN p.label
                    ELSE COALESCE(m.label, p.label) END AS label
        FROM l0 base
        JOIN l{t - 1} p ON base.node = p.node
        LEFT JOIN m{t} m ON p.node = m.node
    )"""


def _lp_oracle() -> str:
    parts = [_lp_edges_cte()]
    for t in range(1, _LP_ITERATIONS + 1):
        parts.append(_lp_iteration(t))
    return (
        "".join(parts)
        + f"""
    SELECT n.n_name AS nation, CAST(l.label AS BIGINT) AS label,
           CAST(l.node < {_LP_SEEDS} AS BOOLEAN) AS is_seed
    FROM l{_LP_ITERATIONS} l JOIN nation n ON l.node = n.n_nationkey
    ORDER BY n.n_name
    """
    )


@register(
    "q_label_propagation",
    oracle=_lp_oracle(),
    tags=("llm", "graph", "label-propagation", "semi-supervised"),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the nation trade graph:
    five seed nations keep their region label; every other node adopts
    the weighted-majority label of its labeled neighbours (edge weight =
    symmetrized lineitem trade volume, argmax tiebroken by smallest
    label) for three fixed rounds — the community/taxonomy spreader a
    curation pipeline runs when a few domains are hand-labeled and the
    rest must inherit through the link graph. Seeds are CLAMPED (never
    overwritten), the classic semi-supervised variant.

    Exactness: votes are exact BIGINT edge-weight sums; the argmax is a
    deterministic (votes DESC, label ASC) rank — no floats anywhere.

    Plan (r11 rewrite, guide §1.2 — the q_hits_scores pattern): the
    data-scale work is graph.trade_edges — the 4-join fact pipeline
    shared with q_pagerank_trade/q_hits_scores, built once per
    (dataset, process) and spooled to tmpfs. The nation graph it yields
    is SCHEMA-bounded (|V| <= 25, |E| <= 600 aggregate rows at any
    corpus size), so symmetrization and the three clamped vote rounds
    are exact integer arithmetic on a bounded table: collect it once
    and iterate on the driver — zero cluster jobs for 25-node argmax
    math. The previous distributed form (per-round broadcast joins +
    argmax windows + localCheckpoints, in git history here) solo'd
    1.8-3.9 s across the r11 baseline captures; the brute-force pytest
    IS this loop, and the distributed min-label machinery survives in
    operators/graph.py (connected_components / cc_star) where the graph
    really is unbounded."""
    import pulsar_lunar_spark.operators.graph as G

    na = load_table(spark, sf_dir, "nation")
    raw = (
        G.trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .collect()
    )
    edges: dict[tuple[int, int], int] = {}
    for e in raw:
        edges[(e.src, e.dst)] = edges.get((e.src, e.dst), 0) + e.w
        edges[(e.dst, e.src)] = edges.get((e.dst, e.src), 0) + e.w
    node_ids = [int(r.n_nationkey) for r in na.select("n_nationkey").collect()]
    labels: dict[int, int | None] = {
        int(r.n_nationkey): (
            int(r.n_regionkey) if r.n_nationkey < _LP_SEEDS else None
        )
        for r in na.select("n_nationkey", "n_regionkey").collect()
    }
    from collections import Counter

    for _ in range(_LP_ITERATIONS):
        votes: dict[int, Counter] = {}
        for (src, dst), w in edges.items():
            # .get: a source outside the node table contributes nothing,
            # matching the replaced distributed join (ADVICE r11); votes
            # keyed by an outside dst are ignored by the labels loop.
            lab = labels.get(src)
            if lab is not None:
                votes.setdefault(dst, Counter())[lab] += w
        new: dict[int, int | None] = {}
        for node, lab in labels.items():
            if node < _LP_SEEDS:
                new[node] = lab
            elif node in votes:
                new[node] = min(
                    votes[node], key=lambda l: (-votes[node][l], l)
                )
            else:
                new[node] = lab
        labels = new
    out = local_rows(spark, [(n, labels[n]) for n in node_ids], "node long, label long")
    return (
        out.join(F.broadcast(na), out.node == na.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("label").cast("long").alias("label"),
            (F.col("node") < _LP_SEEDS).alias("is_seed"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (fixed-point, max-normalized ppm integers)
# ---------------------------------------------------------------------------

_HITS_ITERATIONS = 3


def _hits_edges_cte() -> str:
    return """
    WITH edges AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    ), n0 AS MATERIALIZED (
        SELECT n_nationkey AS node FROM nation
    ), h0 AS MATERIALIZED (
        SELECT node, CAST(1000000 AS BIGINT) AS h FROM n0
    )"""


def _hits_iteration(t: int) -> str:
    prev = f"h{t - 1}"
    return f"""
    , ar{t} AS MATERIALIZED (
        SELECT n0.node,
               CAST(COALESCE(SUM(e.w * p.h), 0) AS BIGINT) AS raw
        FROM n0
        LEFT JOIN edges e ON e.dst = n0.node
        LEFT JOIN {prev} p ON p.node = e.src
        GROUP BY n0.node
    ), a{t} AS MATERIALIZED (
        SELECT node,
               CAST((1000000 * raw)
                    // GREATEST((SELECT MAX(raw) FROM ar{t}), 1)
                    AS BIGINT) AS a
        FROM ar{t}
    ), hr{t} AS MATERIALIZED (
        SELECT n0.node,
               CAST(COALESCE(SUM(e.w * q.a), 0) AS BIGINT) AS raw
        FROM n0
        LEFT JOIN edges e ON e.src = n0.node
        LEFT JOIN a{t} q ON q.node = e.dst
        GROUP BY n0.node
    ), h{t} AS MATERIALIZED (
        SELECT node,
               CAST((1000000 * raw)
                    // GREATEST((SELECT MAX(raw) FROM hr{t}), 1)
                    AS BIGINT) AS h
        FROM hr{t}
    )"""


def _hits_oracle() -> str:
    parts = [_hits_edges_cte()]
    for t in range(1, _HITS_ITERATIONS + 1):
        parts.append(_hits_iteration(t))
    last = _HITS_ITERATIONS
    return (
        "".join(parts)
        + f"""
    SELECT n.n_name AS nation,
           h.h AS hub_ppm, a.a AS auth_ppm
    FROM nation n
    JOIN h{last} h ON h.node = n.n_nationkey
    JOIN a{last} a ON a.node = n.n_nationkey
    ORDER BY n.n_name
    """
    )


@register(
    "q_hits_scores",
    oracle=_hits_oracle(),
    tags=("llm", "graph", "hits", "hubs-authorities", "iterative"),
)
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities over the DIRECTED nation trade graph
    (customer-nation buys from supplier-nation, weight = lineitem
    count): three fixed mutual-reinforcement rounds — authority =
    weighted sum of pointing hubs, hub = weighted sum of pointed-to
    authorities — each vector max-normalized to exact ppm integers
    (1e6·x DIV max, non-negative numerators so Spark div == DuckDB //).
    PageRank's bipartite twin: pagerank scores endorsement flow, HITS
    separates WHO CURATES (hubs: importing nations) from WHO SUPPLIES
    (authorities). All-integer; Σw·h ≤ total_edge_weight·1e6 stays in
    int64 out to ~9e12 lineitems.

    Plan (r11 rewrite, guide §1.2 first-principles): the DATA-scale work
    is the edge AGGREGATE — graph.trade_edges, the 4-join fact pipeline
    shared with q_pagerank_trade/q_label_propagation, built once per
    (dataset, process) and spooled to tmpfs. The nation graph it yields
    is SCHEMA-bounded (|V| <= 25 nations, |E| <= 600 aggregate rows at
    any corpus size), so the mutual-reinforcement rounds are exact
    integer arithmetic on a bounded table: collect the aggregate ONCE
    (the kmeans-centroid / LR-gradient bounded-collect class) and
    iterate on the driver — zero cluster jobs for 25-row vector math.
    The previous form ran 6 half-round Spark jobs (|V|-bounded score
    broadcasts onto the edges + node aggregates + per-round
    localCheckpoints; its r10 conf-scoping A/B and checkpoint A/B live
    in git history at llm13.py _hits_body): solo median 2.1-3.2 s across
    the r11 baseline captures -> 1.14 s (measured under suite
    contention; the remaining wall is the edge-spool read + collect +
    the final 25-row join), identical integers — the brute-force pytest
    IS this loop. The oracle unrolls the iterations as MATERIALIZED
    CTEs."""
    import pulsar_lunar_spark.operators.graph as G

    # Self-loop filter on the shared aggregate == the pre-aggregate
    # filter (the group keys determine the predicate).
    edge_rows = (
        G.trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .collect()
    )
    na = load_table(spark, sf_dir, "nation")
    node_ids = [int(r.n_nationkey) for r in na.select("n_nationkey").collect()]
    h = {n: 1_000_000 for n in node_ids}
    a: dict[int, int] = {}
    for _ in range(_HITS_ITERATIONS):
        raw = {n: 0 for n in node_ids}
        for e in edge_rows:
            # endpoint-outside-nodes edges drop, matching the replaced
            # distributed joins' behavior (ADVICE r11)
            if e.dst in raw and e.src in h:
                raw[e.dst] += e.w * h[e.src]
        mx = max(max(raw.values()), 1)
        a = {n: (1_000_000 * v) // mx for n, v in raw.items()}
        raw = {n: 0 for n in node_ids}
        for e in edge_rows:
            if e.src in raw and e.dst in a:
                raw[e.src] += e.w * a[e.dst]
        mx = max(max(raw.values()), 1)
        h = {n: (1_000_000 * v) // mx for n, v in raw.items()}
    scores = local_rows(
        spark,
        [(n, h[n], a[n]) for n in node_ids],
        "node long, hub_ppm long, auth_ppm long",
    )
    return (
        scores.join(F.broadcast(na), F.col("node") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "hub_ppm",
            "auth_ppm",
        )
        .orderBy("nation")
    )
