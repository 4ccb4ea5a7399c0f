"""LLM-pipeline batch 16 (round 9, third wave): provenance and
annotation-quality statistics —

- LLM-watermark detection (``q_watermark_detect``): the Kirchenbauer et
  al. green-list test — per document, the z-score of the green-token
  fraction against the gamma=1/2 null — the screen a pretraining
  curation pipeline runs to keep synthetic (watermarked) text out of
  the next model's training set;
- Fleiss' kappa (``q_fleiss_kappa``): chance-corrected inter-annotator
  agreement over five deterministic pseudo-raters — the statistic an
  annotation pipeline reads before trusting majority-vote labels (and
  the multi-rater generalization of q_filter_agreement's Cohen kappa).

Determinism discipline (the llm13/14/15 rules): md5-derived
pseudo-randomness against CASE thresholds identical in both engines,
integer ppm/milli quantization with single-FLOOR boundaries, SQRT/
division over exact integers written in the SAME literal order on both
engines, total tiebreak orders on every top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators.corpus import md5_int_sql as _md5_int_sql
from pulsar_lunar_spark.operators.dedup import normalize_text
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import ensure_parallelism, load_table

_NORM = "REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')"


# ---------------------------------------------------------------------------
# Green-list watermark detection (Kirchenbauer et al.)
# ---------------------------------------------------------------------------

_WM_TOPN = 20
_WM_FLAG_MILLI = 4000  # 4-sigma flag line


def _wm_oracle() -> str:
    green = f"{_md5_int_sql('word', 6, 'g-')} % 2 = 0"
    return f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(STRING_SPLIT({_NORM}, ' ')) AS word
        FROM documents
    ), per_doc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN {green} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_green
        FROM tok GROUP BY 1
    ), z AS (
        SELECT doc_id, n_tokens, n_green,
               CAST(FLOOR(1000 * (2 * n_green - n_tokens)
                          / SQRT(CAST(n_tokens AS DOUBLE)) + 0.5)
                    AS BIGINT) AS z_milli
        FROM per_doc
    )
    SELECT doc_id, n_tokens, n_green, z_milli,
           z_milli >= {_WM_FLAG_MILLI} AS flagged
    FROM z
    ORDER BY z_milli DESC, doc_id LIMIT {_WM_TOPN}
    """


@register(
    "q_watermark_detect",
    oracle=_wm_oracle(),
    tags=("llm", "watermark", "provenance", "synthetic-text"),
)
def q_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Green-list watermark detection (Kirchenbauer et al., "A Watermark
    for Large Language Models"): with the publisher's hash, a watermarked
    generator over-samples "green" tokens, so a document's green
    fraction departs from the gamma=1/2 null; the detector is the
    one-proportion z-score z = (2g - n) / sqrt(n), flagged at 4 sigma.
    A pretraining curation pipeline runs this screen to keep synthetic
    text out of the next model's training mix (training on your own
    model's output is the degenerate feedback loop everyone filters
    for). Here the green list is the md5 parity of the token — the same
    deterministic-stand-in discipline as q_dp_noisy_topk's noise (a
    production run plugs in the publisher's keyed hash).

    Exactness: n and g are exact BIGINT; z floors ONCE to milli-units
    from (2g-n)/sqrt(n) — SQRT of an exact integer and one division,
    written in the same literal order on both engines (the numerator
    can be negative; FLOOR of the identical IEEE double agrees
    regardless of sign). Plan: one scan, the green test is a per-token
    md5 parity inside the explode projection, one doc aggregate, a
    TakeOrdered top-20. At 100 TB: single pass, shuffle O(docs)."""
    from pulsar_lunar_spark.operators import corpus as C

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("word"),
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(
            F.when(C.md5_int(F.col("word"), hex_chars=6, salt="g-") % 2 == 0, 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_green"),
    )
    z = per_doc.select(
        "doc_id",
        "n_tokens",
        "n_green",
        F.expr(
            "CAST(FLOOR(1000 * (2 * n_green - n_tokens)"
            " / SQRT(CAST(n_tokens AS DOUBLE)) + 0.5) AS BIGINT)"
        ).alias("z_milli"),
    )
    return (
        z.select(
            "doc_id",
            "n_tokens",
            "n_green",
            "z_milli",
            (F.col("z_milli") >= _WM_FLAG_MILLI).alias("flagged"),
        )
        .orderBy(F.desc("z_milli"), "doc_id")
        .limit(_WM_TOPN)
    )


# ---------------------------------------------------------------------------
# Fleiss' kappa over deterministic pseudo-raters
# ---------------------------------------------------------------------------

_FK_RATERS = 5
_FK_CATS = 3
_FK_NOISE_PCT = 20  # each rater flips to a hash category 20% of the time


def _fk_rater_case(rater: int) -> str:
    """One pseudo-rater's category for a doc: the doc's true bucket
    (n_chars-derived, 3 classes) 80% of the time, an md5 category
    otherwise — raters share the signal but not the noise."""
    u = _md5_int_sql("CAST(doc_id AS VARCHAR)", 6, f"fkr{rater}-")
    noise_cat = f"{_md5_int_sql('CAST(doc_id AS VARCHAR)', 6, f'fkc{rater}-')} % {_FK_CATS}"
    true_cat = f"LEAST(n_chars // 300, {_FK_CATS - 1})"
    return (
        f"CASE WHEN {u} % 100 < {_FK_NOISE_PCT} THEN {noise_cat}"
        f" ELSE {true_cat} END"
    )


def _fk_oracle() -> str:
    rater_rows = " UNION ALL ".join(
        f"SELECT doc_id, CAST({_fk_rater_case(r)} AS BIGINT) AS cat"
        " FROM documents"
        for r in range(_FK_RATERS)
    )
    n, k = _FK_RATERS, _FK_CATS
    return f"""
    WITH votes AS MATERIALIZED (
        SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS v
        FROM ({rater_rows}) GROUP BY 1, 2
    ), per_doc AS (
        SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS ss
        FROM votes GROUP BY 1
    ), cat_tot AS (
        SELECT cat, CAST(SUM(v) AS BIGINT) AS cv FROM votes GROUP BY 1
    ), sums AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM per_doc) AS n_items,
               (SELECT CAST(SUM(ss) AS BIGINT) FROM per_doc) AS sum_ss,
               (SELECT CAST(SUM(cv * cv) AS BIGINT) FROM cat_tot) AS sum_cv2
    )
    SELECT n_items, sum_ss, sum_cv2,
           CAST(FLOOR(1000000 *
                ((CAST(sum_ss AS DOUBLE) - CAST(n_items AS DOUBLE) * {n})
                   / (CAST(n_items AS DOUBLE) * {n} * {n - 1})
                 - CAST(sum_cv2 AS DOUBLE)
                   / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)
                      * {n} * {n}))
                / (1 - CAST(sum_cv2 AS DOUBLE)
                   / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)
                      * {n} * {n}))
                + 0.5) AS BIGINT) AS kappa_ppm
    FROM sums
    """


@register(
    "q_fleiss_kappa",
    oracle=_fk_oracle(),
    tags=("llm", "annotation", "agreement", "fleiss-kappa", "eval"),
)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over five deterministic pseudo-raters and 3
    categories: chance-corrected multi-rater agreement — the statistic
    an annotation pipeline reads before trusting majority-vote labels,
    and the multi-rater generalization of q_filter_agreement's Cohen
    kappa. Raters share the document's true (length-derived) category
    80% of the time and an independent md5 category otherwise, so kappa
    lands well inside (0, 1) and moves if any rater's marginal drifts.

    Exactness: vote counts, per-item sum-of-squares, and category
    totals are exact BIGINT; kappa = (P_bar - P_e) / (1 - P_e) is IEEE
    double arithmetic over those exact integers in the SAME literal
    order on both engines, floored once to ppm. Plan: the rater sweep
    is a 5-literal explode riding the scan (never a UNION of
    per-rater scans on the Spark side), one (doc, cat) vote aggregate,
    one per-doc aggregate + one category rollup off the vote table, and
    a 1-row combine. The vote table spools once (two consumers with
    divergent grouping — the llm14 lesson). At 100 TB: one pass,
    shuffle O(docs x categories)."""
    from pulsar_lunar_spark.operators import corpus as C
    from pulsar_lunar_spark.session import scratch_dir

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    rater = d.select(
        "doc_id",
        "n_chars",
        F.explode(
            F.array(*[F.lit(r) for r in range(_FK_RATERS)])
        ).alias("r"),
    )
    # per-rater salts must match the oracle's literal CASE chain: build
    # the category expression as a CASE over the exploded rater id.
    noise_branch = " ".join(
        f"WHEN r = {r} THEN (CASE WHEN"
        f" CAST(conv(substring(md5(concat('fkr{r}-', CAST(doc_id AS STRING))), 1, 6), 16, 10) AS BIGINT) % 100 < {_FK_NOISE_PCT}"
        f" THEN CAST(conv(substring(md5(concat('fkc{r}-', CAST(doc_id AS STRING))), 1, 6), 16, 10) AS BIGINT) % {_FK_CATS}"
        f" ELSE LEAST(n_chars div 300, {_FK_CATS - 1}) END)"
        for r in range(_FK_RATERS)
    )
    votes_raw = (
        rater.select(
            "doc_id",
            F.expr(f"CAST(CASE {noise_branch} END AS BIGINT)").alias("cat"),
        )
        .groupBy("doc_id", "cat")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    slot = scratch_dir("pl_fk_votes", sf_dir)
    votes_raw.write.mode("overwrite").parquet(slot)
    votes = spark.read.parquet(slot)
    per_doc = votes.groupBy("doc_id").agg(
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss")
    )
    item_sums = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("ss").cast("long").alias("sum_ss"),
    )
    cat_sums = (
        votes.groupBy("cat")
        .agg(F.sum("v").cast("long").alias("cv"))
        .agg(F.sum(F.col("cv") * F.col("cv")).cast("long").alias("sum_cv2"))
    )
    n, k = _FK_RATERS, _FK_CATS
    return (
        item_sums.crossJoin(F.broadcast(cat_sums))
        .select(
            "n_items",
            "sum_ss",
            "sum_cv2",
            F.expr(
                f"CAST(FLOOR(1000000 *"
                f" ((CAST(sum_ss AS DOUBLE) - CAST(n_items AS DOUBLE) * {n})"
                f"    / (CAST(n_items AS DOUBLE) * {n} * {n - 1})"
                f"  - CAST(sum_cv2 AS DOUBLE)"
                f"    / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)"
                f"       * {n} * {n}))"
                f" / (1 - CAST(sum_cv2 AS DOUBLE)"
                f"    / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)"
                f"       * {n} * {n}))"
                f" + 0.5) AS BIGINT)"
            ).alias("kappa_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# IVF nprobe tuning sweep: recall@10 vs cells probed
# ---------------------------------------------------------------------------

_IVF_NPROBES = (1, 2, 4)
_IVF_TOPK = 10

_COS = """
ROUND(LIST_INNER_PRODUCT({a}, {b})
      / (SQRT(LIST_INNER_PRODUCT({a}, {a}))
         * SQRT(LIST_INNER_PRODUCT({b}, {b}))), 6)
"""


def _ivf_sweep_oracle() -> str:
    nps = ", ".join(str(n) for n in _IVF_NPROBES)
    return f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ), dims AS (SELECT i FROM generate_series(1, 64) AS t(i)),
    centroids AS (
        SELECT label, LIST(avg_e ORDER BY i) AS cv
        FROM (SELECT label, i, AVG(v[i]) AS avg_e
              FROM e CROSS JOIN dims GROUP BY label, i)
        GROUP BY label
    ), q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    ranked_cells AS MATERIALIZED (
        -- RAW-cosine routing, the exact expression q_ivf_topk's
        -- best_cell orders by: the sweep's nprobe=1 must be that query
        SELECT label,
               ROW_NUMBER() OVER (
                   ORDER BY LIST_INNER_PRODUCT(cv, qv)
                            / (SQRT(LIST_INNER_PRODUCT(cv, cv))
                               * SQRT(LIST_INNER_PRODUCT(qv, qv))) DESC,
                            label
               ) AS rn
        FROM centroids CROSS JOIN q
    ), exact_top AS MATERIALIZED (
        SELECT vec_id FROM (
            SELECT e.vec_id, {_COS.format(a="e.v", b="q.qv")} AS s
            FROM e CROSS JOIN q
        ) ORDER BY s DESC, vec_id LIMIT {_IVF_TOPK}
    ), cells AS (
        SELECT kk.np, rc.label
        FROM (SELECT UNNEST([{nps}]) AS np) kk
        JOIN ranked_cells rc ON rc.rn <= kk.np
    ), scanned AS MATERIALIZED (
        SELECT c.np, e.vec_id, {_COS.format(a="e.v", b="q.qv")} AS s
        FROM cells c JOIN e USING (label) CROSS JOIN q
    ), approx AS (
        SELECT np, vec_id FROM (
            SELECT np, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY np
                                      ORDER BY s DESC, vec_id) AS rn2
            FROM scanned
        ) WHERE rn2 <= {_IVF_TOPK}
    )
    SELECT s.np AS nprobe,
           CAST(COUNT(DISTINCT s.vec_id) AS BIGINT) AS n_scanned,
           CAST(SUM(CASE WHEN a.vec_id IS NOT NULL
                          AND x.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS overlap10,
           CAST((1000000 * SUM(CASE WHEN a.vec_id IS NOT NULL
                                     AND x.vec_id IS NOT NULL
                                    THEN 1 ELSE 0 END)) // {_IVF_TOPK}
                AS BIGINT) AS recall_ppm
    FROM scanned s
    LEFT JOIN approx a ON a.np = s.np AND a.vec_id = s.vec_id
    LEFT JOIN exact_top x ON x.vec_id = s.vec_id
    GROUP BY s.np ORDER BY nprobe
    """


@register(
    "q_ivf_nprobe_sweep",
    oracle=_ivf_sweep_oracle(),
    tags=("llm", "similarity", "ann", "ivf", "tuning"),
)
def q_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe tuning sweep: recall@10 of the probed-cells approximate
    top-k against the exact full-scan top-k, for nprobe in (1, 2, 4) —
    the recall-vs-cost curve an ANN deployment reads before pinning its
    nprobe (q_lsh_band_tuning's counterpart on the IVF side; q_ivf_topk
    is the nprobe=1 point made queryable). Monotone by construction:
    more cells probed => recall non-decreasing.

    Determinism: the q_retrieval_metrics discipline — vector rankings
    order by ROUND(cosine, 6) with vec_id tiebreaks on BOTH engines,
    cell ROUTING uses the raw-cosine expression q_ivf_topk routes by
    (so nprobe=1 is exactly that query), and every reported number is a
    rank-derived integer (cell counts, overlap, recall ppm), never a
    float. Plan: centroids are one per-label
    aggregate (10 rows); the cell ranking is a window over the 10-row
    centroid frame; the nprobe sweep is a 3-literal join; scanned
    vectors score ONCE per probe level against the broadcast query row
    behind a single np-clustered exchange shared by both consumers (the
    per-np count and the per-np top-k WindowGroupLimit); the recall
    join runs on the two 10-row top-k frames, never back onto the
    scanned stream; exact top-10 is one TakeOrdered full scan. At
    100 TB: the full scan belongs to the EVAL (computing true recall
    requires it — run on a sample in production); the probed path scans
    ~nprobe/n_cells of the corpus, which is the point of the sweep."""
    from pulsar_lunar_spark.operators import similarity as S
    from pulsar_lunar_spark.queries.llm2 import ivf_index_frames
    from pyspark.sql.window import Window

    e, centroids, q = ivf_index_frames(spark, sf_dir)
    # RAW-cosine routing, the exact expression q_ivf_topk's best cell
    # orders by — nprobe=1 here IS q_ivf_topk by construction.
    ranked_cells = (
        centroids.join(q)
        .select("label", S.cosine(F.col("cv"), F.col("qv")).alias("c"))
        .select(
            "label",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), F.asc("label")))
            .alias("rn"),
        )
    )
    exact_top = (
        e.join(q)
        .select(
            "vec_id", F.round(S.cosine(F.col("v"), F.col("qv")), 6).alias("s")
        )
        .orderBy(F.desc("s"), "vec_id")
        .limit(_IVF_TOPK)
        .select("vec_id")
    )
    nps = spark.range(1).select(
        F.explode(F.array(*[F.lit(n) for n in _IVF_NPROBES])).alias("np")
    )
    cells = F.broadcast(nps).join(
        F.broadcast(ranked_cells), F.col("rn") <= F.col("np")
    ).select("np", "label")
    # One np-clustered exchange serves BOTH consumers (the per-np count
    # and the per-np top-k window) — the scoring pipeline executes once.
    scanned = (
        e.join(F.broadcast(cells), "label")
        .join(q)
        .select(
            "np",
            "vec_id",
            F.round(S.cosine(F.col("v"), F.col("qv")), 6).alias("s"),
        )
        .repartition("np")
    )
    # countDistinct matches the oracle's COUNT(DISTINCT vec_id) expression
    # form, not just its value: ranked_cells is distinct per (np, label)
    # by construction today, but a plain COUNT would silently diverge the
    # moment any future change can emit a duplicate row (ADVICE r9). Sole
    # aggregate in this agg(), so no Expand multiplication (r2 lesson).
    n_scanned_df = scanned.groupBy("np").agg(
        F.countDistinct("vec_id").cast("long").alias("n_scanned")
    )
    w_np = Window.partitionBy("np").orderBy(F.desc("s"), F.asc("vec_id"))
    approx = (
        scanned.select("np", "vec_id", F.row_number().over(w_np).alias("rn2"))
        .filter(F.col("rn2") <= _IVF_TOPK)
        .select(F.col("np").alias("a_np"), F.col("vec_id").alias("a_vec"))
    )
    overlap_df = (
        approx.join(
            F.broadcast(exact_top.select(F.col("vec_id").alias("x_vec"))),
            F.col("a_vec") == F.col("x_vec"),
        )
        .groupBy("a_np")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap10"))
    )
    return (
        n_scanned_df.join(
            F.broadcast(overlap_df), F.col("np") == F.col("a_np"), "left"
        )
        .select(
            F.col("np").cast("long").alias("nprobe"),
            "n_scanned",
            F.coalesce("overlap10", F.lit(0)).cast("long").alias("overlap10"),
            F.expr(
                f"(1000000L * coalesce(overlap10, 0L)) div {_IVF_TOPK}"
            )
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("nprobe")
    )
