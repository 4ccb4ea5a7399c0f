"""LLM-pipeline batch 17 (round 10): the trainable-classifier and
multimodal-curation asks from the r9 verdict —

- trainable hashed logistic-regression quality classifier
  (``q_train_quality_lr``): N deterministic full-batch gradient epochs
  over hashed bag-of-words features, all-integer ppm arithmetic — the
  one missing step in the classifier family (every earlier classifier
  query scored with FIXED md5 weights); evaluated against that fixed
  classifier on a held-out split;
- ROUGE-L / LCS overlap eval (``q_rouge_overlap``): longest-common-
  subsequence recall between reference/candidate pairs — the summary-
  overlap eval, reusing the duplicate-span discipline;
- audio fingerprint dedup (``q_audio_fingerprint_dedup``): spectral
  band-energy fingerprints over the WAV lane, banded lookup like
  SimHash — near-duplicate audio detection;
- scene-cut detection (``q_scene_cuts``): frame-delta thresholds +
  gaps-and-islands over the AVI frame lane — shot segmentation, the
  first step of any video curation pipeline (lives in queries/media.py
  with the image dHash dedup, next to the other media lanes);
- Matryoshka truncation eval (``q_matryoshka_eval``): top-10 overlap
  between the full-dimension and prefix-dimension neighbor rankings —
  the go/no-go measurement before serving truncated MRL embeddings;
- ANN hubness audit (``q_ann_hubness``): k-occurrence skew of the
  retrieval graph — the hub-domination check before trusting kNN lists.

Determinism discipline: the llm13-16 rules (integer ppm/micro BIGINT,
sign-separated division, EXP/LN at clamped micro floors written in the
same literal order on both engines, total tiebreak orders).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators.corpus import md5_int, md5_int_sql
from pulsar_lunar_spark.operators.dedup import normalize_text
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import ensure_parallelism, load_table

_NORM = "REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')"


# ---------------------------------------------------------------------------
# Trainable hashed logistic-regression quality classifier
# ---------------------------------------------------------------------------

_LR_BUCKETS = 64  # hashed bag-of-words feature buckets; bucket 64 = bias
_LR_BIAS_CNT = 16  # bias feature "count": comparable to token-count scale,
# so the intercept learns at the same rate as the count features (a raw
# cnt=1 bias moves ~50x slower than needed and the threshold never forms)
_LR_ETA = 20_000  # learning rate in ppm (0.02)
_LR_EPOCHS = 4
_LR_MIN_WORDS = 56  # the quality gate being distilled: docs shorter fail
_LR_CLAMP = 13_000_000  # micro-logit clamp: exp(13)*1e6 ~ 4.4e11 << int64


def _lr_p_ppm_sql(lg: str) -> str:
    """sigmoid(lg/1e6) floored to exact ppm — the shared literal-order
    expression both engines evaluate identically (clamped EXP at micro
    floors, the r8 DoReMi/PSI precedent)."""
    clamped = f"LEAST(GREATEST({lg}, -{_LR_CLAMP}), {_LR_CLAMP})"
    e = (
        f"CAST(FLOOR(EXP((0 - CAST({clamped} AS DOUBLE)) / 1000000.0)"
        f" * 1000000 + 0.5) AS BIGINT)"
    )
    return f"(1000000000000 // (1000000 + {e}))"


def _lr_feats_sql() -> str:
    """The (doc_id, y, b, cnt) hashed-feature CTE block (MATERIALIZED —
    five consumers: n_train, 4 epoch joins, the accuracy pass)."""
    return f"""
    docs AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT({_NORM}, ' '), x -> LEN(x) > 0)
                   AS words
        FROM documents
    ), lab AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN LEN(words) >= {_LR_MIN_WORDS}
                    THEN 1 ELSE 0 END AS y,
               words
        FROM docs
    ), f AS MATERIALIZED (
        SELECT doc_id, y, b, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, y,
                     {md5_int_sql("UNNEST(words)")} % {_LR_BUCKETS} AS b
              FROM lab)
        GROUP BY doc_id, y, b
        UNION ALL
        SELECT doc_id, y, {_LR_BUCKETS} AS b,
               CAST({_LR_BIAS_CNT} AS BIGINT) AS cnt
        FROM lab
    ), ntr AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM lab WHERE doc_id % 2 = 0
    )"""


def _lr_w_chain_sql() -> str:
    """The WITH chain through the trained w{_LR_EPOCHS} weight CTE —
    shared by the q_train_quality_lr oracle and the
    q_distill_threshold_eval oracle (llm18), so the two replicas of the
    training chain cannot drift.

    w0 = zeros; each epoch: per-doc logit join -> sigmoid err on the
    train split -> per-bucket integer gradient -> sign-separated
    truncating update. Every epoch CTE is MATERIALIZED (the r8 lesson:
    chained iteration CTEs referenced twice inline exponentially)."""
    parts = [f"WITH {_lr_feats_sql()}, w0 AS MATERIALIZED ("]
    parts.append(
        f"    SELECT UNNEST(RANGE(0, {_LR_BUCKETS + 1})) AS b,"
        " CAST(0 AS BIGINT) AS wv)"
    )
    for t in range(1, _LR_EPOCHS + 1):
        prev = f"w{t - 1}"
        upd = (
            f"CASE WHEN COALESCE(g.g, 0) >= 0 THEN "
            f"(({_LR_ETA} * COALESCE(g.g, 0)) // ntr.n) // 1000000 "
            f"ELSE -((({_LR_ETA} * (-g.g)) // ntr.n) // 1000000) END"
        )
        parts.append(
            f""", lg{t} AS (
        SELECT f.doc_id, ANY_VALUE(f.y) AS y,
               CAST(SUM(w.wv * f.cnt) AS BIGINT) AS lg
        FROM f JOIN {prev} w USING (b)
        WHERE f.doc_id % 2 = 0
        GROUP BY f.doc_id
    ), er{t} AS MATERIALIZED (
        SELECT doc_id,
               CAST({_lr_p_ppm_sql("lg")} - 1000000 * y AS BIGINT) AS err
        FROM lg{t}
    ), g{t} AS (
        SELECT f.b, CAST(SUM(e.err * f.cnt) AS BIGINT) AS g
        FROM f JOIN er{t} e USING (doc_id)
        GROUP BY f.b
    ), w{t} AS MATERIALIZED (
        SELECT w.b, CAST(w.wv - {upd} AS BIGINT) AS wv
        FROM {prev} w LEFT JOIN g{t} g USING (b) CROSS JOIN ntr
    )"""
        )
    return "".join(parts)


def _lr_oracle() -> str:
    parts = [_lr_w_chain_sql()]
    # fixed-classifier baseline weights (the corpus.py md5 convention the
    # whole fixed-classifier family uses); bias bucket weight 0.
    parts.append(
        f""", wf AS MATERIALIZED (
        SELECT UNNEST(RANGE(0, {_LR_BUCKETS})) AS b0
    ), wfx AS MATERIALIZED (
        SELECT CAST(b0 AS BIGINT) AS b,
               CAST({md5_int_sql("CAST(b0 AS VARCHAR)", 6, "w-")} % 2001
                    - 1000 AS BIGINT) AS wv
        FROM wf
        UNION ALL SELECT {_LR_BUCKETS}, 0
    )"""
    )
    # accuracy pass: per-doc logits under each epoch's weights + fixed
    epoch_lgs = ", ".join(
        f"CAST(SUM(w{t}.wv * f.cnt) AS BIGINT) AS lg{t}"
        for t in range(1, _LR_EPOCHS + 1)
    )
    epoch_joins = " ".join(
        f"JOIN w{t} ON w{t}.b = f.b" for t in range(1, _LR_EPOCHS + 1)
    )
    parts.append(
        f""", scoreall AS MATERIALIZED (
        SELECT f.doc_id, ANY_VALUE(f.y) AS y, {epoch_lgs},
               CAST(SUM(wfx.wv * f.cnt) AS BIGINT) AS lgf
        FROM f {epoch_joins} JOIN wfx ON wfx.b = f.b
        GROUP BY f.doc_id
    )"""
    )
    rows = []
    for t in range(1, _LR_EPOCHS + 1):
        rows.append(
            f"""
    SELECT CAST({t} AS BIGINT) AS epoch,
           (SELECT CAST(SUM(ABS(wv)) AS BIGINT) FROM w{t}) AS w_l1_micro,
           CAST((1000000 * SUM(CASE WHEN doc_id % 2 = 0
                    AND (CASE WHEN lg{t} >= 0 THEN 1 ELSE 0 END) = y
                    THEN 1 ELSE 0 END))
                // SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS train_acc_ppm,
           CAST((1000000 * SUM(CASE WHEN doc_id % 2 = 1
                    AND (CASE WHEN lg{t} >= 0 THEN 1 ELSE 0 END) = y
                    THEN 1 ELSE 0 END))
                // SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS eval_acc_ppm,
           CAST((1000000 * SUM(CASE WHEN doc_id % 2 = 1
                    AND (CASE WHEN lgf >= 0 THEN 1 ELSE 0 END) = y
                    THEN 1 ELSE 0 END))
                // SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS fixed_eval_acc_ppm
    FROM scoreall"""
        )
    parts.append(" UNION ALL ".join(rows))
    parts.append(" ORDER BY epoch")
    return "".join(parts)


def lr_model(spark: SparkSession, sf_dir: str, *, force_train: bool = False):
    """The shared trainable-LR pipeline: spooled hashed-feature table +
    the four trained epoch weight vectors (exact integer GD). Factored
    out so q_train_quality_lr and q_distill_threshold_eval (llm18) share
    one pipeline instead of drifting copies (the r9 factoring rule).

    The trained epoch weights are a session.artifact.
    ``force_train=True`` (q_train_quality_lr — the training operator
    itself) is the artifact's ``rebuild``: it re-runs the 4 gradient
    epochs unconditionally and refreshes the model for consumers (r12:
    the timed region of a query whose declared computation is training
    must train; VERDICT r11 item 1); the default consumer path (the
    distill eval) reuses the model and trains only when it is absent —
    the dedup-operator/pair-table-consumer split the r11 verdict
    endorsed for the minhash family.

    Returns (feats DataFrame, n_train, epoch_weights, logit_agg) where
    logit_agg(weights, name) is the 65-literal-array logit aggregate
    expression over (b, cnt) rows."""
    from pulsar_lunar_spark.session import artifact, shared_spool

    def feats_build() -> DataFrame:
        d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
        words = F.filter(
            F.split(normalize_text(F.col("text")), " "),
            lambda x: F.length(x) > 0,
        )
        lab = d.select(
            "doc_id",
            F.when(F.size(words) >= _LR_MIN_WORDS, 1)
            .otherwise(0)
            .cast("long")
            .alias("y"),
            words.alias("__w"),
        )
        tok = lab.select(
            "doc_id", "y", F.explode("__w").alias("__word")
        ).select(
            "doc_id",
            "y",
            (md5_int(F.col("__word")) % _LR_BUCKETS).alias("b"),
        )
        counts = tok.groupBy("doc_id", "y", "b").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        bias = lab.select(
            "doc_id",
            "y",
            F.lit(_LR_BUCKETS).cast("long").alias("b"),
            F.lit(_LR_BIAS_CNT).cast("long").alias("cnt"),
        )
        # 8 spool files, not 32+: five passes per call re-read this
        # artifact, and per-stage task-scheduling floors scale with file
        # count on a ~100 k-row table (same-session A/B: 3.67 -> 3.21 s)
        return counts.unionByName(bias).repartition(8)

    feats = shared_spool(spark, sf_dir, "pulsar_lunar_lr_feats", feats_build)

    from pyspark.sql.window import Window

    w_doc = Window.partitionBy("doc_id")

    def logit_win(weights: list[int]):
        arr = F.array(*[F.lit(int(v)).cast("long") for v in weights])
        return F.sum(
            F.element_at(arr, (F.col("b") + 1).cast("int")) * F.col("cnt")
        ).over(w_doc).cast("long")

    def logit_agg(weights: list[int], name: str):
        arr = F.array(*[F.lit(int(v)).cast("long") for v in weights])
        return (
            F.sum(F.element_at(arr, (F.col("b") + 1).cast("int")) * F.col("cnt"))
            .cast("long")
            .alias(name)
        )

    # n_train is a property of the spooled feature table — an artifact,
    # counted once, not once per call (one whole Spark job)
    n_train = artifact(
        spark,
        sf_dir,
        "lr_n_train",
        lambda: feats.filter(
            (F.col("b") == _LR_BUCKETS) & (F.col("doc_id") % 2 == 0)
        ).count(),
    )

    def tdiv(a: int, b: int) -> int:
        return a // b if a >= 0 else -((-a) // b)

    p_sql = (
        "1000000000000L div (1000000L + cast(floor("
        f"exp((0 - cast(least(greatest(lg, {-_LR_CLAMP}L), "
        f"{_LR_CLAMP}L) as double)) / 1000000.0) * 1000000 + 0.5"
        ") as long))"
    )
    # The gradient jobs reduce to 65 rows — 32 shuffle partitions are
    # pure task overhead. The 8-partition override runs on a CLONED
    # session (isolated SQLConf, shared SparkContext) reading the spool
    # parquet directly, so concurrent queries on the caller's session
    # (threaded parity/bench harness) never plan against the flipped conf
    # (ADVICE r10 — the finally-restore only protected sequential
    # callers). A doc-keyed persist across epochs measured a WASH (the
    # per-epoch cost is job scheduling floor, not the exchange — window
    # form 0.52 s vs plain agg 0.23 s on 100k spool rows at sf0.1) and
    # added cache lifecycle; this stays the plain spool-scan loop.
    def train() -> tuple[tuple[int, ...], ...]:
        eng = spark.newSession()
        eng.conf.set("spark.sql.shuffle.partitions", "8")
        eng.conf.set("spark.sql.session.timeZone", "UTC")
        files = feats.inputFiles()
        eng_feats = eng.read.parquet(files[0].rsplit("/", 1)[0]) if files else feats
        split = eng_feats.filter(F.col("doc_id") % 2 == 0)
        weights = [0] * (_LR_BUCKETS + 1)
        epoch_weights = []
        for epoch in range(_LR_EPOCHS):
            if epoch == 0:
                # w0 = 0 => every logit is exactly 0, p is exactly 500000
                # ppm: the first gradient needs no per-doc pass at all —
                # the same integers the generic path produces, one
                # window-stage cheaper.
                scored = split.select(
                    "b", "cnt", (500_000 - 1_000_000 * F.col("y")).alias("err")
                )
            else:
                scored = split.select(
                    "doc_id", "y", "b", "cnt", logit_win(weights).alias("lg")
                ).select(
                    "b",
                    "cnt",
                    (F.expr(p_sql) - 1_000_000 * F.col("y")).alias("err"),
                )
            grad_rows = (
                scored.groupBy("b")
                .agg(F.sum(F.col("err") * F.col("cnt")).cast("long").alias("g"))
                .collect()
            )
            grads = {int(r["b"]): int(r["g"]) for r in grad_rows}
            weights = [
                weights[b]
                - tdiv(tdiv(_LR_ETA * grads.get(b, 0), n_train), 1_000_000)
                for b in range(_LR_BUCKETS + 1)
            ]
            epoch_weights.append(tuple(weights))
        return tuple(epoch_weights)

    epoch_weights = artifact(spark, sf_dir, "lr_model", train, rebuild=force_train)
    return feats, n_train, epoch_weights, logit_agg


@register(
    "q_train_quality_lr",
    oracle=_lr_oracle(),
    tags=("llm", "classifier", "training", "logistic-regression"),
)
def q_train_quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINABLE hashed logistic-regression quality classifier — the
    fastText-style distillation step every earlier classifier query
    skipped (they all score with FIXED md5 weights): four deterministic
    full-batch gradient epochs learn a heuristic quality gate (docs
    shorter than 56 tokens fail) from 64 hashed bag-of-words buckets
    plus a scaled bias feature, trained on the even-doc_id split and
    evaluated on the odd split against the fixed-weight baseline.
    Training lifts held-out accuracy from the fixed classifier's ~57%
    (chance-ish) into the 90s within four epochs at sf0.01+.

    Exactness: logits are exact BIGINT micro sums; the sigmoid floors
    ONCE to ppm through the shared clamped-EXP expression (r8 DoReMi
    precedent); gradients are exact integer sums of err*cnt; the update
    is a sign-separated double truncating division (eta*g // n //
    1e6) identical in Python, Spark, and DuckDB. Every epoch is
    bit-reproducible — rerunning training yields byte-identical weights.

    Plan: the hashed-feature table (doc_id, y, bucket, cnt) comes from a
    process-shared spool (featurize once, train/eval many); each epoch
    is ONE pass over it — a doc-partitioned window computes per-doc
    logits with the current weights embedded as a 65-literal array (no
    weights join; the kmeans literal-argmin precedent, fixed 65 ints so
    no codegen churn), the train-split error rides the same rows, and a
    bucket groupBy reduces to a 65-row gradient collected to the driver
    (the kmeans bounded-collect shape). The accuracy pass scores all
    four epoch models plus the fixed baseline in ONE further pass (five
    literal-array sums over the same window). At 100 TB: per epoch, one
    doc-keyed exchange + one 65-row aggregate — the textbook distributed
    full-batch GD shape; gradients stay in int64 below ~9e12 tokens per
    bucket, beyond which shard-and-average the gradient (documented
    deviation).

    Round 12 (VERDICT r11 item 1): the r11 cross-call weight
    memoisation is GONE from this query — every call re-runs the four
    gradient epochs (``force_train``, the artifact store's producer
    rule); the bench's timed reps pay the full declared training, and
    the weights survive only as the model artifact
    q_distill_threshold_eval consumes (the
    dedup-operator/pair-table-consumer split). The r10-suggested
    eval-into-epoch-4 fold is provably impossible: the eval pass scores
    per-doc logits under the epoch-4 weights, which exist only after
    epoch 4's own 65-row gradient collect returns — the five jobs (4
    gradient passes + 1 scoring pass) are a true sequential chain, and
    piggybacking epoch t-1's accuracies on epoch t's pass still leaves
    a final w4+fixed pass, so the job count cannot drop below five.
    Per-call accept band re-measured r12 (BASELINE.md)."""
    feats, n_train, epoch_weights, logit_agg = lr_model(
        spark, sf_dir, force_train=True
    )

    w_fixed = [
        int(
            int(
                __import__("hashlib")
                .md5(f"w-{b}".encode())
                .hexdigest()[:6],
                16,
            )
            % 2001
            - 1000
        )
        for b in range(_LR_BUCKETS)
    ] + [0]
    # One scoring pass: per-doc logits under all epoch models + the fixed
    # baseline ride ONE hash aggregate (map-side partial sums — no window
    # sort, no join-back needed here), then one accuracy agg + stack().
    per_doc = feats.groupBy("doc_id").agg(
        F.first("y").alias("y"),
        *[
            logit_agg(epoch_weights[t], f"lg{t + 1}")
            for t in range(_LR_EPOCHS)
        ],
        logit_agg(w_fixed, "lgf"),
    )
    agg_cols = []
    for t in range(1, _LR_EPOCHS + 1):
        agg_cols.append(
            F.expr(
                f"(1000000L * sum(case when doc_id % 2 = 0 and "
                f"(case when lg{t} >= 0 then 1 else 0 end) = y then 1 else 0"
                " end)) div sum(case when doc_id % 2 = 0 then 1 else 0 end)"
            )
            .cast("long")
            .alias(f"tr{t}")
        )
        agg_cols.append(
            F.expr(
                f"(1000000L * sum(case when doc_id % 2 = 1 and "
                f"(case when lg{t} >= 0 then 1 else 0 end) = y then 1 else 0"
                " end)) div sum(case when doc_id % 2 = 1 then 1 else 0 end)"
            )
            .cast("long")
            .alias(f"ev{t}")
        )
    agg_cols.append(
        F.expr(
            "(1000000L * sum(case when doc_id % 2 = 1 and "
            "(case when lgf >= 0 then 1 else 0 end) = y then 1 else 0 end))"
            " div sum(case when doc_id % 2 = 1 then 1 else 0 end)"
        )
        .cast("long")
        .alias("evf")
    )
    one = per_doc.agg(*agg_cols)
    l1s = [sum(abs(v) for v in epoch_weights[t]) for t in range(_LR_EPOCHS)]
    stack_expr = ", ".join(
        f"{t + 1}L, {l1s[t]}L, tr{t + 1}, ev{t + 1}, evf"
        for t in range(_LR_EPOCHS)
    )
    return one.select(
        F.expr(
            f"stack({_LR_EPOCHS}, {stack_expr}) as "
            "(epoch, w_l1_micro, train_acc_ppm, eval_acc_ppm,"
            " fixed_eval_acc_ppm)"
        )
    ).orderBy("epoch")


# ---------------------------------------------------------------------------
# ROUGE-L / LCS overlap eval (block-extractive regime)
# ---------------------------------------------------------------------------

_ROUGE_K = 5  # positional k-gram width for span matching
_ROUGE_MIN_WORDS = 25  # every planted block then has >= 5 tokens

_ROUGE_WORDS = (
    "LIST_FILTER(STRING_SPLIT(REGEXP_REPLACE(TRIM(LOWER(text)),"
    " '\\s+', ' ', 'g'), ' '), x -> LEN(x) > 0)"
)


def _rouge_oracle() -> str:
    return f"""
    WITH refs AS (
        SELECT doc_id, {_ROUGE_WORDS} AS words
        FROM documents
        WHERE doc_id % 7 = 3 AND LEN({_ROUGE_WORDS}) >= {_ROUGE_MIN_WORDS}
    ), pairs AS MATERIALIZED (
        SELECT doc_id, words,
               LIST_CONCAT(LIST_CONCAT(LIST_CONCAT(LIST_CONCAT(
                   words[1 : LEN(words) // 5 + 1], ['zqxnoise1']),
                   words[2 * (LEN(words) // 5) + 1 : 3 * (LEN(words) // 5)]),
                   ['zqxnoise2']),
                   words[4 * (LEN(words) // 5) + 1 : LEN(words)]) AS cand
        FROM refs
    ), rg AS (
        SELECT doc_id, i AS p_r,
               ARRAY_TO_STRING(words[i : i + {_ROUGE_K} - 1], ' ') AS g
        FROM pairs, UNNEST(RANGE(1, LEN(words) - {_ROUGE_K} + 2)) u(i)
    ), cg AS (
        SELECT doc_id, i AS p_c,
               ARRAY_TO_STRING(cand[i : i + {_ROUGE_K} - 1], ' ') AS g
        FROM pairs, UNNEST(RANGE(1, LEN(cand) - {_ROUGE_K} + 2)) u(i)
    ), covered AS (
        SELECT DISTINCT cg.doc_id, cg.p_c + o.off AS pos
        FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.g = rg.g
        CROSS JOIN (SELECT UNNEST(RANGE(0, {_ROUGE_K})) AS off) o
    ), lcs AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS lcs_tokens
        FROM covered GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(LEN(p.words) AS BIGINT) AS ref_tokens,
           CAST(LEN(p.cand) AS BIGINT) AS cand_tokens,
           CAST(COALESCE(l.lcs_tokens, 0) AS BIGINT) AS lcs_tokens,
           CAST((1000000 * COALESCE(l.lcs_tokens, 0)) // LEN(p.words)
                AS BIGINT) AS rouge_recall_ppm,
           CAST((1000000 * COALESCE(l.lcs_tokens, 0)) // LEN(p.cand)
                AS BIGINT) AS rouge_precision_ppm
    FROM pairs p LEFT JOIN lcs l USING (doc_id)
    ORDER BY p.doc_id
    """


@register(
    "q_rouge_overlap",
    oracle=_rouge_oracle(),
    tags=("llm", "eval", "rouge", "lcs", "overlap"),
)
def q_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L (LCS) recall/precision between reference documents and
    planted block-extractive candidate summaries — the summary-overlap
    eval, computed distributively through positional 5-gram span
    matching (the duplicate-span discipline, llm14): a candidate token
    position counts toward the LCS when any 5-gram covering it appears
    verbatim in the reference. In the block-extractive regime (every
    candidate is ordered whole blocks of >= 5 reference tokens plus
    out-of-vocabulary noise separators) this equals the true DP LCS
    EXACTLY — noise tokens can never match, block tokens always do, and
    order is preserved by construction — which
    tests/test_llm17.py pins against a real O(n*m) DP per pair. On
    free-form candidates the same plan is the standard lower-bound
    span-overlap eval (the decontamination-style measure).

    Plan: one scan builds refs + candidates (pairs are every 7th
    sufficiently long doc); positional k-grams explode both sides, ONE
    equi-join on (doc_id, gram) finds shared spans, a distinct-position
    count per doc is the LCS mass. Shuffles are O(tokens) keyed by
    (doc, gram) — never quadratic in pair length, unlike the DP."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    words_raw = F.filter(
        F.split(normalize_text(F.col("text")), " "),
        lambda x: F.length(x) > 0,
    )
    refs = d.select("doc_id", words_raw.alias("words")).filter(
        (F.col("doc_id") % 7 == 3) & (F.size("words") >= _ROUGE_MIN_WORDS)
    )
    n5 = F.expr("size(words) div 5")
    cand = F.concat(
        F.slice(F.col("words"), 1, n5 + F.lit(1)),
        F.array(F.lit("zqxnoise1")),
        F.expr(
            "slice(words, 2 * (size(words) div 5) + 1,"
            " (size(words) div 5))"
        ),
        F.array(F.lit("zqxnoise2")),
        F.expr(
            "slice(words, 4 * (size(words) div 5) + 1,"
            " size(words) - 4 * (size(words) div 5))"
        ),
    )
    pairs = refs.select("doc_id", "words", cand.alias("cand"))

    def kgrams(col: str, pos_name: str):
        return F.expr(
            f"transform(sequence(1, size({col}) - {_ROUGE_K} + 1),"
            f" i -> struct(i as {pos_name},"
            f" concat_ws(' ', slice({col}, i, {_ROUGE_K})) as g))"
        )

    rg = pairs.select(
        "doc_id", F.explode(kgrams("words", "p_r")).alias("x")
    ).select("doc_id", "x.p_r", "x.g")
    cg = pairs.select(
        "doc_id", F.explode(kgrams("cand", "p_c")).alias("x")
    ).select("doc_id", "x.p_c", "x.g")
    covered = (
        cg.join(rg, ["doc_id", "g"])
        .select(
            "doc_id",
            F.explode(
                F.expr(f"transform(sequence(0, {_ROUGE_K} - 1), o -> p_c + o)")
            ).alias("pos"),
        )
        .distinct()
    )
    lcs = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("lcs_tokens")
    )
    return (
        pairs.join(lcs, "doc_id", "left")
        .select(
            "doc_id",
            F.size("words").cast("long").alias("ref_tokens"),
            F.size("cand").cast("long").alias("cand_tokens"),
            F.coalesce(F.col("lcs_tokens"), F.lit(0))
            .cast("long")
            .alias("lcs_tokens"),
            F.expr(
                "(1000000L * coalesce(lcs_tokens, 0L)) div size(words)"
            )
            .cast("long")
            .alias("rouge_recall_ppm"),
            F.expr(
                "(1000000L * coalesce(lcs_tokens, 0L)) div size(cand)"
            )
            .cast("long")
            .alias("rouge_precision_ppm"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation eval (MRL): does a prefix of the embedding
# preserve the full-dimension ranking?
# ---------------------------------------------------------------------------

_MRL_K = 10
_MRL_DIMS = (16, 32)
_MRL_N_QUERIES = 4  # vec_id < 4, the kmeans/IVF anchor convention


def _mrl_oracle() -> str:
    per_dim = []
    for d in _MRL_DIMS:
        per_dim.append(
            f"""
    SELECT f.qid, CAST({d} AS BIGINT) AS trunc_dim,
           CAST(COUNT(t.vec_id) AS BIGINT) AS overlap{'' if d else ''}
    FROM rf f LEFT JOIN r{d} t
      ON f.qid = t.qid AND f.vec_id = t.vec_id AND t.rn <= {_MRL_K}
    WHERE f.rn <= {_MRL_K}
    GROUP BY f.qid"""
        )
    rank_ctes = ", ".join(
        f"r{d} AS (SELECT qid, vec_id, ROW_NUMBER() OVER ("
        f"PARTITION BY qid ORDER BY s{d} DESC, vec_id) AS rn FROM sc)"
        for d in _MRL_DIMS
    )
    dim_sums = ", ".join(
        f"CAST(SUM(CASE WHEN p.pos <= {d} THEN p.xk * a.qv ELSE 0 END)"
        f" AS BIGINT) AS s{d}"
        for d in _MRL_DIMS
    )
    return f"""
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
    ), anchors AS MATERIALIZED (
        SELECT vec_id AS qid, pos, xk AS qv FROM pts
        WHERE vec_id < {_MRL_N_QUERIES}
    ), sc AS MATERIALIZED (
        SELECT a.qid, p.vec_id,
               CAST(SUM(p.xk * a.qv) AS BIGINT) AS s_full,
               {dim_sums}
        FROM pts p JOIN anchors a USING (pos)
        WHERE p.vec_id != a.qid
        GROUP BY a.qid, p.vec_id
    ), rf AS (
        SELECT qid, vec_id, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY s_full DESC, vec_id) AS rn FROM sc
    ), {rank_ctes}
    SELECT qid, trunc_dim, overlap AS overlap10
    FROM ({" UNION ALL ".join(per_dim)})
    ORDER BY qid, trunc_dim
    """


@register(
    "q_matryoshka_eval",
    oracle=_mrl_oracle(),
    tags=("llm", "embeddings", "matryoshka", "ann", "eval"),
)
def q_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation eval (Kusupati et al. 2022): how much of
    the FULL 64-dim nearest-neighbor ranking survives when vectors are
    truncated to their first 16/32 dimensions — the go/no-go measurement
    before serving truncated embeddings (the memory/latency lever every
    MRL deployment pulls). For each anchor query (vec_id < 4, the
    IVF/kmeans convention), top-10 overlap between the full-dot ranking
    and each prefix-dot ranking, in exact kilo-quantized integer dot
    products (the q_pca_power discipline) with a total (score DESC,
    vec_id) tiebreak — rank-derived integers, hash-exact cross-engine.

    Plan: ONE dims-exploded pass (the relational dim-matmul shape —
    points explode by position, the 4x64 anchor side broadcasts) feeds a
    single (qid, vec) aggregate computing the full dot AND every prefix
    dot as conditional sums (the nprobe-sweep lesson: score once,
    aggregate per config — never re-scan per truncation); the three
    rankings are windows over the same qid-partitioned exchange, and
    overlaps are top-10-row joins. At 100 TB: O(N·dims) exchange, then
    everything is query-count-bounded."""
    emb = load_table(spark, sf_dir, "embeddings")
    qk = F.expr(
        "transform(cast(embedding as array<double>),"
        " x -> cast(floor(x * 1000 + 0.5) as bigint))"
    )
    pts = emb.select("vec_id", qk.alias("qk")).select(
        "vec_id", F.posexplode("qk").alias("pos0", "xk")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "xk")
    anchors = pts.filter(F.col("vec_id") < _MRL_N_QUERIES).select(
        F.col("vec_id").alias("qid"), "pos", F.col("xk").alias("qv")
    )
    # ONE qid-keyed exchange serves everything downstream: the
    # repartition BEFORE the aggregate satisfies the (qid, vec) groupBy
    # (subset rule), all THREE rank windows, and the final per-qid
    # overlap aggregate — without it each window re-derived the whole
    # dims-exploded join (17 exchanges -> 3).
    sc = (
        pts.join(F.broadcast(anchors), "pos")
        .filter(F.col("vec_id") != F.col("qid"))
        .repartition("qid")
        .groupBy("qid", "vec_id")
        .agg(
            F.sum(F.col("xk") * F.col("qv")).cast("long").alias("s_full"),
            *[
                F.sum(
                    F.when(F.col("pos") <= d, F.col("xk") * F.col("qv"))
                    .otherwise(0)
                )
                .cast("long")
                .alias(f"s{d}")
                for d in _MRL_DIMS
            ],
        )
    )
    from pyspark.sql.window import Window

    def rank_col(score_col: str):
        w = Window.partitionBy("qid").orderBy(
            F.desc(score_col), F.asc("vec_id")
        )
        return F.row_number().over(w)

    ranked = sc.select(
        "qid",
        rank_col("s_full").alias("rn_full"),
        *[rank_col(f"s{d}").alias(f"rn{d}") for d in _MRL_DIMS],
    )
    # overlap@10 = rows inside BOTH top-10s — a conditional count, no
    # top-10 self-joins; dims unfold via stack on the 4-row aggregate
    ov = ranked.groupBy("qid").agg(
        *[
            F.sum(
                F.when(
                    (F.col("rn_full") <= _MRL_K) & (F.col(f"rn{d}") <= _MRL_K),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"ov{d}")
            for d in _MRL_DIMS
        ]
    )
    stack_expr = ", ".join(f"{d}L, ov{d}" for d in _MRL_DIMS)
    return (
        ov.select(
            F.col("qid").cast("long").alias("qid"),
            F.expr(
                f"stack({len(_MRL_DIMS)}, {stack_expr})"
                " as (trunc_dim, overlap10)"
            ),
        )
        .orderBy("qid", "trunc_dim")
    )


# ---------------------------------------------------------------------------
# ANN hubness audit: k-occurrence skew of the retrieval graph
# ---------------------------------------------------------------------------

_HUB_K = 10
_HUB_TOPN = 20
_HUB_QUERY_MOD = 10  # every 10th vector queries — a corpus-proportional sample


def _hubness_oracle() -> str:
    return f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id % {_HUB_QUERY_MOD} = 0
    ), scored AS (
        SELECT q_id, vec_id,
               ROUND(LIST_INNER_PRODUCT(CAST(embedding AS DOUBLE[]), qv)
                     / (SQRT(LIST_INNER_PRODUCT(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[])))
                        * SQRT(LIST_INNER_PRODUCT(qv, qv))), 6) AS cosine_sim
        FROM embeddings CROSS JOIN q
        WHERE vec_id != q_id
    ), knn AS MATERIALIZED (
        SELECT q_id, vec_id
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY cosine_sim DESC, vec_id) AS rn
              FROM scored)
        WHERE rn <= {_HUB_K}
    )
    SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS k_occurrence
    FROM knn GROUP BY vec_id
    ORDER BY k_occurrence DESC, vec_id
    LIMIT {_HUB_TOPN}
    """


@register(
    "q_ann_hubness",
    oracle=_hubness_oracle(),
    tags=("llm", "embeddings", "ann", "hubness", "eval"),
)
def q_ann_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the retrieval graph (Radovanović et al. 2010):
    how often each corpus vector appears in other vectors' top-10 —
    high-dimensional similarity search concentrates retrieval onto a few
    "hub" points, which silently dominate RAG contexts and kNN labels;
    the k-occurrence leaderboard is the measurement a retrieval stack
    checks before trusting its neighbor lists. Queries are a
    corpus-proportional sample (every 10th vector, self excluded);
    ranking is the q_knn_join lane verbatim — round-6 cosine with a
    (score DESC, vec_id) total tiebreak, so the k-occurrence counts are
    rank-derived integers, hash-exact cross-engine.

    Plan: ONE Arrow GEMM pass (similarity.knn_join_gemm — each corpus
    partition computes normalized C·Qᵀ in one BLAS call and keeps its
    LOCAL top-k per query, shuffling O(partitions·|Q|·k) rows, never the
    |Q|·n score table), then a vec_id count + TakeOrdered head. The
    collected query batch is the documented bound — at 100 TB the query
    sample shards into GEMM blocks (the SemDeDup cell shape)."""
    from pulsar_lunar_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _HUB_QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    knn = S.knn_join_gemm(queries, emb, k=_HUB_K + 1).filter(
        F.col("vec_id") != F.col("q_id")
    )
    # k+1 then drop self: self is always rank 1 at cosine 1.0, so the
    # remaining 10 are exactly the oracle's self-excluded top-10
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    top = knn.select(
        "q_id", "vec_id", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _HUB_K)
    return (
        top.groupBy("vec_id")
        .agg(F.count(F.lit(1)).cast("long").alias("k_occurrence"))
        .orderBy(F.desc("k_occurrence"), F.asc("vec_id"))
        .limit(_HUB_TOPN)
    )
