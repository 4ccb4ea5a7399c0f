"""Training-data pipeline queries, batch 9 (round 6): contrastive-pair
completion, corpus health filters, and mixture/diversity selection.

- q_positive_pairs: the other half of contrastive training-data mining —
  per anchor, the top-k most-similar SAME-label vectors (excluding self),
  through the identical label-masked Arrow GEMM lane as q_hard_negatives.
- q_repetition_gopher: within-document repetition (duplicate-bigram
  fraction) — the Gopher repetition filter family's n-gram member; pure
  codegen HOFs, integer ppm.
- q_tokenizer_fertility: tokens-per-word fertility per source — the
  tokenizer-budget statistic that decides how many training tokens a
  source actually yields; exact integer arithmetic.
- q_temperature_mixture: temperature-scaled source sampling weights
  (alpha = 0.5, the mT5 mixing rule) — all-integer via milli-scaled
  isqrt, so shares hash-match exactly.
- q_mmr_select: Maximal Marginal Relevance diverse top-k — relevance vs
  redundancy tradeoff over a bounded candidate pool, integer-ppm scores;
  the DuckDB oracle replays the same greedy selection with a recursive
  CTE.
- q_span_corruption: T5-style denoising pairs — deterministic md5 span
  offsets, sentinel inputs + span targets, losslessly reconstructible.
- q_epoch_shuffle: reproducible per-epoch permutations via md5 rank —
  TakeOrdered heads, no random stream.

Reference analog: none (the reference moves opaque payloads;
SURVEY §2A.0) — this is the corpus-curation layer a training pipeline
adds on top, per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators import similarity as S
from pulsar_lunar_spark.operators import text as T
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import ensure_parallelism, load_table, local_rows

_NORM = "REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')"

# ---------------------------------------------------------------------------
# Positive-pair mining (contrastive training, same-label twin of
# q_hard_negatives)
# ---------------------------------------------------------------------------

_PP_ANCHORS = 8
_PP_K = 2


@register(
    "q_positive_pairs",
    oracle=f"""
    WITH a AS (
        SELECT vec_id AS anchor_id, label AS a_label,
               CAST(embedding AS DOUBLE[]) AS av
        FROM embeddings WHERE vec_id < {_PP_ANCHORS}
    ), scored AS (
        SELECT a.anchor_id, e.vec_id AS pos_id, e.label AS pos_label,
               ROUND(LIST_INNER_PRODUCT(CAST(e.embedding AS DOUBLE[]), a.av)
                     / (SQRT(LIST_INNER_PRODUCT(CAST(e.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])))
                        * SQRT(LIST_INNER_PRODUCT(a.av, a.av))), 6) AS cos6
        FROM embeddings e CROSS JOIN a
        WHERE e.label = a.a_label AND e.vec_id != a.anchor_id
    ), r AS (
        SELECT anchor_id, pos_id, pos_label, cos6,
               CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
                                       ORDER BY cos6 DESC, pos_id) AS BIGINT)
                   AS pp_rank
        FROM scored
    )
    SELECT anchor_id, pp_rank, pos_id, pos_label, cos6
    FROM r WHERE pp_rank <= {_PP_K}
    ORDER BY anchor_id, pp_rank
    """,
    tags=("llm", "embedding", "contrastive", "positive-pairs"),
)
def q_positive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive-pair mining for contrastive embedding training: for each
    of 8 anchors, the top-2 most-cosine-similar vectors with the SAME
    label (excluding self) — the aligned pairs a contrastive loss pulls
    together, mined through the identical label-masked Arrow GEMM lane as
    q_hard_negatives (one BLAS pass per corpus partition, local top-k,
    O(partitions·|A|·k) shuffled rows)."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < _PP_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("av"),
    )
    out = S.hard_negative_join_gemm(anchors, emb, k=_PP_K, same_label=True)
    return out.select(
        "anchor_id",
        F.col("rank").alias("pp_rank"),
        F.col("vec_id").alias("pos_id"),
        F.col("label").alias("pos_label"),
        F.col("cosine_sim").alias("cos6"),
    ).orderBy("anchor_id", "pp_rank")


# ---------------------------------------------------------------------------
# Within-document repetition (Gopher repetition-filter family)
# ---------------------------------------------------------------------------

_REP_THRESHOLD_PPM = 200_000


@register(
    "q_repetition_gopher",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, STRING_SPLIT({_NORM}, ' ') AS words
        FROM documents
    ), b AS (
        SELECT doc_id, source,
               LIST_TRANSFORM(RANGE(1, LEN(words)),
                              i -> words[i] || ' ' || words[i + 1]) AS bigrams
        FROM w WHERE LEN(words) >= 2
    ), r AS (
        SELECT doc_id, source,
               CAST(LEN(bigrams) AS BIGINT) AS nb,
               CAST(LEN(LIST_DISTINCT(bigrams)) AS BIGINT) AS nd
        FROM b
    ), s AS (
        SELECT source,
               (1000000 * (nb - nd)) // nb AS rep_ppm
        FROM r
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rep_ppm > {_REP_THRESHOLD_PPM} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repetitive,
           CAST(SUM(rep_ppm) // COUNT(*) AS BIGINT) AS avg_rep_ppm
    FROM s GROUP BY source ORDER BY source
    """,
    tags=("llm", "quality", "repetition", "gopher"),
)
def q_repetition_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (the n-gram member of the Gopher
    repetition-signal family): per document, the fraction of word bigrams
    that are duplicates of an earlier bigram in the SAME document —
    boilerplate, keyword stuffing, and decode-loop text score high; per
    source, the count of repetitive documents (> 20% duplicate bigrams)
    and the mean repetition in exact integer ppm.

    Plan: one scan, three staged projections (words → bigrams →
    distinct-count; staged as real columns because Spark does not CSE
    across projection elements), one partial-agg groupBy(source). No
    joins, no UDFs — at 100 TB this is a map pass plus a 16-row
    aggregate."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    words = F.split(T.normalize_text(F.col("text")), " ")
    staged = d.select("doc_id", "source", words.alias("__w")).filter(
        F.size("__w") >= 2
    )
    bigrams = staged.select(
        "doc_id",
        "source",
        F.expr(
            "transform(sequence(1, size(__w) - 1),"
            " i -> concat(element_at(__w, i), ' ', element_at(__w, i + 1)))"
        ).alias("__b"),
    )
    r = bigrams.select(
        "source",
        F.size("__b").cast("long").alias("nb"),
        F.size(F.array_distinct("__b")).cast("long").alias("nd"),
    ).select(
        "source",
        F.expr("(1000000 * (nb - nd)) div nb").alias("rep_ppm"),
    )
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("rep_ppm") > _REP_THRESHOLD_PPM, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_repetitive"),
            F.expr("sum(rep_ppm) div count(1)").cast("long").alias("avg_rep_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility (tokens per word, per source)
# ---------------------------------------------------------------------------


@register(
    "q_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
        SELECT source,
               CAST(LEN(REGEXP_EXTRACT_ALL(text,
                   '[A-Za-z]+(?:''[A-Za-z]+)?|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                   AS n_tokens,
               CAST(LEN(STRING_SPLIT({_NORM}, ' ')) AS BIGINT) AS n_words
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST((1000000 * SUM(n_tokens)) // SUM(n_words) AS BIGINT)
               AS fertility_ppm
    FROM t GROUP BY source ORDER BY source
    """,
    tags=("llm", "tokenizer", "fertility", "training-prep"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: BPE-ish regex tokens per whitespace
    word — the statistic that converts a corpus size into an actual
    training-token budget (a high-fertility source yields more tokens per
    word and burns budget faster). Exact integer arithmetic end to end
    (total tokens, total words, fertility in ppm); one scan, one 16-row
    aggregate, no UDFs."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = d.select(
        "source",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        T.word_count(F.col("text")).cast("long").alias("n_words"),
    )
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.expr("(1000000 * sum(n_tokens)) div sum(n_words)")
            .cast("long")
            .alias("fertility_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights (mT5 sampling rule, alpha = 0.5)
# ---------------------------------------------------------------------------


@register(
    "q_temperature_mixture",
    oracle="""
    WITH c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ), w AS (
        SELECT source, n_docs,
               CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000) AS BIGINT)
                   AS w_milli
        FROM c
    )
    SELECT source, n_docs,
           CAST((1000000 * n_docs) // (SELECT SUM(n_docs) FROM w) AS BIGINT)
               AS uniform_ppm,
           CAST((1000000 * w_milli) // (SELECT SUM(w_milli) FROM w) AS BIGINT)
               AS temp_ppm
    FROM w ORDER BY source
    """,
    tags=("llm", "mixture", "sampling", "training-prep"),
)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights (the mT5/T5 multilingual
    mixing rule with alpha = 0.5): a source's sampling share is
    proportional to count^alpha, which up-weights small sources relative
    to proportional sampling without letting any source dominate. Emitted
    next to the uniform (proportional) share so the rebalancing is
    visible.

    Determinism: count^0.5 is computed as FLOOR(SQRT(n)*1000) — IEEE-754
    sqrt is correctly rounded on both engines, so the milli-scaled weight
    is the same BIGINT everywhere and every share is exact integer ppm
    (no float summation order anywhere). One 16-row aggregate + a
    broadcast of its own total: the corpus is scanned once."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = c.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000)
        .cast("long")
        .alias("w_milli"),
    )
    tot = w.agg(
        F.sum("n_docs").alias("__tot_docs"), F.sum("w_milli").alias("__tot_w")
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.expr("(1000000 * n_docs) div __tot_docs")
            .cast("long")
            .alias("uniform_ppm"),
            F.expr("(1000000 * w_milli) div __tot_w")
            .cast("long")
            .alias("temp_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance diverse top-k
# ---------------------------------------------------------------------------

_MMR_POOL = 32
_MMR_K = 8
# integer MMR score: 7 * rel_ppm - 3 * max_sim_ppm  (lambda = 0.7, scaled
# by 10 to stay integral)
_MMR_QUERY_ID = 0


@register(
    "q_mmr_select",
    oracle=f"""
    WITH RECURSIVE q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        WHERE vec_id = {_MMR_QUERY_ID}
    ), scored AS (
        SELECT e.vec_id, e.label,
               CAST(FLOOR(
                   LIST_INNER_PRODUCT(CAST(e.embedding AS DOUBLE[]), q.qv)
                   / (SQRT(LIST_INNER_PRODUCT(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                      * SQRT(LIST_INNER_PRODUCT(q.qv, q.qv)))
                   * 1000000 + 0.5) AS BIGINT) AS rel_ppm
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != {_MMR_QUERY_ID}
    ), pool AS (
        SELECT vec_id, label, rel_ppm
        FROM scored ORDER BY rel_ppm DESC, vec_id LIMIT {_MMR_POOL}
    ), pv AS (
        SELECT p.vec_id, p.label, p.rel_ppm,
               CAST(e.embedding AS DOUBLE[]) AS v
        FROM pool p JOIN embeddings e ON e.vec_id = p.vec_id
    ), sims AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               CAST(FLOOR(
                   LIST_INNER_PRODUCT(a.v, b.v)
                   / (SQRT(LIST_INNER_PRODUCT(a.v, a.v))
                      * SQRT(LIST_INNER_PRODUCT(b.v, b.v)))
                   * 1000000 + 0.5) AS BIGINT) AS sim_ppm
        FROM pv a JOIN pv b ON a.vec_id != b.vec_id
    ), sel AS (
        -- greedy MMR: seed with the highest-relevance pool member, then
        -- k-1 steps of argmax(7*rel_ppm - 3*max sim_ppm to selected)
        SELECT 1 AS step,
               [(SELECT vec_id FROM pool ORDER BY rel_ppm DESC, vec_id
                 LIMIT 1)] AS ids
        UNION ALL
        SELECT step + 1,
               LIST_APPEND(ids, (
                   SELECT p.vec_id FROM pool p
                   WHERE NOT LIST_CONTAINS(sel.ids, p.vec_id)
                   ORDER BY 7 * p.rel_ppm - 3 * (
                       SELECT MAX(s.sim_ppm) FROM sims s
                       WHERE s.ia = p.vec_id AND LIST_CONTAINS(sel.ids, s.ib)
                   ) DESC, p.vec_id
                   LIMIT 1))
        FROM sel WHERE step < {_MMR_K}
    ), final AS (
        SELECT ids FROM sel WHERE step = {_MMR_K}
    )
    SELECT CAST(r.range AS BIGINT) AS mmr_rank,
           p.vec_id, p.label, p.rel_ppm
    FROM final, RANGE(1, {_MMR_K} + 1) r
    JOIN pool p ON p.vec_id = final.ids[r.range]
    ORDER BY mmr_rank
    """,
    tags=("llm", "embedding", "diversity", "mmr", "selection"),
)
def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance selection: the top-8 most-relevant-yet-
    diverse vectors for a query — greedy argmax of
    ``lambda*relevance - (1-lambda)*max-similarity-to-selected``
    (lambda = 0.7), the standard redundancy-aware selection for retrieval
    results and training-example picking.

    Plan: relevance is ONE distributed codegen pass (JVM in-order cosine
    fold — summation order matches the oracle's LIST_INNER_PRODUCT
    exactly) + TakeOrdered into a 32-row pool; the greedy loop runs on
    the collected pool (a bounded, declared driver fetch — 32 rows, the
    same contract as the GEMM query batches) with all-integer ppm scores,
    so the selection sequence is engine-exact. At 100 TB only the
    relevance pass grows; the pool stays k-bounded. The DuckDB oracle
    replays the identical greedy selection with a recursive CTE."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _MMR_QUERY_ID)
        .select("embedding")
        .collect()[0][0]
    ]
    vecd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # in-order JVM fold (dot/cosine), NOT the GEMM lane: summation order
    # must match LIST_INNER_PRODUCT so the ppm floor is engine-exact
    rel = S.cosine(vecd, F.array(*[F.lit(x) for x in qv]))
    pool_df = (
        emb.filter(F.col("vec_id") != _MMR_QUERY_ID)
        .select(
            "vec_id",
            "label",
            F.floor(rel * 1_000_000 + F.lit(0.5)).cast("long").alias("rel_ppm"),
            vecd.alias("__v"),
        )
        .orderBy(F.desc("rel_ppm"), F.asc("vec_id"))
        .limit(_MMR_POOL)
    )
    pool = pool_df.collect()  # bounded, declared: _MMR_POOL rows

    def dot(a: list[float], b: list[float]) -> float:
        # left-to-right fold, same order as LIST_INNER_PRODUCT
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    vs = {int(r["vec_id"]): [float(x) for x in r["__v"]] for r in pool}
    norms = {i: math.sqrt(dot(v, v)) for i, v in vs.items()}
    rels = {int(r["vec_id"]): int(r["rel_ppm"]) for r in pool}
    labels = {int(r["vec_id"]): int(r["label"]) for r in pool}

    def sim_ppm(a: int, b: int) -> int:
        c = dot(vs[a], vs[b]) / (norms[a] * norms[b])
        return int(math.floor(c * 1_000_000 + 0.5))

    ids = sorted(rels)
    first = max(ids, key=lambda i: (rels[i], -i))
    selected = [first]
    while len(selected) < _MMR_K:
        best, best_key = None, None
        for i in ids:
            if i in selected:
                continue
            score = 7 * rels[i] - 3 * max(sim_ppm(i, j) for j in selected)
            key = (score, -i)
            if best_key is None or key > best_key:
                best, best_key = i, key
        selected.append(best)
    rows = [
        (rank + 1, vid, labels[vid], rels[vid])
        for rank, vid in enumerate(selected)
    ]
    return local_rows(
        spark, rows, "mmr_rank long, vec_id long, label int, rel_ppm long"
    )


# ---------------------------------------------------------------------------
# T5-style span corruption (denoising-objective training prep)
# ---------------------------------------------------------------------------

_SC_WINDOW = 10  # one corrupted span per complete 10-word window
_SC_SPAN = 3  # span length in words
_SC_DOCS = 40


@register(
    "q_span_corruption",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, STRING_SPLIT({_NORM}, ' ') AS words
        FROM documents WHERE doc_id <= {_SC_DOCS}
    ), sized AS (
        SELECT doc_id, words, LEN(words) AS n,
               LEN(words) // {_SC_WINDOW} AS nwin
        FROM w WHERE LEN(words) >= 2 * {_SC_WINDOW}
    ), marked AS (
        SELECT doc_id, words, n, nwin,
               LIST_TRANSFORM(RANGE(0, nwin), k ->
                   k * {_SC_WINDOW}
                   + CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(doc_id AS VARCHAR),
                                                         ':', CAST(k AS VARCHAR))),
                                              1, 6)) AS BIGINT)
                     % {_SC_WINDOW - _SC_SPAN + 1}
                   + 1) AS starts
        FROM sized
    )
    SELECT doc_id,
           CAST(nwin AS BIGINT) AS n_spans,
           ARRAY_TO_STRING(LIST_FILTER(
               LIST_TRANSFORM(RANGE(1, n + 1), i ->
                   CASE
                       WHEN (i - 1) // {_SC_WINDOW} >= nwin THEN words[i]
                       WHEN i = starts[(i - 1) // {_SC_WINDOW} + 1]
                           THEN CONCAT('<X_', CAST((i - 1) // {_SC_WINDOW}
                                                   AS VARCHAR), '>')
                       WHEN i > starts[(i - 1) // {_SC_WINDOW} + 1]
                            AND i < starts[(i - 1) // {_SC_WINDOW} + 1]
                                    + {_SC_SPAN}
                           THEN NULL
                       ELSE words[i]
                   END),
               x -> x IS NOT NULL), ' ') AS input_text,
           ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(0, nwin), k ->
               CONCAT('<X_', CAST(k AS VARCHAR), '> ',
                      words[starts[k + 1]], ' ',
                      words[starts[k + 1] + 1], ' ',
                      words[starts[k + 1] + 2])), ' ') AS target_text
    FROM marked ORDER BY doc_id
    """,
    tags=("llm", "span-corruption", "denoising", "training-prep"),
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: each complete 10-word window of a
    document contributes one 3-word span, replaced in the input by a
    numbered sentinel ``<X_k>`` and emitted (sentinel-prefixed) in the
    target — the (input, target) pair a denoising seq2seq objective
    trains on. Span starts are deterministic md5 offsets (no rand
    stream), so the corruption is reproducible across engines, epochs,
    and restarts, and windows guarantee spans never overlap.

    Plan: pure codegen HOFs over the word array (sequence/transform/
    filter/array_join) — one scan, zero joins, zero shuffles except the
    bounded output sort. At 100 TB this is a map pass; the bounded
    doc_id filter here only caps the oracle compare."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= _SC_DOCS)
    words = F.split(T.normalize_text(F.col("text")), " ")
    sized = (
        d.select("doc_id", words.alias("__w"))
        .filter(F.size("__w") >= 2 * _SC_WINDOW)
        .select(
            "doc_id",
            "__w",
            F.size("__w").alias("__n"),
            (F.size("__w") / _SC_WINDOW).cast("long").alias("__nwin"),
        )
    )
    starts = F.expr(
        f"""transform(sequence(0, int(__nwin) - 1), k ->
            k * {_SC_WINDOW}
            + int(cast(conv(substring(md5(concat(cast(doc_id as string),
                                             ':', cast(k as string))), 1, 6),
                        16, 10) as bigint) % {_SC_WINDOW - _SC_SPAN + 1})
            + 1)"""
    )
    marked = sized.select("doc_id", "__w", "__n", "__nwin", starts.alias("__s"))
    input_text = F.expr(
        f"""array_join(filter(transform(sequence(1, int(__n)), i ->
            CASE
                WHEN (i - 1) div {_SC_WINDOW} >= __nwin
                    THEN element_at(__w, i)
                WHEN i = element_at(__s, int((i - 1) div {_SC_WINDOW}) + 1)
                    THEN concat('<X_', cast((i - 1) div {_SC_WINDOW} as string), '>')
                WHEN i > element_at(__s, int((i - 1) div {_SC_WINDOW}) + 1)
                     AND i < element_at(__s, int((i - 1) div {_SC_WINDOW}) + 1)
                             + {_SC_SPAN}
                    THEN NULL
                ELSE element_at(__w, i)
            END), x -> x IS NOT NULL), ' ')"""
    )
    target_text = F.expr(
        f"""array_join(transform(sequence(0, int(__nwin) - 1), k ->
            concat('<X_', cast(k as string), '> ',
                   element_at(__w, element_at(__s, k + 1)), ' ',
                   element_at(__w, element_at(__s, k + 1) + 1), ' ',
                   element_at(__w, element_at(__s, k + 1) + 2))), ' ')"""
    )
    return marked.select(
        "doc_id",
        F.col("__nwin").cast("long").alias("n_spans"),
        input_text.alias("input_text"),
        target_text.alias("target_text"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Deterministic multi-epoch shuffle (reproducible data-loader order)
# ---------------------------------------------------------------------------

_ES_TOPN = 10


@register(
    "q_epoch_shuffle",
    oracle=f"""
    WITH e1 AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY
                   CAST(CONCAT('0x', SUBSTR(MD5(CONCAT('1:',
                       CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT),
                   doc_id) AS rn
        FROM documents
    ), e2 AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY
                   CAST(CONCAT('0x', SUBSTR(MD5(CONCAT('2:',
                       CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT),
                   doc_id) AS rn
        FROM documents
    )
    SELECT CAST(e1.rn AS BIGINT) AS serve_rank,
           e1.doc_id AS epoch1_doc, e2.doc_id AS epoch2_doc
    FROM e1 JOIN e2 ON e1.rn = e2.rn
    WHERE e1.rn <= {_ES_TOPN}
    ORDER BY serve_rank
    """,
    tags=("llm", "shuffle", "epoch", "training-prep"),
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch shuffle: epoch e's serving order is a
    rank over md5(e || ':' || doc_id) — a different, reproducible
    permutation per epoch with NO random stream, so a restarted loader
    (or a different engine) re-derives the identical order. Emits the
    first 10 positions of epochs 1 and 2 side by side.

    Plan: each epoch's head is a TakeOrderedAndProject over the md5 rank
    key — top-N without a global sort — and the two 10-row heads join on
    rank. At 100 TB the full-epoch order is served by
    repartitionByRange(hash) + per-shard rank (the q_curriculum_interleave
    zipWithIndex recipe); the head-only form here bounds the oracle."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")

    def epoch_head(e: int) -> DataFrame:
        from pulsar_lunar_spark.operators.corpus import md5_int

        h = md5_int(
            F.concat(F.lit(f"{e}:"), F.col("doc_id").cast("string")), hex_chars=8
        )
        top = (
            d.select("doc_id", h.alias("__h"))
            .orderBy("__h", "doc_id")
            .limit(_ES_TOPN)
        )
        w = Window.orderBy("__h", "doc_id")
        return top.select(
            F.row_number().over(w).cast("bigint").alias("serve_rank"),
            F.col("doc_id").alias(f"epoch{e}_doc"),
        )

    return (
        epoch_head(1)
        .join(epoch_head(2), "serve_rank")
        .orderBy("serve_rank")
    )


# ---------------------------------------------------------------------------
# Cross-source duplication matrix (corpus forensics over near-dup pairs)
# ---------------------------------------------------------------------------


def _source_matrix_oracle() -> str:
    from pulsar_lunar_spark.queries.llm import _MINHASH_ORACLE

    pairs = _MINHASH_ORACLE.replace("ORDER BY id_a, id_b", "")
    return f"""
    WITH pairs AS ({pairs})
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           MAX(p.jaccard) AS max_jaccard
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    GROUP BY 1, 2 ORDER BY source_a, source_b
    """


# Broadcast the verified near-dup pair list only under this many rows
# (~50 MB at 3 bigint-ish columns — comfortably inside executor broadcast
# budgets); above it the source-matrix joins run shuffled instead.
_PAIR_BROADCAST_CAP = 2_000_000


@register(
    "q_dedup_source_matrix",
    oracle=_source_matrix_oracle(),
    tags=("llm", "dedup", "forensics", "source-matrix"),
)
def q_dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — corpus forensics over the
    MinHash-LSH verified near-dup pairs: for every (source, source) pair,
    how many near-duplicate document pairs span it and the strongest
    Jaccard seen. This is the view that tells a curation team WHICH feeds
    mirror each other (syndication, scraping loops, re-crawls) before any
    rows are dropped.

    Plan: the verified pair list is the PROCESS-SHARED dedup artifact
    (llm.minhash_pairs_spool — one LSH pipeline build per (session,
    dataset), the persisted-dedup-output shape at 100 TB; r11 —
    previously a fresh per-call pipeline + per-call spool) and is
    COUNTED; the two source-lookup joins broadcast it only while the
    count stays under _PAIR_BROADCAST_CAP; above the cap (the
    adversarial case this view exists to surface — a syndication-heavy
    crawl where pairs grow toward O(n·dup_rate)) the hints are dropped
    and the joins run shuffled, so the driver can never be asked to
    broadcast an unbounded pair list (VERDICT r6 watch item). The 16x16
    aggregate is bounded either way. max_jaccard (order-safe), never an
    avg of floats. Oracle: the full md5-portable LSH SQL replica + the
    same two joins."""
    from pulsar_lunar_spark.queries.llm import minhash_pairs_spool

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_pairs_spool(spark, sf_dir)
    small = pairs.count() <= _PAIR_BROADCAST_CAP
    hint = F.broadcast if small else (lambda df: df)
    src = d.select("doc_id", "source")
    j1 = src.join(hint(pairs), F.col("doc_id") == F.col("id_a")).select(
        "id_b", F.col("source").alias("__sa"), "jaccard"
    )
    labeled = src.join(hint(j1), F.col("doc_id") == F.col("id_b")).select(
        "__sa", F.col("source").alias("__sb"), "jaccard"
    )
    return (
        labeled.select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Classifier evaluation metrics (per-class P/R/F1 over the lang-ID matrix)
# ---------------------------------------------------------------------------


def _langid_f1_oracle() -> str:
    from pulsar_lunar_spark.queries.llm import _lang_score_sql

    return f"""
    WITH scored AS (
        SELECT lang,
               {_lang_score_sql('de')} AS s_de,
               {_lang_score_sql('en')} AS s_en,
               {_lang_score_sql('es')} AS s_es,
               {_lang_score_sql('fr')} AS s_fr,
               {_lang_score_sql('zh')} AS s_zh
        FROM documents
    ), detected AS (
        SELECT lang,
               CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                    WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    ELSE 'zh' END AS detected
        FROM scored
    ), classes AS (
        SELECT DISTINCT lang AS cls FROM detected
    )
    SELECT c.cls AS lang,
           CAST(COALESCE(SUM(CASE WHEN d.lang = c.cls AND d.detected = c.cls
                                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
           CAST(COALESCE(SUM(CASE WHEN d.lang != c.cls AND d.detected = c.cls
                                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
           CAST(COALESCE(SUM(CASE WHEN d.lang = c.cls AND d.detected != c.cls
                                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
           CAST(CASE WHEN SUM(CASE WHEN d.detected = c.cls THEN 1 ELSE 0 END) = 0
                     THEN 0
                     ELSE (1000000 * SUM(CASE WHEN d.lang = c.cls
                                              AND d.detected = c.cls
                                              THEN 1 ELSE 0 END))
                          // SUM(CASE WHEN d.detected = c.cls THEN 1 ELSE 0 END)
                END AS BIGINT) AS precision_ppm,
           CAST((1000000 * SUM(CASE WHEN d.lang = c.cls AND d.detected = c.cls
                                    THEN 1 ELSE 0 END))
                // SUM(CASE WHEN d.lang = c.cls THEN 1 ELSE 0 END)
                AS BIGINT) AS recall_ppm
    FROM classes c CROSS JOIN detected d
    GROUP BY c.cls ORDER BY lang
    """


@register(
    "q_langid_f1",
    oracle=_langid_f1_oracle(),
    tags=("llm", "langid", "eval", "metrics"),
)
def q_langid_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class classifier evaluation of the stopword language detector
    against the labeled lang: true/false positives, false negatives, and
    exact-integer precision/recall in ppm — the classification-eval twin
    of q_retrieval_metrics (which covers ranking eval). The confusion
    MATRIX itself is q_lang_detect; this is the derived quality report a
    curation team reads before trusting the detector as a filter.

    Plan: one scoring pass (pure codegen stopword counts), ONE aggregate:
    per-class counters are conditional sums over the (lang, detected)
    pairs against the tiny broadcast class list — no joins over the
    corpus, all-integer arithmetic (no float division anywhere)."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    det = d.select("lang", T.detect_lang(F.col("text")).alias("detected"))
    classes = det.select(F.col("lang").alias("cls")).distinct()
    joined = det.crossJoin(F.broadcast(classes))
    tp = F.sum(
        F.when((F.col("lang") == F.col("cls")) & (F.col("detected") == F.col("cls")), 1).otherwise(0)
    )
    det_as_cls = F.sum(F.when(F.col("detected") == F.col("cls"), 1).otherwise(0))
    actual_cls = F.sum(F.when(F.col("lang") == F.col("cls"), 1).otherwise(0))
    return (
        joined.groupBy(F.col("cls").alias("lang"))
        .agg(
            tp.cast("long").alias("tp"),
            F.sum(
                F.when((F.col("lang") != F.col("cls")) & (F.col("detected") == F.col("cls")), 1).otherwise(0)
            ).cast("long").alias("fp"),
            F.sum(
                F.when((F.col("lang") == F.col("cls")) & (F.col("detected") != F.col("cls")), 1).otherwise(0)
            ).cast("long").alias("fn"),
            F.when(det_as_cls == 0, F.lit(0)).otherwise(
                F.expr(
                    "(1000000 * sum(CASE WHEN lang = cls AND detected = cls THEN 1 ELSE 0 END))"
                    " div sum(CASE WHEN detected = cls THEN 1 ELSE 0 END)"
                )
            ).cast("long").alias("precision_ppm"),
            F.expr(
                "(1000000 * sum(CASE WHEN lang = cls AND detected = cls THEN 1 ELSE 0 END))"
                " div sum(CASE WHEN lang = cls THEN 1 ELSE 0 END)"
            ).cast("long").alias("recall_ppm"),
        )
        .orderBy("lang")
    )
