"""Corpus-pipeline queries (SURVEY §2B north star, continued): Gopher-style
repetition quality stats, near-dup clustering (connected components),
deterministic stratified sampling, TF-IDF, BM25 retrieval, benchmark
contamination. All oracle-checked except where noted.

Determinism discipline: corpus aggregates are ratios of INTEGER sums
(order-independent); every ranking has a total tiebreak; sampling is
md5-prefix based (engine-portable), never rand(seed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from pulsar_lunar_spark.operators import corpus as C
from pulsar_lunar_spark.operators import dedup as D
from pulsar_lunar_spark.operators import ml as M
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import ensure_parallelism, load_table

_NORM = "REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')"
_WORDS = f"STRING_SPLIT({_NORM}, ' ')"

# DuckDB twin of dedup.shingles(k=3) incl. the short-doc fallback and
# the no-token rule (NULL or empty text: no shingles).
_SHINGLES3 = f"""
    CASE WHEN LEN({_WORDS}) >= 3
         THEN LIST_DISTINCT(LIST_TRANSFORM(
                  RANGE(1, LEN({_WORDS}) - 2 + 1),
                  i -> ARRAY_TO_STRING({_WORDS}[i:i+2], ' ')))
         WHEN {_NORM} <> '' THEN [{_NORM}]
         ELSE [] END
"""


# Arrow fast lane for the Gopher repetition counters (r12, guide §4.2 +
# VERDICT r11 item 4): tokenization stays in the JVM (split over the
# shared normalize_text, codegen), but the per-doc counting moves to ONE
# Arrow-batched pandas UDF — C-backed Counter/set over the words array.
# The JVM HOF form (array_sort + a struct-accumulator fold + a 2-gram
# transform, all interpreted CodegenFallback expressions) allocated per
# element on the executor HEAP; that allocation storm was the source of
# the 16-21 s in-suite blowups the r11 bench's per-query GC papered over.
# Moving the counting into the Python workers removes the JVM garbage at
# the source AND measures faster solo (interleaved noop A/B at sf0.1:
# med 0.83 vs 1.11 s). The JVM form is kept in tests/test_corpus.py as
# the reference this lane must match value for value.
# The return type is a StructType, not a DDL string: parsing DDL needs a
# live SparkContext, and this decorator runs at import.
@F.pandas_udf(
    StructType(
        [
            StructField(name, IntegerType())
            for name in (
                "total_words",
                "distinct_words",
                "top_word_count",
                "total_2grams",
                "distinct_2grams",
            )
        ]
    )
)
def _repetition_counts_arrow(words):  # pd.Series of word arrays
    import pandas as pd
    from collections import Counter

    tw, dw, top, t2, d2 = [], [], [], [], []
    for w in words:
        if w is None:
            # NULL text: the JVM reference's size()/aggregate() give NULL, and
            # its guarded 2-gram arrays are empty
            tw.append(None)
            dw.append(None)
            top.append(None)
            t2.append(0)
            d2.append(0)
            continue
        lst = list(w)
        c = Counter(lst)
        n = len(lst)
        tw.append(n)
        dw.append(len(c))
        top.append(max(c.values()) if c else 0)
        t2.append(n - 1 if n >= 2 else 0)
        d2.append(len(set(zip(lst, lst[1:]))) if n >= 2 else 0)
    return pd.DataFrame(
        {
            "total_words": tw,
            "distinct_words": dw,
            "top_word_count": top,
            "total_2grams": t2,
            "distinct_2grams": d2,
        },
        dtype="Int32",
    )


@register(
    "q_quality_gopher",
    oracle=f"""
    WITH w AS (
        SELECT lang, {_WORDS} AS words FROM documents
    ), c AS (
        SELECT lang,
               LEN(words) AS total_words,
               LEN(LIST_DISTINCT(words)) AS distinct_words,
               LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(words),
                        u -> LEN(LIST_FILTER(words, x -> x = u)))) AS top_word_count,
               CASE WHEN LEN(words) >= 2
                    THEN LEN(words) - 1 ELSE 0 END AS total_2grams,
               CASE WHEN LEN(words) >= 2
                    THEN LEN(LIST_DISTINCT(LIST_TRANSFORM(
                             RANGE(1, LEN(words) - 1 + 1),
                             i -> ARRAY_TO_STRING(words[i:i+1], ' '))))
                    ELSE 0 END AS distinct_2grams
        FROM w
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(1.0 - CAST(SUM(distinct_words) AS DOUBLE) / SUM(total_words), 4)
               AS dup_word_frac,
           ROUND(CAST(SUM(top_word_count) AS DOUBLE) / SUM(total_words), 4)
               AS top_word_share,
           ROUND(1.0 - CAST(SUM(distinct_2grams) AS DOUBLE) / SUM(total_2grams), 4)
               AS dup_2gram_frac
    FROM c GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "quality", "gopher"),
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters aggregated per language: duplicate-word
    mass, top-word share, duplicate-2gram mass. Per-doc counters are exact
    integers computed in one Arrow-batched pass over the JVM-tokenized
    words (see _repetition_counts_arrow — the r12 allocation-storm fix);
    corpus metrics are ratios of integer sums (order-independent), so the
    scan can be scaled out freely."""
    from pulsar_lunar_spark.operators.dedup import normalize_text

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    words = F.split(normalize_text(F.col("text")), " ")
    per_doc = d.select(
        "lang", _repetition_counts_arrow(words).alias("__c")
    ).select("lang", "__c.*")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                1.0 - F.sum("distinct_words").cast("double") / F.sum("total_words"), 4
            ).alias("dup_word_frac"),
            F.round(
                F.sum("top_word_count").cast("double") / F.sum("total_words"), 4
            ).alias("top_word_share"),
            F.round(
                1.0 - F.sum("distinct_2grams").cast("double") / F.sum("total_2grams"), 4
            ).alias("dup_2gram_frac"),
        )
        .orderBy("lang")
    )


@register(
    "q_dedup_cluster",
    oracle=f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, {_SHINGLES3} AS sh FROM documents WHERE doc_id < 80
    ), nz AS (
        SELECT * FROM sh WHERE LEN(sh) > 0
    ), pairs AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib
        FROM nz a JOIN nz b ON a.doc_id < b.doc_id
        WHERE LEN(LIST_INTERSECT(a.sh, b.sh)) * 1.0 /
              LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.3
    ), edges AS (
        SELECT ia AS s, ib AS d FROM pairs
        UNION ALL SELECT ib, ia FROM pairs
    ), reach(node, lab) AS (
        SELECT doc_id, doc_id FROM sh
        UNION
        SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node
    )
    SELECT component, COUNT(*) AS n_members
    FROM (SELECT node, MIN(lab) AS component FROM reach GROUP BY node)
    GROUP BY component ORDER BY component
    """,
    tags=("llm", "dedup", "cluster"),
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: exact-Jaccard pair edges (bounded doc slice) →
    connected components (iterative min-label propagation) → cluster sizes.
    At scale the edge list comes from MinHash-LSH, not the pairwise join;
    the CC loop is the same either way (oracle: recursive CTE). A document
    with no shingles (no tokens) gets no edge and stays a cluster of one."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    sh = d.select(F.col("doc_id"), D.shingles(F.col("text"), 3).alias("sh")).filter(
        F.size("sh") > 0
    )
    a = sh.select(F.col("doc_id").alias("src"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("dst"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    edges = (
        a.join(b, F.col("src") < F.col("dst"))
        .filter(jac >= 0.3)
        .select("src", "dst")
    )
    nodes = d.select(F.col("doc_id").alias("node"))
    comp = C.connected_components(nodes, edges)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("component")
    )


@register(
    "q_sample_stratified",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_total,
           COUNT(CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < '29'
                      THEN 1 END) AS n_sampled,
           ROUND(COUNT(CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < '29'
                            THEN 1 END) * 1.0 / COUNT(*), 4) AS rate
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "sampling"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling audit: md5-prefix keep-flag (~16%)
    counted per language stratum. Engine-portable (hash-based, no rand
    stream), repeatable, and pushdown-friendly — the flag is a scan-level
    predicate, no shuffle beyond the final tiny aggregate."""
    d = load_table(spark, sf_dir, "documents")
    keep = C.sample_flag(F.col("doc_id"), "29")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(keep, 1)).alias("n_sampled"),
            F.round(F.count(F.when(keep, 1)) * 1.0 / F.count(F.lit(1)), 4).alias("rate"),
        )
        .orderBy("lang")
    )


@register(
    "q_tfidf_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, UNNEST({_WORDS}) AS term FROM documents
    ), tok3 AS (
        SELECT * FROM tok WHERE LENGTH(term) >= 3
    ), tf AS (
        SELECT lang, term, COUNT(*) AS tf FROM tok3 GROUP BY lang, term
    ), dfreq AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok3 GROUP BY term
    ), n AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
        SELECT lang, term, tf, df,
               tf * LN((n_docs + 1.0) / (df + 1.0)) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT lang, term, tf, CAST(df AS BIGINT) AS df, ROUND(tfidf, 4) AS tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                       ORDER BY tfidf DESC, tf DESC, term) AS rn
          FROM scored)
    WHERE rn <= 5
    ORDER BY lang, tfidf DESC, tf DESC, term
    """,
    tags=("llm", "tfidf"),
)
def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language: one token explode, two hash aggs,
    broadcast df/N side, WindowGroupLimit top-k. O(tokens) shuffle."""
    d = load_table(spark, sf_dir, "documents")
    scored = C.tfidf_terms(d, "doc_id", "text", "lang", min_len=3)
    w = Window.partitionBy("grp").orderBy(F.desc("tfidf"), F.desc("tf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            F.col("grp").alias("lang"),
            "term",
            "tf",
            F.col("df").cast("bigint").alias("df"),
            F.round("tfidf", 4).alias("tfidf"),
        )
        .orderBy("lang", F.desc("tfidf"), F.desc("tf"), "term")
    )


@register(
    "q_bm25_search",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, {_WORDS} AS w, LEN({_WORDS}) AS dl FROM documents
    ), per_term AS (
        SELECT doc_id, dl, t.term,
               LEN(LIST_FILTER(w, x -> x = t.term)) AS tf
        FROM docs CROSS JOIN (SELECT UNNEST(['spark', 'query', 'join']) AS term) t
    ), matches AS (
        SELECT * FROM per_term WHERE tf > 0
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM matches GROUP BY term
    ), stats AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) AS sum_dl FROM docs
    ), scored AS (
        SELECT doc_id,
               SUM(LN(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs))))
                   AS bm25,
               COUNT(*) AS n_terms_hit
        FROM matches JOIN dfreq USING (term) CROSS JOIN stats
        GROUP BY doc_id
    )
    SELECT doc_id, ROUND(bm25, 4) AS bm25, n_terms_hit
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT 15
    """,
    tags=("llm", "bm25", "search"),
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 documents for query terms (spark, query, join):
    per-doc tf is a JVM filter-count (no corpus explode), df/N/avgdl one
    broadcast aggregate; TakeOrderedAndProject keeps k rows."""
    d = load_table(spark, sf_dir, "documents")
    scores = C.bm25_scores(d, "doc_id", "text", ["spark", "query", "join"])
    return (
        scores.select(
            F.col("__id").alias("doc_id"),
            F.round("bm25", 4).alias("bm25"),
            "n_terms_hit",
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(15)
    )


@register(
    "q_contamination",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES3} AS sh FROM documents
    ), bench AS (
        SELECT doc_id AS bench_id, UNNEST(sh) AS s FROM sh WHERE doc_id < 10
    ), corp AS (
        SELECT doc_id AS corpus_id, UNNEST(sh) AS s FROM sh WHERE doc_id >= 10
    ), hits AS (
        SELECT DISTINCT bench_id, corpus_id FROM bench JOIN corp USING (s)
    )
    SELECT bench_id, COUNT(*) AS n_contaminated
    FROM hits GROUP BY bench_id ORDER BY bench_id
    """,
    tags=("llm", "contamination"),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per benchmark doc (doc_id < 10), how many
    corpus docs share >= 1 word-3-gram. Inverted-index join on the shingle
    value — O(total shingles) shuffle, never pairwise."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh = d.select(F.col("doc_id").alias("__id"), D.shingles(F.col("text"), 3).alias("__sh"))
    bench = sh.filter(F.col("__id") < 10)
    corp = sh.filter(F.col("__id") >= 10)
    return C.contamination_counts(corp, bench).orderBy("bench_id")


# Deterministic 64 -> 8 Rademacher projection, shared literal-for-literal
# by the Spark expression and the DuckDB oracle below.
_PROJ = M.projection_matrix(in_dim=64, out_dim=8, seed=42)


def _proj_sql(row: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in row) + "]"


@register(
    "q_embed_project",
    oracle="SELECT vec_id, "
    + ", ".join(
        f"ROUND(LIST_INNER_PRODUCT(CAST(embedding AS DOUBLE[]), {_proj_sql(row)}), 6) AS p{j}"
        for j, row in enumerate(_PROJ)
    )
    + " FROM embeddings WHERE vec_id < 30 ORDER BY vec_id",
    tags=("llm", "embedding", "projection"),
)
def q_embed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random projection 64d -> 8d (JL-style, seeded Rademacher literals):
    the dimensionality-reduction front end of the ANN path, computed as
    per-row JVM expressions inside the scan (no shuffle, no Python)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 30)
    ev = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    proj = M.random_project(ev, _PROJ)
    return emb.select(
        "vec_id",
        *[F.round(proj[j], 6).alias(f"p{j}") for j in range(len(_PROJ))],
    ).orderBy("vec_id")


@register(
    "q_kmeans_clusters",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c0 AS (
        SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e WHERE vec_id IN (0, 1, 2, 3)
    ), s1 AS (
        SELECT e.vec_id, e.v, c0.cid,
               LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.v) + 1),
                        i -> (e.v[i] - c0.cv[i]) * (e.v[i] - c0.cv[i]))) AS dist
        FROM e CROSS JOIN c0
    ), a1 AS (
        SELECT vec_id, v, cid AS cluster
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY dist, cid) AS rn FROM s1)
        WHERE rn = 1
    ), m1 AS (
        SELECT cluster, dim, AVG(val) AS m
        FROM (SELECT cluster, UNNEST(v) AS val,
                     GENERATE_SUBSCRIPTS(v, 1) AS dim FROM a1)
        GROUP BY cluster, dim
    ), c1 AS (
        SELECT cluster AS cid, ARRAY_AGG(m ORDER BY dim) AS cv FROM m1 GROUP BY cluster
    ), s2 AS (
        SELECT e.vec_id, c1.cid,
               LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.v) + 1),
                        i -> (e.v[i] - c1.cv[i]) * (e.v[i] - c1.cv[i]))) AS dist
        FROM e CROSS JOIN c1
    ), a2 AS (
        SELECT vec_id, cid AS cluster
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY dist, cid) AS rn FROM s2)
        WHERE rn = 1
    )
    SELECT cluster, COUNT(*) AS n_members FROM a2 GROUP BY cluster ORDER BY cluster
    """,
    tags=("llm", "embedding", "kmeans"),
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means (K=4, 2 Lloyd iterations, deterministic init = vectors
    0..3) over the embedding corpus — the IVF centroid-training step as
    pure DataFrame ops. Output is integer cluster sizes, immune to
    partial-sum rounding; the oracle unrolls the same two passes in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = M.kmeans_fit(emb, "vec_id", "embedding", init_ids=[0, 1, 2, 3], iterations=2)
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cluster")
    )
