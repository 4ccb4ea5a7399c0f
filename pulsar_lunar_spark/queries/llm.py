"""LLM training-data pipeline queries (SURVEY §2B north star, §7.5):
dedup (exact + MinHash-LSH + SimHash), text analysis, language ID,
embedding similarity search.

Oracle notes: every query here has an exact DuckDB twin. The MinHash and
SimHash operators hash with the md5 prefix, so the oracle replicates the
full LSH pipeline value-exactly (signature -> banding -> verify).
The random-hyperplane ANN query uses a flag-style oracle (plane literals
have no SQL twin; the contract — count, self-retrieval, recall bound — is
asserted in-query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators import dedup as D
from pulsar_lunar_spark.operators import similarity as S
from pulsar_lunar_spark.operators import text as T
from pulsar_lunar_spark.session import ensure_parallelism, load_table
from pulsar_lunar_spark.queries.registry import register

# Shared normalization SQL fragment (DuckDB twin of dedup.normalize_text).
_NORM = "REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')"


@register(
    "q_dedup_exact",
    oracle=f"""
    WITH g AS (
        SELECT {_NORM} AS norm, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        FROM documents GROUP BY 1
    )
    SELECT COUNT(*)                                   AS n_unique,
           CAST(SUM(n_copies) AS BIGINT)              AS n_docs,
           COUNT(CASE WHEN n_copies > 1 THEN 1 END)   AS n_dup_groups,
           CAST(SUM(n_copies) - COUNT(*) AS BIGINT)   AS n_removed
    FROM g
    """,
    tags=("llm", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over normalized text (sha256 groupBy): corpus-level
    summary of unique docs / dup groups / rows removed."""
    # safe to scale out: the oracle compares integer counts only, which are
    # partial-order independent
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    g = D.exact_dedup(d, "text", "doc_id")
    return g.agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("n_copies").cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("n_copies") > 1, 1)).alias("n_dup_groups"),
        (F.sum("n_copies") - F.count(F.lit(1))).cast("bigint").alias("n_removed"),
    )


@register(
    "q_doc_fingerprint",
    oracle=f"""
    SELECT doc_id, MD5({_NORM}) AS fingerprint
    FROM documents
    WHERE doc_id <= 50
    ORDER BY doc_id
    """,
    tags=("llm", "fingerprint"),
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5 fingerprint of normalized text per document."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    return d.select(
        "doc_id", T.doc_fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


@register(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id,
           LENGTH(text) AS n_chars,
           LEN(STRING_SPLIT({_NORM}, ' ')) AS n_words,
           LEN(REGEXP_EXTRACT_ALL(text,
               '[A-Za-z]+(?:''[A-Za-z]+)?|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
           ROUND((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9\\s]', '', 'g')))
                 * 1.0 / LENGTH(text), 4) AS punct_ratio,
           ROUND(CAST(LIST_SUM(LIST_TRANSFORM(STRING_SPLIT({_NORM}, ' '),
                                              w -> LENGTH(w))) AS DOUBLE)
                 / LEN(STRING_SPLIT({_NORM}, ' ')), 4) AS mean_word_len
    FROM documents
    WHERE doc_id <= 100
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics: chars, whitespace words, BPE-ish regex
    tokens, punctuation ratio, mean word length — all codegen'd regex/HOFs."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        T.word_count(F.col("text")).alias("n_words"),
        T.token_count(F.col("text")).alias("n_tokens"),
        F.round(T.punct_ratio(F.col("text")), 4).alias("punct_ratio"),
        F.round(T.mean_word_length(F.col("text")), 4).alias("mean_word_len"),
    ).orderBy("doc_id")


@register(
    "q_lang_quality",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               LEAST(LENGTH(text) / 200.0, 1.0) * 0.4
               + CASE WHEN CAST(LIST_SUM(LIST_TRANSFORM(STRING_SPLIT({_NORM}, ' '),
                                                        w -> LENGTH(w))) AS DOUBLE)
                           / LEN(STRING_SPLIT({_NORM}, ' ')) BETWEEN 3 AND 10
                      THEN 1.0 ELSE 0.5 END * 0.3
               + (1.0 - LEAST((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9\\s]', '', 'g')))
                              * 5.0 / LENGTH(text), 1.0)) * 0.3 AS q
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(q), 4) AS avg_quality
    FROM scored GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "quality"),
)
def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (length / word-length / punctuation heuristic),
    aggregated per labeled language."""
    # NOT scaled out via repartition: AVG over doubles is partial-sum-order
    # sensitive, and round-robin repartition changed a 4th decimal at
    # sf0.001 vs the sequential DuckDB sum. The scan's natural split order
    # matches the oracle; scoring is cheap relative to lang_detect.
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", T.quality_score(F.col("text")).alias("q"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("q"), 4).alias("avg_quality"))
        .orderBy("lang")
    )


def _lang_score_sql(lang: str) -> str:
    stops = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
    return (
        f"LEN(LIST_FILTER(STRING_SPLIT({_NORM}, ' '), w -> LIST_CONTAINS([{stops}], w)))"
    )


@register(
    "q_lang_detect",
    oracle=f"""
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
    )
    SELECT lang, detected, COUNT(*) AS n
    FROM detected GROUP BY lang, detected ORDER BY lang, detected
    """,
    tags=("llm", "langid"),
)
def q_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-scoring language ID vs the labeled lang (confusion counts).
    Argmax tiebreak: language code ascending, 'und' when no stopword hits."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        d.select("lang", T.detect_lang(F.col("text")).alias("detected"))
        .groupBy("lang", "detected")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "detected")
    )


@register(
    "q_similarity_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(LIST_INNER_PRODUCT(CAST(embedding AS DOUBLE[]), qv)
                 / (SQRT(LIST_INNER_PRODUCT(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))
                    * SQRT(LIST_INNER_PRODUCT(qv, qv))), 6) AS cosine_sim
    FROM embeddings CROSS JOIN q
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
    tags=("llm", "similarity"),
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs the vec_id=0 embedding: one scan with a
    broadcast single-row query side; TakeOrderedAndProject keeps k rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = F.broadcast(
        emb.filter(F.col("vec_id") == 0)
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
        # query norm computed once on the 1-row broadcast side, not per
        # corpus row (the broadcast exchange materializes it)
        .select("qv", S.l2_norm(F.col("qv")).alias("qn"))
    )
    e = emb.crossJoin(qrow)
    ev = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        e.select(
            "vec_id",
            F.round(
                S.dot(ev, F.col("qv")) / (S.l2_norm(ev) * F.col("qn")), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "q_knn_join",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
         scored AS (
        SELECT q_id, vec_id,
               ROUND(LIST_INNER_PRODUCT(CAST(embedding AS DOUBLE[]), qv)
                     / (SQRT(LIST_INNER_PRODUCT(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[])))
                        * SQRT(LIST_INNER_PRODUCT(qv, qv))), 6) AS cosine_sim
        FROM embeddings CROSS JOIN q
    )
    SELECT q_id, vec_id, cosine_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY cosine_sim DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 5
    ORDER BY q_id, cosine_sim DESC, vec_id
    """,
    tags=("llm", "similarity", "knn"),
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join: top-5 neighbors for 5 query vectors against the corpus.
    GEMM path (Arrow-batched BLAS with per-partition local top-k — the
    shuffle carries O(partitions·|Q|·k) rows, never the 5·n score table);
    value-identity with the JVM knn_join twin is pytest-verified."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = S.knn_join_gemm(queries, emb, k=5)
    return out.select("q_id", "vec_id", "cosine_sim").orderBy(
        "q_id", F.desc("cosine_sim"), "vec_id"
    )


@register(
    "q_ann_topk",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS n_results,
           TRUE AS top1_is_unit,
           TRUE AS self_retrieved,
           TRUE AS recall_ok
    """,
    tags=("llm", "similarity", "ann"),
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 cosine via random-hyperplane LSH (scale path:
    probe only matching buckets). Bucket membership is hash-specific, so
    the oracle checks the operator's contract: 10 results, the query
    vector retrieves itself at similarity 1.0, and recall vs the exact
    top-10 is >= 0.5 (computed in-query against the brute-force ranking;
    the exact path is oracle-checked separately in q_similarity_topk).

    Plan (round 4): ONE Arrow GEMM pass scores every vector — bucket
    flag AND query cosine from the same numpy batch — into a
    written-once 3-column table; the approx and exact top-10 are then
    two TakeOrdered scans of that tiny table. The old form ran the full
    corpus pass twice (once LSH-filtered, once brute-force)."""
    from pulsar_lunar_spark.session import scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    scored = S.ann_cosine_scored(emb, "embedding", qvec)
    # per-CALL slot (keep-last-2): a fixed overwrite slot would delete
    # the files a previously returned result still lists
    path = scratch_dir("pl_ann_scored", sf_dir)
    scored.write.mode("overwrite").parquet(path)
    sc = spark.read.parquet(path)
    approx = (
        sc.filter("in_bucket")
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "cosine_sim")
    )
    exact_ids = (
        sc.orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.lit(1).alias("__exact_hit"))
    )
    return (
        approx.join(F.broadcast(exact_ids), "vec_id", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_results"),
            (F.round(F.max("cosine_sim"), 4) == 1.0).alias("top1_is_unit"),
            (F.max(F.when(F.col("vec_id") == 0, 1).otherwise(0)) == 1).alias(
                "self_retrieved"
            ),
            (F.sum(F.coalesce(F.col("__exact_hit"), F.lit(0))) >= 5).alias("recall_ok"),
        )
        .select("n_results", "top1_is_unit", "self_retrieved", "recall_ok")
    )


# Full SQL replica of the md5-portable MinHash-LSH pipeline: 3-word
# shingles, base hash = md5-prefix mod p, the SAME 128 affine rehash
# coefficients (embedded as literals from the seed-42 family), min per
# hash, 32 polynomial band buckets, bucket join, exact Jaccard verify.
_MH_P = D._MERSENNE_31
_MH_K = D._BAND_K
_MH_SHINGLES = f"""
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(
                   RANGE(1, GREATEST(LEN(STRING_SPLIT({_NORM}, ' ')) - 2, 1) + 1),
                   i -> ARRAY_TO_STRING(STRING_SPLIT({_NORM}, ' ')[i:i+2], ' ')
               )) AS sh
        FROM documents WHERE {_NORM} <> ''
"""
_MH_SIG_SQL = ",\n               ".join(
    f"MIN(({a} * h + {b}) % {_MH_P}) AS s{i}"
    for i, (a, b) in enumerate(D._hash_coefficients(128, 42))
)


def _mh_bucket_sql(b: int, r: int = 4) -> str:
    acc = "CAST(0 AS BIGINT)"
    for j in range(r):
        acc = f"(({acc}) * {_MH_K} + s{b * r + j}) % {_MH_P}"
    return acc


_MH_BUCKETS_SQL = ", ".join(_mh_bucket_sql(b) for b in range(32))
_MH_JACCARD = (
    "ROUND(LEN(LIST_INTERSECT(x.sh, y.sh)) * 1.0 /"
    " LEN(LIST_DISTINCT(LIST_CONCAT(x.sh, y.sh))), 6)"
)

# MATERIALIZED on every stage CTE is load-bearing for honest oracle
# timing: DuckDB inlines plain CTEs per reference — sh is referenced
# three times (signature build + both verify joins) and buckets twice
# (self-join), so the un-materialized form re-evaluated the md5
# signature battery per reference (~14-16 s at sf0.1 vs ~5.5 s
# materialized; identical values).
_MINHASH_ORACLE = f"""
    WITH sh AS MATERIALIZED ({_MH_SHINGLES}
    ), base AS MATERIALIZED (
        SELECT doc_id,
               CAST(CONCAT('0x', SUBSTR(MD5(t.s), 1, 15)) AS BIGINT) % {_MH_P} AS h
        FROM sh, UNNEST(sh.sh) AS t(s)
    ), sigs AS MATERIALIZED (
        SELECT doc_id,
               {_MH_SIG_SQL}
        FROM base GROUP BY doc_id
    ), buckets AS MATERIALIZED (
        SELECT doc_id, t.band AS band, bl[t.band + 1] AS bucket
        FROM (SELECT doc_id, [{_MH_BUCKETS_SQL}] AS bl FROM sigs),
             UNNEST(RANGE(0, 32)) AS t(band)
    ), cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b, {_MH_JACCARD} AS jaccard
    FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b
    WHERE {_MH_JACCARD} >= 0.3
    ORDER BY id_a, id_b
"""


def minhash_pairs_spool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-shared spool of the corpus MinHash-LSH pair table
    (128 hashes / 32 bands / md5-portable base hash / exact-Jaccard
    verify >= 0.3 — exactly what q_dedup_minhash computes).

    r11 optimization (guide §1.2 "don't compute things twice"): three
    DOWNSTREAM consumers of the dedup artifact (q_neardup_safe_split,
    q_softdedup_weights, q_dedup_source_matrix) each re-ran the whole
    LSH pipeline per call — at 100 TB the pair table is the persisted
    output of the dedup stage and those queries are single passes over
    it, which is what their docstrings already claimed. The spool is
    the kn_bigram_model / trade_edges "build the artifact once per
    (session, dataset-content, process)" pattern; q_dedup_minhash
    itself still computes the pipeline per call — it IS the dedup
    operator."""
    from pulsar_lunar_spark.session import shared_spool

    return shared_spool(
        spark, sf_dir, "pulsar_lunar_mh_pairs",
        lambda: D.minhash_dedup_pairs(
            load_table(spark, sf_dir, "documents"),
            "doc_id", "text", threshold=0.3,
        ),
    )


@register(
    "q_dedup_minhash",
    oracle=_MINHASH_ORACLE,
    tags=("llm", "dedup", "minhash"),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (128 hashes, 32 bands) verified by
    exact shingle Jaccard >= 0.3. Shuffle O(docs*bands), never O(n^2).
    The md5-portable base hash lets the oracle replicate the ENTIRE LSH
    pipeline value-exactly in SQL — same coefficients, same band folds,
    same verify."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(d, "doc_id", "text", threshold=0.3).orderBy(
        "id_a", "id_b"
    )


# MATERIALIZED on every stage CTE is load-bearing for honest oracle
# timing: DuckDB inlines plain CTEs per reference — sh is referenced
# three times (signature build + both verify joins) and buckets twice
# (self-join), so the un-materialized form re-evaluated the md5
# signature battery per reference (~14-16 s at sf0.1 vs ~5.5 s
# materialized; identical values).
_MINHASH_INCR_ORACLE = f"""
    WITH sh AS MATERIALIZED ({_MH_SHINGLES}
    ), base AS MATERIALIZED (
        SELECT doc_id,
               CAST(CONCAT('0x', SUBSTR(MD5(t.s), 1, 15)) AS BIGINT) % {_MH_P} AS h
        FROM sh, UNNEST(sh.sh) AS t(s)
    ), sigs AS MATERIALIZED (
        SELECT doc_id,
               {_MH_SIG_SQL}
        FROM base GROUP BY doc_id
    ), buckets AS MATERIALIZED (
        SELECT doc_id, t.band AS band, bl[t.band + 1] AS bucket
        FROM (SELECT doc_id, [{_MH_BUCKETS_SQL}] AS bl FROM sigs),
             UNNEST(RANGE(0, 32)) AS t(band)
    ), cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS hist_id
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bucket = b.bucket
        WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
    )
    SELECT c.new_id, c.hist_id, {_MH_JACCARD} AS jaccard
    FROM cand c JOIN sh x ON x.doc_id = c.new_id JOIN sh y ON y.doc_id = c.hist_id
    WHERE {_MH_JACCARD} >= 0.3
    ORDER BY new_id, hist_id
"""


@register(
    "q_dedup_incremental",
    oracle=_MINHASH_INCR_ORACLE,
    tags=("llm", "dedup", "minhash", "incremental"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: new batch (doc_id % 10 == 0) probed against
    the historical corpus via asymmetric MinHash-LSH — the daily-re-crawl
    shape where the historical bucket table is a persisted signature store.
    md5-portable hashing, so the oracle replicates the split, both bucket
    tables, the asymmetric join, and the exact-Jaccard verify in SQL."""
    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 == 0)
    hist = d.filter(F.col("doc_id") % 10 != 0)
    # both sides slice one corpus here: shingle it ONCE (one persisted
    # table) and pass filtered views, instead of two materializations
    sh = D.shingle_table(d, "doc_id", "text", 3)
    return D.minhash_incremental_pairs(
        new, hist, "doc_id", "text", threshold=0.3,
        new_shingles=sh.filter(F.col("__id") % 10 == 0),
        hist_shingles=sh.filter(F.col("__id") % 10 != 0),
    ).orderBy("new_id", "hist_id")


# Full SQL replica of the md5-portable SimHash: per-token 60-bit hash
# (first 15 hex chars of md5), per-bit majority vote -> signature, the
# same 4x15-bit pigeonhole banded join, exact bit_count(xor) verify.
_SIMHASH_SIG_SQL = " + ".join(
    f"(CASE WHEN SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
    f" THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
    for i in range(60)
)

_SIMHASH_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(CONCAT('0x', SUBSTR(MD5(t.tok), 1, 15)) AS BIGINT) AS h
        FROM documents, UNNEST(STRING_SPLIT({_NORM}, ' ')) AS t(tok)
        WHERE {_NORM} <> ''
    ), sigs AS MATERIALIZED (
        SELECT doc_id, {_SIMHASH_SIG_SQL} AS sig
        FROM toks GROUP BY doc_id
    ), blocked AS (
        SELECT doc_id, sig, b.block AS block,
               (sig >> (b.block * 15)) & 32767 AS bucket
        FROM sigs, UNNEST([0, 1, 2, 3]) AS b(block)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM blocked a JOIN blocked b
      ON a.block = b.block AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ORDER BY id_a, id_b
"""


@register(
    "q_dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    tags=("llm", "dedup", "simhash"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3 (pigeonhole banded
    join over 4 15-bit blocks). The md5-portable 60-bit signature lets the
    oracle replicate the ENTIRE pipeline — signature, banding, verify —
    value-exact in SQL."""
    d = load_table(spark, sf_dir, "documents")
    return (
        D.simhash_near_pairs(d, "doc_id", "text", max_hamming=3)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


@register(
    "q_ngram_jaccard",
    oracle=f"""
    WITH sh AS MATERIALIZED (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(
                   RANGE(1, GREATEST(LEN(STRING_SPLIT({_NORM}, ' ')) - 2, 1) + 1),
                   i -> ARRAY_TO_STRING(STRING_SPLIT({_NORM}, ' ')[i:i+2], ' ')
               )) AS sh
        FROM documents WHERE doc_id < 40 AND {_NORM} <> ''
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(LEN(LIST_INTERSECT(a.sh, b.sh)) * 1.0 /
                 LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """,
    tags=("llm", "dedup", "jaccard"),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity over all pairs of a bounded doc slice
    (the verification kernel of the near-dup pipeline, oracle-checked;
    unbounded pairwise Jaccard at scale goes through LSH, never this). A
    document with no shingles (no tokens) pairs with nothing."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sh = d.select(F.col("doc_id"), D.shingles(F.col("text"), 3).alias("sh")).filter(
        F.size("sh") > 0
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )
