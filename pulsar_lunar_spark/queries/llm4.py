"""Training-data pipeline queries, batch 4 (SURVEY §2B north star):
PII scrubbing, context-window chunking, exact passage dedup, URL/domain
profiling, and the Z-order clustering key for multi-column data skipping.

The synthetic `documents` text is digit/URL-free word soup, so the PII and
URL queries append a DETERMINISTIC fixture suffix derived from (doc_id,
source) — built with identical string expressions on both the Spark and
DuckDB sides — before running the real operator (regex extraction /
redaction). The operator under test is the regex pipeline, not the
fixture.

Determinism discipline (registry docstring): integer sums only, md5-based
hashes, total orderings with tiebreaks, byte-identical regex patterns in
the Java-regex/RE2 common subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators import corpus as C
from pulsar_lunar_spark.operators import ml as M
from pulsar_lunar_spark.operators import text as T
from pulsar_lunar_spark.operators.partitioning import zorder_key, zorder_sql
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import ensure_parallelism, load_table, local_rows

_NORM = "REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')"
_WORDS = f"STRING_SPLIT({_NORM}, ' ')"

# DuckDB twin of the deterministic PII fixture suffix (see module docstring).
_AUG_SQL = """
    text
    || CASE WHEN doc_id % 2 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
            ELSE '' END
    || CASE WHEN doc_id % 3 = 0
            THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.77'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call +1-555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
"""


def _augmented_text() -> F.Column:
    """Spark twin of _AUG_SQL: the deterministic PII/URL fixture suffix."""
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            did % 2 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@mail.example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" host 10."), (did % 256).cast("string"), F.lit(".0.77")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" call +1-555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )


_PII_ORACLE = (
    """
    WITH aug AS (
        SELECT lang, ("""
    + _AUG_SQL
    + """) AS t FROM documents
    ), scrub AS (
        SELECT lang, t,
               LEN(REGEXP_EXTRACT_ALL(t, '"""
    + T.PII_EMAIL
    + """')) AS n_emails,
               LEN(REGEXP_EXTRACT_ALL(t, '"""
    + T.PII_PHONE
    + """')) AS n_phones,
               LEN(REGEXP_EXTRACT_ALL(t, '"""
    + T.PII_IPV4
    + """')) AS n_ips,
               REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(t,
                   '"""
    + T.PII_EMAIL
    + """', '[PII]', 'g'),
                   '"""
    + T.PII_PHONE
    + """', '[PII]', 'g'),
                   '"""
    + T.PII_IPV4
    + """', '[PII]', 'g') AS red
        FROM aug
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(CASE WHEN n_emails + n_phones + n_ips > 0 THEN 1 END)
               AS docs_with_pii,
           CAST(SUM(n_emails) AS BIGINT) AS n_emails,
           CAST(SUM(n_phones) AS BIGINT) AS n_phones,
           CAST(SUM(n_ips) AS BIGINT) AS n_ips,
           CAST(SUM(LEN(t) - LEN(red)) AS BIGINT) AS chars_redacted
    FROM scrub GROUP BY lang ORDER BY lang
    """
)


@register("q_pii_redact", oracle=_PII_ORACLE, tags=("llm", "pii"))
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit per language: count + redact emails / phones / IPv4
    with byte-identical Java-regex/RE2 patterns (operators/text.py). Pure
    regexp codegen in the scan projection + one tiny integer aggregate —
    at 100 TB this is scan-bound with zero shuffle beyond 5 groups.

    Reference analog: none (the reference moves opaque payloads,
    /root/reference/src/message/producer.rs:11-24); scrubbing is the
    payload-level transform a training pipeline bolts on top.
    """
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = _augmented_text()
    scrub = d.select(
        "lang",
        t.alias("t"),
        T.pii_count(t, T.PII_EMAIL).alias("n_emails"),
        T.pii_count(t, T.PII_PHONE).alias("n_phones"),
        T.pii_count(t, T.PII_IPV4).alias("n_ips"),
        T.redact_pii(t).alias("red"),
    )
    return (
        scrub.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(
                F.when(F.col("n_emails") + F.col("n_phones") + F.col("n_ips") > 0, 1)
            ).alias("docs_with_pii"),
            F.sum("n_emails").alias("n_emails"),
            F.sum("n_phones").alias("n_phones"),
            F.sum("n_ips").alias("n_ips"),
            F.sum(F.length("t") - F.length("red")).alias("chars_redacted"),
        )
        .orderBy("lang")
    )


@register(
    "q_chunk_documents",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_WORDS} AS words FROM documents
    ), s AS (
        SELECT doc_id, words,
               UNNEST(RANGE(0, GREATEST(LEN(words), 1), 24)) AS start
        FROM w
    )
    SELECT doc_id,
           CAST(start // 24 AS INT) AS chunk_idx,
           CAST(start AS INT) AS start,
           CAST(LEAST(32, LEN(words) - start) AS INT) AS n_tokens,
           MD5(ARRAY_TO_STRING(words[start + 1 : start + 32], ' ')) AS chunk_hash
    FROM s ORDER BY doc_id, chunk_idx
    """,
    tags=("llm", "chunking"),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: every document exploded into 32-token chunks
    with stride 24 (8-token overlap) — the pre-tokenizer sharding step of a
    pre-training pipeline. split + sequence + slice + md5, all codegen;
    O(tokens/stride) output rows and no shuffle (the ORDER BY is only the
    driver-compare canonicalization)."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        C.chunk_table(d, "doc_id", "text", window=32, stride=24)
        .select(
            F.col("__id").alias("doc_id"),
            "chunk_idx",
            "start",
            "n_tokens",
            "chunk_hash",
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "q_passage_dedup",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang, {_WORDS} AS words FROM documents
    ), s AS (
        SELECT doc_id, lang, words,
               UNNEST(RANGE(0, GREATEST(LEN(words), 1), 8)) AS start
        FROM w
    ), per_hash AS (
        SELECT lang, chunk_hash, COUNT(*) AS n_docs FROM (
            SELECT DISTINCT lang,
                   MD5(ARRAY_TO_STRING(words[start + 1 : start + 8], ' '))
                       AS chunk_hash,
                   doc_id
            FROM s
        ) GROUP BY lang, chunk_hash
    )
    SELECT lang,
           COUNT(*) AS distinct_passages,
           COUNT(CASE WHEN n_docs > 1 THEN 1 END) AS dup_passages,
           SUM(CASE WHEN n_docs > 1 THEN n_docs END) AS docs_sharing
    FROM per_hash GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "dedup"),
)
def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact passage-level dedup profile per language: non-overlapping
    8-token passages hashed and counted across documents — the scalable
    exact-substring-dedup primitive (no suffix array needed). One explode,
    one map-side-dedup'd distinct, integer sums; O(tokens) shuffle."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return C.passage_dup_stats(d, "doc_id", "text", "lang", window=8).select(
        F.col("grp").alias("lang"),
        "distinct_passages",
        "dup_passages",
        "docs_sharing",
    ).orderBy("lang")


_URL_PATTERN = r"https?://([A-Za-z0-9.-]+)"

_URL_ORACLE = (
    """
    WITH aug AS (
        SELECT doc_id, source, (
            text
            || CASE WHEN doc_id % 3 = 0
                    THEN ' see https://' || source || '.example.org/p/'
                         || CAST(doc_id AS VARCHAR)
                    ELSE '' END
            || CASE WHEN doc_id % 7 = 0
                    THEN ' img http://cdn' || CAST(doc_id % 5 AS VARCHAR)
                         || '.example.net/x.png'
                    ELSE '' END
        ) AS t FROM documents
    ), u AS (
        SELECT doc_id, UNNEST(REGEXP_EXTRACT_ALL(t, '"""
    + _URL_PATTERN
    + """', 1)) AS domain FROM aug
    )
    SELECT domain, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
    FROM u GROUP BY domain ORDER BY n_urls DESC, domain
    """
)


@register("q_url_domains", oracle=_URL_ORACLE, tags=("llm", "url"))
def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain profile of the corpus (the crawl-side quality signal:
    which hosts dominate). Deterministic URL fixture suffix (module
    docstring), then regexp_extract_all(group 1) + explode + count/
    countDistinct. O(urls) shuffle; countDistinct partials dedup map-side.
    """
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" see https://"),
                F.col("source"),
                F.lit(".example.org/p/"),
                did.cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" img http://cdn"),
                (did % 5).cast("string"),
                F.lit(".example.net/x.png"),
            ),
        ).otherwise(F.lit("")),
    )
    u = d.select(
        "doc_id",
        F.explode(F.regexp_extract_all(t, F.lit(_URL_PATTERN), F.lit(1))).alias("domain"),
    )
    return (
        u.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_urls"), "domain")
    )


@register(
    "q_zorder_layout",
    oracle=f"""
    WITH z AS (
        SELECT {zorder_sql('l_partkey', 'l_suppkey', 16)} AS zkey,
               l_partkey, l_suppkey
        FROM lineitem
    )
    SELECT zkey >> 12 AS zbucket,
           COUNT(*) AS n_rows,
           MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
           MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
    FROM z GROUP BY zbucket ORDER BY zbucket
    """,
    tags=("scale", "layout"),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering-key layout audit over lineitem (l_partkey,
    l_suppkey): per 4096-key z-bucket, row count and the min/max of BOTH
    dimensions. Sorting the table by zkey before writing bounds both ranges
    per file, so parquet min/max stats prune scans filtered on EITHER key —
    the OPTIMIZE ZORDER BY primitive, as pure bit-arithmetic codegen
    (operators/partitioning.py::zorder_key)."""
    li = load_table(spark, sf_dir, "lineitem")
    z = li.select(
        zorder_key(F.col("l_partkey"), F.col("l_suppkey"), 16).alias("zkey"),
        "l_partkey",
        "l_suppkey",
    )
    return (
        z.groupBy(F.shiftright("zkey", 12).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
        .orderBy("zbucket")
    )


# Shared prefix: the q_kmeans_clusters two-pass Lloyd unroll (llm3.py),
# extended to keep the final squared distance per vector.
_KMEANS_DIST_CTE = """
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
        SELECT vec_id, cluster, d4 FROM (
            SELECT vec_id, cid AS cluster,
                   FLOOR(dist * 10000 + 0.5) / 10000 AS d4,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM s2)
        WHERE rn = 1
    )
"""


@register(
    "q_embed_outliers",
    oracle=_KMEANS_DIST_CTE
    + """
    SELECT cluster, COUNT(*) AS n_members,
           MAX(CASE WHEN rn = 1 THEN vec_id END) AS far_vec_id,
           MAX(CASE WHEN rn = 1 THEN d4 END) AS far_dist
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
                                       ORDER BY d4 DESC, vec_id DESC) AS rn
          FROM a2)
    GROUP BY cluster ORDER BY cluster
    """,
    tags=("llm", "embedding", "outliers"),
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier audit: after the deterministic k-means fit
    (K=4, 2 Lloyd passes — same config as q_kmeans_clusters), report each
    cluster's size and its farthest member — the embedding-space outlier-
    filtering signal of a curation pipeline. The argmax compares the
    4dp-FLOOR-rounded distance (cross-engine-stable) with vec_id tiebreak;
    cluster sizes stay integer. Same broadcast-assign plan as the fit."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = M.kmeans_fit(
        emb, "vec_id", "embedding", init_ids=[0, 1, 2, 3], iterations=2, keep_dist=True
    )
    d4 = (F.floor(F.col("dist") * 10000 + 0.5) / 10000).alias("d4")
    far = F.max(F.struct(F.col("d4"), F.col("__id"))).alias("far")
    return (
        a.select("__id", "cluster", d4)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"), far)
        .select(
            "cluster",
            "n_members",
            F.col("far.__id").alias("far_vec_id"),
            F.col("far.d4").alias("far_dist"),
        )
        .orderBy("cluster")
    )


@register(
    "q_unigram_surprisal",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, UNNEST({_WORDS}) AS word FROM documents
    ), freq AS (
        SELECT word, COUNT(*) AS tf FROM tok GROUP BY word
    ), tot AS (
        SELECT COUNT(*) AS n_tok FROM tok
    ), wm AS (
        SELECT t.doc_id, t.lang,
               CAST(FLOOR(-LN(f.tf * 1.0 / n_tok) * 1000000 + 0.5) AS BIGINT)
                   AS wmic
        FROM tok t JOIN freq f USING (word) CROSS JOIN tot
    ), per_doc AS (
        SELECT doc_id, lang, SUM(wmic) AS s, COUNT(*) AS n
        FROM wm GROUP BY doc_id, lang
    )
    SELECT lang, doc_id, n AS n_tokens,
           FLOOR(s * 1.0 / n / 100 + 0.5) / 10000 AS surprisal
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                       ORDER BY s * 1.0 / n DESC, doc_id) AS rn
          FROM per_doc)
    WHERE rn <= 3 ORDER BY lang, doc_id
    """,
    tags=("llm", "quality"),
)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-surprisal quality signal (the cheap perplexity proxy): build
    the corpus unigram model, score every token with -ln p(word), and
    surface the 3 most-surprising documents per language.

    Determinism: per-token surprisal is quantized to integer micro-nats
    BEFORE any aggregation, so every downstream sum/mean is exact integer
    arithmetic (no partial-sum-order hazard); the display value divides two
    integers. Scale: one O(tokens) explode, a broadcast vocabulary join
    (map-side), integer aggregates — no Python, no second shuffle of text.
    """
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    from pyspark.sql import Window

    from pulsar_lunar_spark.operators.dedup import normalize_text

    words = F.split(normalize_text(F.col("text")), " ")
    tok = d.select("doc_id", "lang", F.explode(words).alias("word"))
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("tf"))
    # total tokens = sum of the vocabulary's term frequencies — derived
    # from the (tiny) freq aggregate instead of a third pass over the
    # exploded corpus
    tot = freq.agg(F.sum("tf").alias("n_tok"))
    wmic = F.floor(
        -F.log(F.col("tf").cast("double") / F.col("n_tok")) * 1000000 + 0.5
    ).cast("bigint")
    per_doc = (
        tok.join(F.broadcast(freq), "word")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "lang", wmic.alias("wmic"))
        .groupBy("doc_id", "lang")
        .agg(F.sum("wmic").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc(F.col("s") * 1.0 / F.col("n")), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "lang",
            "doc_id",
            F.col("n").alias("n_tokens"),
            (F.floor(F.col("s") * 1.0 / F.col("n") / 100 + 0.5) / 10000).alias(
                "surprisal"
            ),
        )
        .orderBy("lang", "doc_id")
    )


@register(
    "q_source_mixture",
    oracle="""
    WITH thr AS (
        SELECT * FROM (VALUES ('src0', '14'), ('src1', '29'), ('src2', '52'),
                              ('src3', '7f'), ('src4', 'cc')) t(source, thr)
    ), flagged AS (
        SELECT d.source,
               CASE WHEN SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)), 1, 2) < thr.thr
                    THEN 1 ELSE 0 END AS keep,
               d.n_chars
        FROM documents d JOIN thr ON d.source = thr.source
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT)
               AS chars_kept
    FROM flagged GROUP BY source ORDER BY source
    """,
    tags=("llm", "sampling", "mixture"),
)
def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture re-weighting: each source is down-sampled at its own
    deterministic md5-threshold rate (src0 ~8% ... src4 ~80%) — the
    per-domain mixture-weighting step that turns a raw crawl into a
    training mix. The 5-row weight table broadcasts; the keep flag is a
    scan-level predicate (pushdown-friendly), outputs are integer sums.
    """
    weights = [("src0", "14"), ("src1", "29"), ("src2", "52"), ("src3", "7f"), ("src4", "cc")]
    d = load_table(spark, sf_dir, "documents")
    thr = F.broadcast(
        local_rows(spark, weights, "source string, thr string")
    )
    # per-source threshold variant of corpus.sample_flag (same md5-prefix key)
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    flagged = d.join(thr, "source").select(
        "source",
        F.when(prefix < F.col("thr"), 1).otherwise(0).alias("keep"),
        "n_chars",
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("keep").alias("n_kept"),
            F.sum(F.when(F.col("keep") == 1, F.col("n_chars")).otherwise(0)).alias(
                "chars_kept"
            ),
        )
        .orderBy("source")
    )


@register(
    "q_token_packing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, LEN({_WORDS}) AS n_tokens FROM documents
    ), packed AS (
        SELECT lang, doc_id, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048) AS BIGINT)
                   AS shard_id
        FROM toks
    )
    SELECT lang, shard_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM packed GROUP BY lang, shard_id ORDER BY lang, shard_id
    """,
    tags=("llm", "packing"),
)
def q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (in deterministic doc_id order,
    per language) to fixed 2048-token training shards by running token
    count — shard_id = floor(preceding-sum / budget). The window is
    partitioned by lang so no single global sort bottlenecks at scale
    (shard keys are what a writer would partitionBy); integer sums only.
    """
    from pyspark.sql import Window

    from pulsar_lunar_spark.operators.dedup import normalize_text

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(normalize_text(F.col("text")), " "))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = d.select("doc_id", "lang", n_tok.alias("n_tokens"))
    packed = toks.withColumn(
        "shard_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048).cast("bigint"),
    )
    return (
        packed.groupBy("lang", "shard_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
        .orderBy("lang", "shard_id")
    )
