"""Training-data pipeline queries, batch 7 (SURVEY §2B north star):
BPE merge training (the tokenizer-fitting step), mergeable HLL distinct
sketches, and approximate quantiles — the sketch family that summarizes
a 100 TB corpus without a second pass.

q_bpe_merges emits a flag-style summary (round-0 argmax value-exact in
SQL + invariant flags for the iterative rounds, which have no tractable
SQL twin); the exact merge sequence is pinned by a Python-reference
replication test in tests/test_llm6.py. The sketch queries use the same
flag-style oracles where sketch internals are engine-specific; tighter
accuracy contracts are pytest-bound against exact answers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators import corpus as C
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import ensure_parallelism, load_table, local_rows


@register(
    "q_bpe_merges",
    oracle=r"""
    WITH words AS (
        SELECT UNNEST(STRING_SPLIT(REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g'),
                                   ' ')) AS w
        FROM documents
    ), vocab AS (
        SELECT w, COUNT(*) AS freq
        FROM words WHERE LENGTH(w) > 0
        GROUP BY w ORDER BY freq DESC, w LIMIT 300
    ), pairs AS (
        SELECT SUBSTR(w, i, 1) AS a, SUBSTR(w, i + 1, 1) AS b,
               CAST(SUM(freq) AS BIGINT) AS n
        FROM vocab, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LENGTH(w) - 1)) AS i) t
        GROUP BY 1, 2
    )
    SELECT 8 AS n_merges, a AS first_left, b AS first_right, n AS first_count,
           TRUE AS freq_monotone_ok, TRUE AS merged_distinct_ok
    FROM pairs ORDER BY n DESC, a, b LIMIT 1
    """,
    tags=("llm", "tokenizer", "bpe"),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training summary (first 8 merges over the document
    corpus, vocabulary = top-300 words by frequency): per round, count
    adjacent symbol pairs weighted by word freq (integer sums), take the
    argmax (count desc, pair asc — fully deterministic), rewrite the
    vocabulary with the merge. Pair counting is O(vocabulary), not
    O(corpus); see corpus.bpe_train.

    The iterative merge loop has no tractable SQL twin (REPLACE-style
    rewrites break on shared-boundary adjacency), so — same split the
    round-1 verdict prescribed for q_approx_stats — the registered query
    emits the SQL-checkable round-0 argmax (exactly the initial
    pair-count maximum, value-exact in DuckDB) plus invariant flags the
    later rounds must satisfy: merge frequencies are non-increasing
    (any pair a merge creates is bounded by that merge's own count) and
    merged symbols are unique. The full rank-by-rank merge table is
    pinned by the Python-reference replication test in
    tests/test_llm6.py::test_bpe_matches_python_reference."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    merges = C.bpe_train(d, "text", n_merges=8, top_words=300)
    counts = [n for (_, _, _, n) in merges]
    monotone = all(x >= y for x, y in zip(counts, counts[1:]))
    distinct = len({a + b for (_, a, b, _) in merges}) == len(merges)
    _, a0, b0, n0 = merges[0]
    return local_rows(
        spark,
        [(len(merges), a0, b0, n0, monotone, distinct)],
        "n_merges int, first_left string, first_right string, "
        "first_count long, freq_monotone_ok boolean, merged_distinct_ok boolean",
    )


@register(
    "q_hll_distinct",
    oracle=r"""
    WITH words AS (
        SELECT lang, source, UNNEST(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')) AS word
        FROM documents
    ), cells AS (
        SELECT lang, source, COUNT(DISTINCT word) AS dc
        FROM words GROUP BY lang, source
    )
    SELECT lang, CAST(SUM(dc) AS BIGINT) AS sum_cell_exact, TRUE AS hll_ok
    FROM cells GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "sketch", "hll"),
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-word sketches per language: hll_sketch_agg
    (Apache DataSketches HLL) built per (lang, source) cell, then
    hll_union_agg rolls cells up to per-lang estimates — the two-level
    merge tree that counts distinct tokens across a 100 TB corpus in one
    pass with O(lgK) state per cell (contrast: exact countDistinct
    shuffles every word). The sketch estimate has no SQL twin, so the
    oracle checks the exact per-cell sums plus an hll_ok boolean pinning
    the unioned estimate within 5% of the exact per-lang distinct count;
    tighter accuracy bounds in tests/test_llm6.py."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    words = d.select(
        "lang",
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"),
    )
    # One corpus-sized pass: distinct (lang, source, word) tuples end in a
    # single big exchange that BOTH downstream aggregations reuse (HLL over
    # a deduplicated stream yields the identical sketch — HLL is
    # duplicate-insensitive — and per-cell COUNT(*) over distinct tuples ==
    # countDistinct(word)).  The old two-branch form re-ran the scan +
    # explode per branch: 1.8 s -> 1.1 s at sf0.1.
    d1 = words.distinct()
    cell = d1.groupBy("lang", "source").agg(
        F.hll_sketch_agg("word").alias("sk"),
        F.count(F.lit(1)).alias("exact_cell"),
    )
    exact_lang = d1.groupBy("lang").agg(F.countDistinct("word").alias("exact_lang"))
    rolled = cell.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("approx"),
        F.sum("exact_cell").cast("long").alias("sum_cell_exact"),
    )
    return (
        rolled.join(exact_lang, "lang")
        .select(
            "lang",
            "sum_cell_exact",
            (
                F.abs(F.col("approx") - F.col("exact_lang"))
                <= F.greatest(F.lit(1), F.col("exact_lang") * 0.05)
            ).alias("hll_ok"),
        )
        .orderBy("lang")
    )


@register(
    "q_pq_adc_topk",
    oracle=r"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    subs AS (SELECT s FROM GENERATE_SERIES(0, 3) AS t(s)),
    dims AS (SELECT i FROM GENERATE_SERIES(1, 16) AS t(i)),
    cb AS (
        SELECT s, label, LIST(av ORDER BY i) AS cv
        FROM (
            SELECT subs.s AS s, label, dims.i AS i,
                   AVG(v[16 * subs.s + dims.i]) AS av
            FROM e CROSS JOIN subs CROSS JOIN dims
            GROUP BY 1, 2, 3
        )
        GROUP BY s, label
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    tab AS (
        SELECT s, label, cv,
               LIST_INNER_PRODUCT(cv, qv[16 * s + 1 : 16 * s + 16]) AS qdot
        FROM cb CROSS JOIN q
    ),
    enc AS (
        SELECT e.vec_id AS vec_id, t.s AS s,
               ARG_MIN(t.qdot,
                       LIST_DISTANCE(e.v[16 * t.s + 1 : 16 * t.s + 16], t.cv))
                   AS contrib
        FROM e CROSS JOIN tab t
        GROUP BY 1, 2
    )
    SELECT vec_id,
           FLOOR(SUM(contrib) * 1000000 + 0.5) / 1000000 AS adc_score
    FROM enc GROUP BY vec_id
    ORDER BY adc_score DESC, vec_id
    LIMIT 10
    """,
    tags=("llm", "similarity", "ann", "pq"),
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC (asymmetric distance computation) top-10:
    the billion-vector half of the IVF-PQ recipe (q_ivf_topk is the
    coarse half). The 64-dim space splits into m=4 subspaces of 16 dims;
    each subspace gets a k=10 codebook (deterministic: the per-label
    subvector mean, same codebook rule the IVF query trains); every
    vector encodes to its nearest sub-centroid per subspace; the query
    vector precomputes one dot product per (subspace, codeword) — the
    ADC lookup table — and a vector's approximate score is the sum of
    its 4 table entries.

    Scale shape: the codebook (m*k rows) and the ADC table broadcast;
    encoding is a scan-side broadcast join + min_by (no shuffle of the
    corpus beyond two hash aggs on vec_id); at 100 TB the stored codes
    are m bytes/vector vs 256 bytes raw — the memory win that makes
    billion-scale ANN serveable. Exact float discipline: sub-distances
    and dots fold element-in-order on both engines; the final score is
    floored at 1e-6 on both sides."""
    from pulsar_lunar_spark.operators import similarity as S

    m, d_sub = 4, 16
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # codebook: per-label mean vector, sliced into m subspace centroids
    cb64 = e.groupBy("label").agg(
        F.array(*[F.avg(F.col("v")[i]) for i in range(m * d_sub)]).alias("cv64")
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    # ADC lookup table: (subspace, codeword) -> dot(query_sub, centroid)
    tab = (
        cb64.join(F.broadcast(qv))
        .select(
            "label",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.slice("cv64", d_sub * s + 1, d_sub).alias("cv"),
                            S.dot(
                                F.slice("cv64", d_sub * s + 1, d_sub),
                                F.slice("qv", d_sub * s + 1, d_sub),
                            ).alias("qdot"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("x"),
        )
        .select("label", "x.s", "x.cv", "x.qdot")
    )
    # encode: nearest sub-centroid per (vector, subspace); min_by carries
    # the centroid's precomputed query-dot straight through, so encoding
    # and table lookup are one aggregation
    sub = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("v", d_sub * s + 1, d_sub).alias("sv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("x"),
    ).select("vec_id", "x.s", "x.sv")
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    enc = (
        sub.join(F.broadcast(tab), "s")
        .select("vec_id", "s", F.col("qdot"), dist.alias("dist"))
        .groupBy("vec_id", "s")
        .agg(F.min_by("qdot", "dist").alias("contrib"))
    )
    return (
        enc.groupBy("vec_id")
        .agg(
            (F.floor(F.sum("contrib") * 1000000 + F.lit(0.5)) / 1000000).alias(
                "adc_score"
            )
        )
        .orderBy(F.desc("adc_score"), "vec_id")
        .limit(10)
    )


@register(
    "q_duplicate_spans",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               LIST_FILTER(
                   STRING_SPLIT(REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g'), ' '),
                   x -> x != '') AS w
        FROM documents
    ),
    s AS (
        SELECT doc_id, ARRAY_TO_STRING(w[i : i + 7], ' ') AS span
        FROM t, UNNEST(GENERATE_SERIES(1, LEN(w) - 7)) AS u(i)
        WHERE LEN(w) >= 8
    ),
    pd AS (SELECT span, doc_id, COUNT(*) AS c FROM s GROUP BY 1, 2),
    agg AS (
        SELECT span,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(c) AS BIGINT) AS n_occurrences
        FROM pd GROUP BY span
    )
    SELECT span, n_docs, n_occurrences
    FROM agg WHERE n_docs >= 2
    ORDER BY n_occurrences DESC, span
    LIMIT 20
    """,
    tags=("llm", "dedup", "substring", "spans"),
)
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication: every OVERLAPPING 8-token span
    shared by >= 2 documents, ranked by total occurrences — the
    train-set memorization signal that document- and passage-level dedup
    both miss (boilerplate headers, license blocks, templated sentences
    repeat across otherwise-distinct documents). The suffix-array-free
    scale form: explode to overlapping shingles (O(tokens) rows, emitted
    inside the scan), then TWO stacked hash aggregations — per (span,
    doc) first, per span second — so no countDistinct Expand ever
    multiplies the shingle stream; shuffle is O(tokens) on the span key
    and boilerplate-heavy span skew is AQE-split. Top-20 with a total
    (n_occurrences DESC, span) order."""
    from pulsar_lunar_spark.operators.dedup import normalize_text

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(normalize_text(F.col("text")), " "), lambda w: F.length(w) > 0
        ).alias("w"),
    ).filter(F.size("w") >= 8)
    spans = toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(w) - 7), i -> array_join(slice(w, i, 8), ' '))")
        ).alias("span"),
    )
    per_doc = spans.groupBy("span", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    agg = per_doc.groupBy("span").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("c").cast("bigint").alias("n_occurrences"),
    )
    return (
        agg.filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_occurrences"), "span")
        .limit(20)
    )
