"""Training-data pipeline queries, batch 5 (SURVEY §2B north star):
SemDeDup-style semantic dedup (k-means cells -> within-cell cosine),
bloom-filter incremental dedup (re-crawl vs historical corpus), a
hashed-bag-of-words linear quality classifier (broadcast model weights),
weighted priority sampling, and integer PageRank over the nation trade
graph derived from the TPC-H join path.

Determinism discipline (registry docstring): integer sums / BIGINT floor
division everywhere a value crosses the hash; md5-derived integers via
conv(hex) twinned with DuckDB CAST('0x'||... AS BIGINT); the one float
threshold (SemDeDup cosine 0.45) verified to sit in a >=1.4e-4 gap of the
pair-cosine distribution at sf0.001/0.01/0.1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators import corpus as C
from pulsar_lunar_spark.operators import graph as G
from pulsar_lunar_spark.operators import ml as M
from pulsar_lunar_spark.operators import similarity as S
from pulsar_lunar_spark.operators.dedup import normalize_text
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import ensure_parallelism, load_table, local_rows

_NORM = "REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')"
_WORDS = f"STRING_SPLIT({_NORM}, ' ')"

# DuckDB twin of corpus.md5_int(col, hex_chars, salt).
# Canonical home is operators/corpus.py next to the Column-form md5_int
# (ADVICE r9); this module keeps the historical name as an alias for its
# many existing importers.
from pulsar_lunar_spark.operators.corpus import md5_int_sql as _md5_int_sql  # noqa: E402


# ---------------------------------------------------------------------------
# SemDeDup: k-means cells -> within-cell cosine pairs -> keep lowest id
# ---------------------------------------------------------------------------

# Two-pass Lloyd unroll over the vec_id < 2000 slice (same shape as the
# q_kmeans_clusters oracle in llm3.py, with the slice filter pushed into e).
_KMEANS_SLICE_CTE = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE vec_id < 2000
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
        SELECT e.vec_id, e.v, c1.cid,
               LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.v) + 1),
                        i -> (e.v[i] - c1.cv[i]) * (e.v[i] - c1.cv[i]))) AS dist
        FROM e CROSS JOIN c1
    ), a2 AS (
        SELECT vec_id, v, cid AS cluster
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY dist, cid) AS rn FROM s2)
        WHERE rn = 1
    )
"""


@register(
    "q_semdedup",
    oracle=_KMEANS_SLICE_CTE
    + """
    , pairs AS (
        SELECT a.cluster, b.vec_id AS dropped
        FROM a2 a JOIN a2 b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE LIST_INNER_PRODUCT(a.v, b.v)
              / (SQRT(LIST_INNER_PRODUCT(a.v, a.v))
                 * SQRT(LIST_INNER_PRODUCT(b.v, b.v))) >= 0.45
    ), drops AS (
        SELECT cluster, COUNT(DISTINCT dropped) AS n_dropped FROM pairs GROUP BY cluster
    )
    SELECT a2.cluster, COUNT(*) AS n_members,
           CAST(COALESCE(MAX(drops.n_dropped), 0) AS BIGINT) AS n_dropped
    FROM a2 LEFT JOIN drops ON a2.cluster = drops.cluster
    GROUP BY a2.cluster ORDER BY a2.cluster
    """,
    tags=("llm", "dedup", "embedding", "semdedup"),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) as a two-operator composition: coarse
    k-means cells (K=4, 2 Lloyd passes, deterministic init = vectors 0..3)
    block the pair space, then one normalized GEMM per cell emits cosine
    pairs >= 0.45 and the higher vec_id of each pair is dropped (keep-
    lowest-id policy). Output per cell: members and dropped count — all
    integers. Threshold 0.45 sits in a >=1.4e-4 cosine gap at every SF.

    Scale: the kmeans assign is a broadcast-centroid pass; the pair stage
    shuffles each cell once and runs O(cell²·dim) FLOPs in BLAS — at 100 TB
    K grows with n so cells stay ~10-50k vectors (IVF-cell budget).

    Plan shape: ``keep_vec`` assignment feeds the GEMM stage DIRECTLY (no
    join back to the source table), and ``emit_block`` keeps the cell id on
    every emitted pair so drop counts are a per-cell aggregate of the pair
    stream — zero corpus-wide joins after the assign; the only join left is
    K-row members ⋈ K-row drops."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    assigned = M.kmeans_fit(
        emb, "vec_id", "embedding", init_ids=[0, 1, 2, 3], iterations=2,
        keep_vec=True,
    )
    pairs = S.blocked_cosine_pairs(
        assigned.select(F.col("__id").alias("vec_id"), "cluster", F.col("__v").alias("embedding")),
        id_col="vec_id", vec_col="embedding", block_col="cluster",
        threshold=0.45, emit_block=True,
    )
    drops = pairs.groupBy("cluster").agg(
        F.countDistinct("id_b").alias("__nd")
    )
    members = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        members.join(drops, "cluster", "left")
        .select(
            "cluster",
            "n_members",
            F.coalesce(F.col("__nd"), F.lit(0)).cast("long").alias("n_dropped"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup (re-crawl vs historical corpus)
# ---------------------------------------------------------------------------

_BLOOM_K = 3
_BLOOM_BITS = 1 << 20

# DuckDB twin of corpus.bloom_positions: k positions per normalized text.
_BLOOM_POS_SQL = ", ".join(
    f"{_md5_int_sql(_NORM, 8, f'{j}:')} % {_BLOOM_BITS} AS pos{j}"
    for j in range(_BLOOM_K)
)


@register(
    "q_dedup_bloom",
    oracle=f"""
    WITH hist AS (
        SELECT DISTINCT pos FROM (
            SELECT UNNEST([{', '.join(f'pos{j}' for j in range(_BLOOM_K))}]) AS pos
            FROM (SELECT {_BLOOM_POS_SQL} FROM documents WHERE doc_id % 2 = 0)
        )
    ), probe AS (
        SELECT doc_id, source, {_BLOOM_POS_SQL} FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, source, {_BLOOM_POS_SQL}
        FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
    ), checked AS (
        SELECT p.doc_id, p.source,
               (p.pos0 IN (SELECT pos FROM hist))
               AND (p.pos1 IN (SELECT pos FROM hist))
               AND (p.pos2 IN (SELECT pos FROM hist)) AS hit
        FROM probe p
    )
    SELECT source,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_clean
    FROM checked GROUP BY source ORDER BY source
    """,
    tags=("llm", "dedup", "bloom", "sketch"),
)
def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (re-crawl) dedup with a bloom filter: build the filter
    over the historical corpus (even doc_ids), probe a new batch (odd
    doc_ids plus a replay of every 10th historical doc under a new id —
    the planted true-duplicates). A probe is flagged iff ALL k=3 of its
    bit positions are set — bloom semantics exactly (no false negatives;
    false positives only on full k-way collisions), represented as a
    positions semi-join so DuckDB can verify it (see
    corpus.bloom_positions for the bitmap-broadcast scale posture).

    Deliberately NO ensure_parallelism: the position battery is 3 md5
    calls per row — far cheaper than the full-width round-robin exchange
    of the text column, which the three pruning-divergent consumers
    (hist / probe / totals) cannot share (measured r8: 1.85 s with the
    exchange vs 0.94 s scanning the single split thrice; the r6-r7
    1.2->1.6 s drift was this constant). At corpus scale the parquet
    scan has many native splits and the battery parallelizes in the scan
    stage for free."""
    d = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    pos = C.bloom_positions(norm, n_hashes=_BLOOM_K, n_bits=_BLOOM_BITS)
    # The probe slices, defined ONCE (and mirrored verbatim in the DuckDB
    # oracle above): the "new crawl" = odd doc_ids; the planted
    # true-duplicates = every 10th historical (even) doc replayed under an
    # offset id. `_probe_union` is the single source of both the
    # positions-bearing probe AND the column-pruned totals, so the slice
    # predicates cannot drift apart between them.
    new_pred = F.col("doc_id") % 2 == 1
    replay_pred = (F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 10 == 0)

    def _probe_union(base: DataFrame, *extra: Column) -> DataFrame:
        return base.filter(new_pred).select("doc_id", "source", *extra).unionByName(
            base.filter(replay_pred).select(
                (F.col("doc_id") + 10000000).alias("doc_id"), "source", *extra
            )
        )

    hist = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(pos).alias("pos"))
        .distinct()
    )
    probe = _probe_union(d, pos.alias("pos_arr"))
    # the expensive md5 position battery is computed ONCE per probe row:
    # flagged counts come from the semi-join aggregate (source rides
    # along), and the zero-hit docs — which the semi-join drops — need no
    # positions at all, only per-source totals from a column-pruned scan
    # (doc_id, source; the parquet reader never touches text for them)
    flagged = (
        probe.select("doc_id", "source", F.posexplode("pos_arr").alias("j", "pos"))
        .join(hist.hint("broadcast"), "pos", "left_semi")
        .groupBy("source", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == _BLOOM_K)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )
    totals = (
        _probe_union(d.select("doc_id", "source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_total"))
    )
    return (
        totals.join(flagged, "source", "left")
        .select(
            "source",
            F.coalesce("n_flagged", F.lit(0)).alias("n_flagged"),
            (F.col("n_total") - F.coalesce("n_flagged", F.lit(0))).alias("n_clean"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Hashed bag-of-words linear quality classifier (broadcast model weights)
# ---------------------------------------------------------------------------

_CLF_BUCKETS = 4096


@register(
    "q_quality_classifier",
    oracle=f"""
    WITH weights AS (
        SELECT i AS bucket,
               {_md5_int_sql("CAST(i AS VARCHAR)", 6, "w-")} % 2001 - 1000 AS w
        FROM RANGE({_CLF_BUCKETS}) AS t(i)
    ), tok AS (
        SELECT doc_id, lang, UNNEST({_WORDS}) AS word FROM documents
    ), scored AS (
        SELECT t.doc_id, t.lang,
               CAST(SUM(w.w) AS BIGINT) AS logit_sum,
               COUNT(*) AS n_tokens
        FROM tok t
        JOIN weights w ON {_md5_int_sql("t.word", 6)} % {_CLF_BUCKETS} = w.bucket
        GROUP BY t.doc_id, t.lang
    )
    SELECT lang, doc_id, n_tokens, logit_sum,
           FLOOR(1000000.0 / (1.0 + EXP(-(logit_sum * 1.0 / n_tokens) / 100.0)) + 0.5)
               / 1000000 AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                       ORDER BY logit_sum DESC, doc_id) AS rn
          FROM scored)
    WHERE rn <= 3 ORDER BY lang, doc_id
    """,
    tags=("llm", "quality", "classifier"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear classifier (the fastText-style quality-
    filter shape): tokens hash into 4096 buckets, a deterministic
    md5-derived integer weight table is broadcast-joined onto the token
    stream, and each doc's logit is the exact BIGINT weight sum (order-
    immune); the sigmoid is applied once to the final per-doc mean logit.
    Top-3 docs per lang by logit. In production the weight table is a
    trained model's parameters — same broadcast-join plan, just learned
    values."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    weights = spark.range(_CLF_BUCKETS).select(
        F.col("id").alias("bucket"),
        (
            C.md5_int(F.col("id").cast("string"), hex_chars=6, salt="w-") % 2001 - 1000
        ).alias("w"),
    )
    tok = d.select(
        "doc_id", "lang", F.explode(F.split(normalize_text(F.col("text")), " ")).alias("word")
    )
    scored = (
        tok.withColumn("bucket", C.md5_int(F.col("word"), hex_chars=6) % _CLF_BUCKETS)
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("w").cast("long").alias("logit_sum"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("logit_sum"), F.asc("doc_id"))
    score = (
        F.floor(
            1000000.0
            / (1.0 + F.exp(-(F.col("logit_sum") / F.col("n_tokens")) / 100.0))
            + 0.5
        )
        / 1000000
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "doc_id", "n_tokens", "logit_sum", score.alias("score"))
        .orderBy("lang", "doc_id")
    )


# ---------------------------------------------------------------------------
# Weighted priority sampling (deterministic, integer-only)
# ---------------------------------------------------------------------------


@register(
    "q_sample_weighted",
    oracle=f"""
    WITH pri AS (
        SELECT lang, doc_id, n_chars,
               {_md5_int_sql("CAST(doc_id AS VARCHAR)", 6, "s-")} * n_chars AS priority
        FROM documents
    )
    SELECT lang, doc_id, n_chars, CAST(priority AS BIGINT) AS priority
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                       ORDER BY priority DESC, doc_id) AS rn
          FROM pri)
    WHERE rn <= 3 ORDER BY lang, doc_id
    """,
    tags=("llm", "sampling"),
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sampling: priority = md5-derived
    uniform integer × weight (n_chars), top-3 per lang — longer docs win
    proportionally more often, repeatably across runs and engines (the
    reproducible cousin of A-ES weighted reservoir sampling; exact BIGINT
    arithmetic, no ln/pow). Per-group top-k runs as WindowGroupLimit —
    partial top-k on the map side, no full sort."""
    from pyspark.sql import Window

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    pri = d.select(
        "lang",
        "doc_id",
        "n_chars",
        (
            C.md5_int(F.col("doc_id").cast("string"), hex_chars=6, salt="s-")
            * F.col("n_chars")
        ).cast("long").alias("priority"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("priority"), F.asc("doc_id"))
    return (
        pri.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("lang", "doc_id")
    )


# ---------------------------------------------------------------------------
# PageRank over the nation trade graph (integer micro-units)
# ---------------------------------------------------------------------------

_PR_EDGES_CTE = """
    WITH edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY c.c_nationkey, s.s_nationkey
    ), outw AS (
        SELECT src, SUM(w) AS out_w FROM edges GROUP BY src
    ), ew AS (
        SELECT e.src, e.dst, e.w, o.out_w FROM edges e JOIN outw o USING (src)
    ), nodes AS (
        SELECT n_nationkey AS node FROM nation
    ), r0 AS (
        SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes
    )
"""


def _pr_iter_sql(prev: str, cur: str) -> str:
    return f"""
    , inc_{cur} AS (
        SELECT ew.dst AS node, SUM(r.rank * ew.w // ew.out_w) AS inc
        FROM ew JOIN {prev} r ON ew.src = r.node GROUP BY ew.dst
    ), {cur} AS (
        SELECT n.node,
               CAST(150000 + 85 * COALESCE(i.inc, 0) // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN inc_{cur} i USING (node)
    )
    """


@register(
    "q_pagerank_trade",
    oracle=_PR_EDGES_CTE
    + _pr_iter_sql("r0", "r1")
    + _pr_iter_sql("r1", "r2")
    + _pr_iter_sql("r2", "r3")
    + """
    SELECT n.n_nationkey AS nationkey, n.n_name AS nation, r3.rank AS rank
    FROM r3 JOIN nation n ON r3.node = n.n_nationkey
    ORDER BY rank DESC, nationkey
    """,
    tags=("llm", "graph", "pagerank"),
)
def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, damping 0.85, integer micro-units)
    over the nation trade graph: edge src→dst = customer-nation buys from
    supplier-nation, weight = lineitem count via the l_orderkey→orders→
    customer and l_suppkey→supplier join paths. The host-authority prior
    a curation pipeline computes over its crawl's link graph — every
    update is BIGINT multiply + floor division, so ranks are exact (see
    graph.pagerank for the update rule).

    Round-9 rewrite (r8 VERDICT's one actionable weak entry): the edge
    table comes from graph.trade_edges — the 4-join fact pipeline shared
    with q_hits_scores/q_label_propagation, built once per (dataset,
    process) and spooled to tmpfs.

    r11 rewrite (guide §1.2 first-principles, the q_hits_scores
    pattern): the nation graph is SCHEMA-bounded (|V| <= 25, |E| <= 625
    aggregate rows at any corpus size), so after the one data-scale
    pass (the spooled edge aggregate) the 3 damped-update rounds are
    exact integer arithmetic on a bounded table — collect it once (the
    kmeans-centroid bounded-collect class) and iterate on the driver
    instead of running per-round broadcast-join jobs (graph.pagerank).
    Identical integers: BIGINT multiply + floor division on
    non-negatives == DIV."""
    na = load_table(spark, sf_dir, "nation")
    edges = [(e.src, e.dst, e.w) for e in G.trade_edges(spark, sf_dir).collect()]
    node_ids = [int(r.n_nationkey) for r in na.select("n_nationkey").collect()]
    rank = G.pagerank(node_ids, edges, iterations=3, damping_pct=85)
    ranks = local_rows(spark, [(n, rank[n]) for n in node_ids], "node long, rank long")
    return (
        ranks.join(F.broadcast(na), ranks.node == na.n_nationkey)
        .select(
            F.col("n_nationkey").alias("nationkey"),
            F.col("n_name").alias("nation"),
            "rank",
        )
        .orderBy(F.desc("rank"), F.asc("nationkey"))
    )
