"""Corpus-level training-data pipeline operators (SURVEY §2B north star):
Gopher-style repetition/quality stats, near-dup clustering (connected
components -> canonical doc selection), deterministic stratified sampling,
TF-IDF term weighting, BM25 retrieval scoring, benchmark-contamination
n-gram checks.

These complete the dedup story of `operators/dedup.py`: pair detection
(MinHash-LSH / SimHash) emits edges; `connected_components` turns edges
into dup clusters; `canonical_ids` picks one keeper per cluster.

Scale notes (100 TB): everything here is exploded-token / edge-list
relational work — shuffles are O(tokens) or O(edges * log n), never
O(n^2). Repetition stats are per-row JVM HOF expressions (no shuffle at
all). No Python UDF anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators.dedup import normalize_text


# ---------------------------------------------------------------------------
# Gopher-style repetition stats (quality pre-filters)
# ---------------------------------------------------------------------------

def repetition_counts(col: Column) -> dict[str, Column]:
    """Integer repetition counters for one document (all JVM HOFs).

    Returned counters are INTEGERS so callers can aggregate them as sums
    and take ratios-of-sums afterwards — order-independent, so corpus
    aggregates hash-match a sequential oracle exactly (doubles averaged
    across partitions would not).

    - total_words / distinct_words: duplicate-word mass = 1 - distinct/total
    - top_word_count: occurrences of the single most frequent word
      (Gopher's "top word share" numerator)
    - total_2grams / distinct_2grams: duplicate-2gram mass
    """
    words = F.split(normalize_text(col), " ")
    total = F.size(words)
    uniq = F.array_distinct(words)
    # top word count = longest run in the sorted array: one O(n) fold with a
    # (prev, run, best) accumulator instead of the O(distinct·n)
    # filter-per-distinct-word form (HOF lambdas evaluate interpreted, so
    # the asymptotic term dominates; measured ~3x on the corpus scan).
    top = F.aggregate(
        F.array_sort(words),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc.getField("best"),
                F.when(w == acc.getField("prev"), acc.getField("run") + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda acc: acc.getField("best"),
    )
    grams2 = F.transform(
        F.sequence(F.lit(0), total - 2),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, 2)),
    )
    grams2 = F.when(total >= 2, grams2).otherwise(F.array().cast("array<string>"))
    return {
        "total_words": total,
        "distinct_words": F.size(uniq),
        "top_word_count": top,
        "total_2grams": F.size(grams2),
        "distinct_2grams": F.size(F.array_distinct(grams2)),
    }


# ---------------------------------------------------------------------------
# Connected components over near-dup pair edges
# ---------------------------------------------------------------------------

def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Label every node with the MIN node id reachable from it (its
    connected component) via iterative min-label propagation.

    nodes: one column ``node`` (bigint). edges: columns ``src``/``dst``
    (either direction; symmetrized here). Returns (node, component).

    Scale: each iteration is one shuffle join keyed by node id; labels
    converge in O(diameter) iterations (near-dup clusters are shallow —
    star-shaped around a popular doc — so typically 2-4). Each iteration's
    result is ``localCheckpoint``-ed: persist() alone is NOT enough for an
    iterative join — it caches the physical result but the LOGICAL plan
    still doubles every iteration (the update joins two trees derived from
    the previous labels), so analysis/canonicalization cost grows 2^i
    (measured: a 12-hop chain took minutes in the analyzer). Checkpointing
    truncates lineage, keeping every iteration's plan constant-size. On a
    real cluster use reliable `checkpoint()` to survive executor loss; for
    adversarially DEEP graphs use `connected_components_star` (same
    contract, O(log^2 n) rounds instead of O(diameter) — the escape hatch
    this function's RuntimeError names).
    """
    if max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    sym = edges.select(
        F.col("src").cast("long").alias("s"), F.col("dst").cast("long").alias("d")
    )
    sym = sym.union(sym.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    sym = sym.localCheckpoint(eager=True)

    labels = nodes.select(
        F.col("node").cast("long").alias("node"), F.col("node").cast("long").alias("component")
    ).localCheckpoint(eager=True)

    def _step(labels: DataFrame) -> tuple[DataFrame, int]:
        # min over (own label, neighbors' labels)
        neighbor_min = (
            sym.join(labels, sym["d"] == labels["node"])
            .groupBy(F.col("s").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = (
            updated.alias("u")
            .join(labels.alias("l"), "node")
            .filter(F.col("u.component") != F.col("l.component"))
            .count()
        )
        return updated, n_changed

    for _ in range(max_iterations):
        labels, n_changed = _step(labels)
        if n_changed == 0:
            return labels
    # The loop's LAST iteration still moved labels — that alone does not
    # mean the graph failed to converge (a diameter == max_iterations path
    # finishes propagating on exactly the final pass). One verification
    # step settles it: no further movement => converged, return.
    labels, n_changed = _step(labels)
    if n_changed == 0:
        return labels
    # Labels genuinely still moving past the budget: a component's diameter
    # exceeds max_iterations. Returning half-propagated labels would
    # silently split one component into several (and inflate any
    # per-cluster statistic built on top, e.g. softdedup weights — ADVICE
    # r7). Fail loudly instead.
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        f"iterations ({n_changed} labels still changing); raise "
        "max_iterations, or use connected_components_star for graphs "
        "with diameter above this bound"
    )


def connected_components_star(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    rounds (the MapReduce-era two-phase algorithm) — the documented
    escape hatch `connected_components` names for adversarially DEEP
    graphs: min-label propagation needs O(diameter) rounds, star
    contraction converges in O(log^2 n) regardless of diameter (a
    10 000-hop chain finishes in ~10 rounds, not 10 000).

    Same contract as `connected_components`: nodes(node BIGINT),
    edges(src, dst either direction) -> (node, component = MIN reachable
    id). Each phase is pure relational algebra — per-node neighbor
    minima via groupBy().min() (never collect_set: hub nodes stay
    O(1) state per aggregate) joined back to the edge list:

    - large-star: every neighbor v > u re-points to m = min(N(u), u);
    - small-star: every neighbor v <= u (and u itself) re-points to the
      minimum of that small neighborhood.

    Rounds are localCheckpoint-ed (constant-size plans — the same
    lineage discipline as the min-label loop); convergence = the edge
    multiset reached a fixed point (exceptAll both ways == 0 on
    checkpointed frames). Raises RuntimeError if max_rounds is exhausted
    (star contraction converging past 50 rounds means the input is
    adversarial beyond published bounds — refuse rather than return
    split components)."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    e = (
        edges.select(
            F.col("src").cast("long").alias("s"), F.col("dst").cast("long").alias("d")
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(df: DataFrame) -> DataFrame:
        return df.union(df.select(F.col("d").alias("s"), F.col("s").alias("d")))

    for _ in range(max_rounds):
        # LARGE-STAR: per node u, m = min(neighbors, u); re-point every
        # strictly larger neighbor at m.
        sym = _sym(e)
        m_u = sym.groupBy("s").agg(F.min("d").alias("__nb_min"))
        m_u = m_u.select("s", F.least("__nb_min", F.col("s")).alias("m"))
        large = (
            sym.join(m_u, "s")
            .filter(F.col("d") > F.col("s"))
            .select(F.col("d").alias("s"), F.col("m").alias("d"))
            .filter(F.col("s") != F.col("d"))
            .distinct()
        )
        # SMALL-STAR: per node u over its <=-neighborhood, m = min; every
        # member (and u) re-points at m.
        sym2 = _sym(large).localCheckpoint(eager=True)
        le = sym2.filter(F.col("d") <= F.col("s"))
        m2 = le.groupBy("s").agg(F.min("d").alias("m"))
        small_nb = (
            le.join(m2, "s")
            .select(F.col("d").alias("s"), F.col("m").alias("d"))
        )
        small_self = m2.select("s", F.col("m").alias("d"))
        new_e = (
            small_nb.union(small_self)
            .filter(F.col("s") != F.col("d"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if (
            new_e.exceptAll(e).count() == 0
            and e.exceptAll(new_e).count() == 0
        ):
            e = new_e
            break
        e = new_e
    else:
        raise RuntimeError(
            f"connected_components_star did not reach a fixed point in "
            f"{max_rounds} rounds"
        )
    # fixed point: every edge is (member, root). Isolated nodes (and the
    # roots themselves) label as their own component.
    labels = e.select(F.col("s").alias("node"), F.col("d").alias("component"))
    return (
        nodes.select(F.col("node").cast("long").alias("node"))
        .join(labels, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )


def canonical_ids(components: DataFrame) -> DataFrame:
    """One keeper per dup cluster: the component id itself (MIN doc id in
    the cluster, by construction of `connected_components`)."""
    return components.select(F.col("component").alias("keeper_id")).distinct()


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

def sample_flag(id_col: Column, rate_hex2: str) -> Column:
    """Deterministic sampling predicate: keep rows whose md5(id) 2-hex-char
    prefix sorts below ``rate_hex2`` (e.g. '29' ≈ 16%). Engine-portable —
    md5 + string compare give identical keep-sets in Spark and any SQL
    oracle, unlike rand(seed)/TABLESAMPLE whose streams differ per engine.
    Per-stratum rates = different thresholds per stratum."""
    return F.substring(F.md5(id_col.cast("string")), 1, 2) < F.lit(rate_hex2)


# ---------------------------------------------------------------------------
# TF-IDF and BM25 over exploded tokens
# ---------------------------------------------------------------------------

def tfidf_terms(
    df: DataFrame, id_col: str, text_col: str, group_col: str, min_len: int = 3
) -> DataFrame:
    """Per-(group, term) TF-IDF: tf = term count within group,
    idf = ln((N+1)/(df+1)) with N = total docs, df = docs containing term.

    Single-tokenize, single-shuffle form: the corpus is tokenized and
    exploded ONCE, shuffled ONCE on hash(term); every downstream step —
    the per-(term, doc) dedupe, the df count (key=term), the tf rollup
    (key superset {grp, term}), and the tf⋈df join (key=term) — reuses
    that one partitioning, so Spark inserts zero further exchanges (and
    the two consumers of the shuffle read the same files via exchange
    reuse, not by recomputing the tokenize). At 100 TB this is the same
    O(tokens) movement an inverted-index build pays, once.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    tok = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias("grp"),
            F.explode(words).alias("term"),
        )
        .filter(F.length("term") >= min_len)
        .repartition("term")
    )
    # distinct (term, doc) pairs with their in-doc counts; grp is a
    # function of the doc id, so it rides along for free
    per_doc_term = tok.groupBy("term", "__id", "grp").agg(F.count(F.lit(1)).alias("c"))
    tf = per_doc_term.groupBy("grp", "term").agg(F.sum("c").alias("tf"))
    dfreq = per_doc_term.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "grp",
            "term",
            "tf",
            "df",
            (F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1))).alias("tfidf"),
        )
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 document scores for a bag of query terms.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Per-doc tf for each query term is a JVM filter-count over the token
    array (no explode of the corpus); df/N/avgdl are one tiny aggregate
    broadcast to the scan. avgdl is a ratio of integer sums — deterministic
    across partition orders.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    docs = df.select(F.col(id_col).alias("__id"), words.alias("__w"), F.size(words).alias("dl"))
    per_term = docs.select(
        "__id",
        "dl",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("term"),
                        F.size(F.filter("__w", lambda w: w == F.lit(t))).alias("tf"),
                    )
                    for t in query_terms
                ]
            )
        ).alias("tt"),
    ).select("__id", "dl", F.col("tt.term").alias("term"), F.col("tt.tf").alias("tf"))
    matches = per_term.filter(F.col("tf") > 0)
    dfreq = matches.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    avgdl = F.col("sum_dl") / F.col("n_docs")
    term_score = idf * (
        F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl))
    )
    return (
        matches.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("__id")
        .agg(F.sum(term_score).alias("bm25"), F.count(F.lit(1)).alias("n_terms_hit"))
    )


# ---------------------------------------------------------------------------
# Benchmark contamination (n-gram overlap vs a held-out set)
# ---------------------------------------------------------------------------

def contamination_hits(
    corpus_shingles: DataFrame, bench_shingles: DataFrame
) -> DataFrame:
    """(bench_id, corpus_id) pairs sharing >= 1 shingle — the inverted-index
    join used for benchmark-decontamination. Inputs are (id, shingle-array)
    tables; both are exploded and joined on the shingle value, so the
    shuffle is O(total shingles), never pairwise."""
    c = corpus_shingles.select(
        F.col("__id").alias("corpus_id"), F.explode("__sh").alias("sh")
    )
    s = bench_shingles.select(
        F.col("__id").alias("bench_id"), F.explode("__sh").alias("sh")
    )
    return c.join(s, "sh").select("bench_id", "corpus_id").distinct()


def contamination_counts(
    corpus_shingles: DataFrame, bench_shingles: DataFrame
) -> DataFrame:
    """Per-benchmark-doc count of distinct contaminated corpus docs —
    same semantics as COUNT(DISTINCT) over `contamination_hits`, but as a
    single shuffle: the shingle join feeds a countDistinct aggregate whose
    map-side partial dedups (bench_id, corpus_id) before the exchange,
    instead of a full distinct() shuffle followed by a count shuffle."""
    c = corpus_shingles.select(
        F.col("__id").alias("corpus_id"), F.explode("__sh").alias("sh")
    )
    s = bench_shingles.select(
        F.col("__id").alias("bench_id"), F.explode("__sh").alias("sh")
    )
    return (
        c.join(s, "sh")
        .groupBy("bench_id")
        .agg(F.countDistinct("corpus_id").alias("n_contaminated"))
    )


# ---------------------------------------------------------------------------
# Token-window chunking (context-window packing / passage dedup)
# ---------------------------------------------------------------------------

def chunk_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Explode each document into token-window chunks of `window` whitespace
    words every `stride` words (overlap = window - stride). Returns
    (__id, chunk_idx, start, n_tokens, chunk_hash, chunk_text).

    This is the standard context-window packing / passage-extraction step of
    a pre-training pipeline. All JVM expressions (split + sequence + slice +
    md5) — scan-speed, no Python, no shuffle; output is O(tokens/stride)
    rows. chunk_idx = start / stride, so the layout is reproducible without
    a window function.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("__words") - 1, F.lit(0)), F.lit(stride)
    )
    toks = F.slice(F.col("__words"), F.col("start") + 1, window)
    return (
        df.select(F.col(id_col).alias("__id"), words.alias("__words"))
        .select("__id", "__words", F.explode(starts).alias("start"))
        .select(
            "__id",
            (F.col("start") / stride).cast("int").alias("chunk_idx"),
            "start",
            F.size(toks).alias("n_tokens"),
            F.md5(F.concat_ws(" ", toks)).alias("chunk_hash"),
            F.concat_ws(" ", toks).alias("chunk_text"),
        )
    )


def passage_dup_stats(
    df: DataFrame, id_col: str, text_col: str, group_col: str, window: int = 8
) -> DataFrame:
    """Per-group exact passage-duplication profile: chunk every doc into
    non-overlapping `window`-token passages, hash them, and count how many
    distinct passages occur in more than one document.

    The scalable exact-substring-dedup primitive (suffix-array-free):
    one explode + one (hash, doc) distinct + integer-sum aggregate —
    O(tokens) shuffle, order-independent integer outputs.
    """
    chunks = chunk_table(df, id_col, text_col, window=window, stride=window)
    grp = df.select(F.col(id_col).alias("__id"), F.col(group_col).alias("grp"))
    per_hash = (
        chunks.join(grp, "__id")
        .select("grp", "chunk_hash", "__id")
        .distinct()
        .groupBy("grp", "chunk_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return per_hash.groupBy("grp").agg(
        F.count(F.lit(1)).alias("distinct_passages"),
        F.count(F.when(F.col("n_docs") > 1, 1)).alias("dup_passages"),
        F.sum(F.when(F.col("n_docs") > 1, F.col("n_docs"))).alias("docs_sharing"),
    )


# ---------------------------------------------------------------------------
# Engine-portable md5 integer hashing + bloom-filter membership
# ---------------------------------------------------------------------------

def md5_int(col: Column, hex_chars: int = 6, salt: str = "") -> Column:
    """Deterministic non-negative integer hash of a string column: the
    first `hex_chars` hex digits of md5(salt || col) parsed base-16.
    Engine-portable twin: CAST('0x' || SUBSTR(MD5(...), 1, n) AS BIGINT).
    6 hex chars -> [0, 2^24); 8 -> [0, 2^32). JVM-side (md5 + conv), no
    Python, evaluates inside the scan's codegen stage."""
    h = F.md5(F.concat(F.lit(salt), col)) if salt else F.md5(col)
    return F.conv(F.substring(h, 1, hex_chars), 16, 10).cast("long")


def md5_int_sql(expr: str, hex_chars: int = 6, salt: str = "") -> str:
    """The DuckDB SQL twin of :func:`md5_int` — both forms live side by
    side so a portability fix lands in the Column and SQL shapes at once
    (ADVICE r9: the twin previously lived in a query module and forced
    mid-file cross-query imports)."""
    inner = f"'{salt}' || {expr}" if salt else expr
    return f"CAST(('0x' || SUBSTR(MD5({inner}), 1, {hex_chars})) AS BIGINT)"


def bloom_positions(
    text: Column, n_hashes: int = 3, n_bits: int = 1 << 20
) -> Column:
    """The k bloom-filter bit positions of a (pre-normalized) text value:
    pos_j = md5_int(j || ':' || text, 8 hex) % n_bits, j = 0..k-1.

    The filter over a corpus is the DISTINCT set of positions of its
    members; a probe is a (possible) member iff ALL k of its positions are
    in that set — exactly bloom semantics (false positives = full k-way
    collisions, never false negatives), but represented relationally so
    the check is a positions semi-join instead of a bitmap probe, and a
    SQL oracle can verify it.

    Scale notes (100 TB): the positions table is at most n_bits rows after
    DISTINCT (bounded by filter size, not corpus size) — broadcast it to
    probe batches. Materializing the literal bitmap instead (partition-wise
    bitwise-OR treeAggregate, ~n_bits/8 bytes broadcast) is the constant-
    factor upgrade; the plan shape (build once, stream probes against it)
    is identical.
    """
    return F.array(
        *[
            F.pmod(
                md5_int(F.concat(F.lit(f"{j}:"), text), hex_chars=8),
                F.lit(n_bits),
            )
            for j in range(n_hashes)
        ]
    )


# ---------------------------------------------------------------------------
# Hashed n-gram importance selection (DSIR-style data selection)
# ---------------------------------------------------------------------------

def hashed_ngram_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    n_buckets: int = 4096,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-document importance score for target-distribution data selection,
    after DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): featurize every document as hashed word
    bigrams, fit bucket-level target/raw counts in one corpus pass, then
    score each document by the mean bucket-level target posterior of its
    bigram occurrences.

    Determinism variant: instead of DSIR's log-likelihood ratio (float
    logs are libm-dependent across engines), each bucket carries the
    Laplace-smoothed INTEGER posterior ``scale*(ct+1) div (ct+cr+2)`` —
    the probability the bucket's mass came from the target slice, in
    ppm — and a document's score is the exact integer mean over its
    occurrences. Rankings agree with the LLR form whenever bucket ratios
    are modest; every arithmetic step is exact cross-engine.

    Returns (id_col, n_ngrams, avg_importance) for documents with >= 2
    words. All JVM: split/slice/md5 in the scan, two hash aggregations,
    one broadcast join of the n_buckets-row posterior table.

    Scale (100 TB): the posterior table is bounded by n_buckets (not the
    corpus), so the join is always a broadcast; the bigram stream is
    emitted inside the scan and shuffles once per aggregation on the
    bucket / id key. The stream is traversed twice (fit + score) —
    persist the exploded stream (and unpersist after) when the scan
    dominates, exactly like the containment postings."""
    stream = hashed_ngram_stream(df, id_col, text_col, target, n_buckets)
    return hashed_ngram_importance_from(stream, id_col=id_col, scale=scale)


def hashed_ngram_stream(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    n_buckets: int = 4096,
) -> DataFrame:
    """The hashed-bigram occurrence stream (id, __t target flag, bucket)
    that both the posterior fit and the per-doc scoring consume. Exposed
    separately so a caller that owns the lifecycle can
    ``stream.repartition("bucket").persist()`` and pay the scan + explode
    + md5 ONCE for both consumers (see q_dsir_select) — the library
    itself never persists (JVM CacheManager pins persisted plans until
    explicit unpersist)."""
    words = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda t: F.length(t) > 0
    )
    toks = df.select(
        F.col(id_col), target.alias("__t"), words.alias("__w")
    ).filter(F.size("__w") >= 2)
    grams = toks.select(
        id_col,
        "__t",
        F.explode(
            F.expr("transform(sequence(1, size(__w) - 1), i -> array_join(slice(__w, i, 2), ' '))")
        ).alias("__g"),
    )
    return grams.select(
        id_col, "__t", (md5_int(F.col("__g"), 15) % n_buckets).alias("bucket")
    )


def hashed_ngram_importance_from(
    buckets: DataFrame,
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Fit + score over a pre-built hashed-bigram stream (see
    :func:`hashed_ngram_stream`); posterior table bounded by n_buckets,
    broadcast back over the stream."""
    posterior = (
        buckets.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("__t"), 0).otherwise(1)).alias("cr"),
        )
        .select(
            "bucket",
            F.expr(f"({scale} * (ct + 1)) div (ct + cr + 2)").alias("p"),
        )
    )
    return (
        buckets.join(F.broadcast(posterior), "bucket")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_ngrams"), F.sum("p").alias("__s"))
        .select(
            id_col,
            "n_ngrams",
            F.expr("__s div n_ngrams").alias("avg_importance"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge training (tokenizer-fitting step of a data pipeline)
# ---------------------------------------------------------------------------

def _merge_adjacent(arr: Column, a: str, b: str) -> Column:
    """Replace adjacent symbol pairs (a, b) with a+b, left-to-right
    non-overlapping (standard BPE merge), as a JVM fold over the symbol
    array: if the accumulator's last element is `a` (and not itself just
    produced by this merge — impossible, since a+b != a) and the incoming
    symbol is `b`, the last element becomes a+b; else append."""
    lit_a, lit_b, lit_ab = F.lit(a), F.lit(b), F.lit(a + b)
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == lit_a) & (s == lit_b),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(lit_a, lit_b))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 6,
    top_words: int = 300,
) -> list[tuple[int, str, str, int]]:
    """Learn the first `n_merges` BPE merges from a corpus: build the
    (word, freq) vocabulary (top `top_words` by freq, word tiebreak),
    split words into character symbols, then iteratively (1) count
    adjacent symbol pairs weighted by word freq, (2) pick the max-count
    pair (count desc, pair asc tiebreak — fully deterministic), (3) merge
    it in every word. Returns [(rank, left, right, weighted_count)].

    Scale notes (100 TB): the ONLY corpus-sized pass is the distributed
    (word, freq) build — one tokenize scan + one integer-sum shuffle.
    The merge iteration then runs driver-local on the collected top
    `top_words` vocabulary: the vocab is bounded by construction (a
    tokenizer trains on at most ~1M word forms regardless of corpus
    size), and a bounded-input sequential loop belongs on the driver —
    the earlier distributed version paid ~12 Spark job floors (~2.4 s)
    to aggregate 300 rows per round. The learned merge table then
    broadcasts back into the distributed encode fold (bpe_encode /
    q_bpe_encode) as literal rewrites.
    """
    from pulsar_lunar_spark.operators.dedup import normalize_text

    vocab_rows = (
        df.select(F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("w"))
        .limit(top_words)
        .collect()
    )
    syms: list[tuple[list[str], int]] = [(list(r["w"]), int(r["freq"])) for r in vocab_rows]

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for s, freq in syms:
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + freq
        if not counts:
            break
        # argmax: count desc, then (a, b) asc — same total order the
        # distributed form used (ORDER BY n DESC, p.a ASC, p.b ASC)
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, a, b, int(n)))
        new_syms: list[tuple[list[str], int]] = []
        for s, freq in syms:
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            new_syms.append((out, freq))
        syms = new_syms
    return merges


def ngram_types(
    spark,
    sf_dir: str,
    n: int = 2,
    doc_id_parity: int | None = None,
) -> DataFrame:
    """Per-(session, dataset, process) spooled n-gram TYPE table over the
    documents corpus: ``(g, c)`` with ``g`` the space-joined n-gram string
    and ``c`` its corpus count (BIGINT). ``doc_id_parity`` restricts the
    corpus to one train split (0 = even doc_ids, 1 = odd, None = all).

    The trade_edges pattern applied to the LM family (r9 VERDICT #2):
    q_kneser_ney / q_kn_doc_surprisal both train on the all-docs bigram
    table and q_stupid_backoff on the even-split trigram table, and each
    call used to re-run the corpus explode + hash aggregate (the repo's
    worst solo ratio, kn_doc_surprisal 3.23x, was two such rebuilds).
    One process-shared tmpfs artifact per (n, split) is the at-scale
    shape too: a 100 TB pipeline materializes its n-gram count table
    once and runs every LM/stat consumer over the artifact. Build cost
    is one corpus scan -> vocabulary-bounded aggregate; the spool is
    O(types), not O(tokens)."""
    from pulsar_lunar_spark.session import (
        ensure_parallelism,
        load_table,
        shared_spool,
    )

    def build() -> DataFrame:
        docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
        if doc_id_parity is not None:
            docs = docs.filter(F.col("doc_id") % 2 == doc_id_parity)
        words = F.split(normalize_text(F.col("text")), " ")
        staged = docs.select(words.alias("__w")).filter(F.size("__w") >= n)
        parts = ", ' ', ".join(
            f"element_at(__w, i + {j})" if j else "element_at(__w, i)"
            for j in range(n)
        )
        grams = staged.select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(__w) - {n - 1}),"
                    f" i -> concat({parts}))"
                )
            ).alias("g")
        )
        return grams.groupBy("g").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )

    split = "all" if doc_id_parity is None else f"p{doc_id_parity}"
    return shared_spool(
        spark, sf_dir, f"pulsar_lunar_ngram_types_{n}_{split}", build
    )


def kn_bigram_model(spark, sf_dir: str) -> DataFrame:
    """Per-(session, dataset, process) spooled Kneser-Ney bigram MODEL
    table: kn_bigram_probs over the shared all-docs bigram type table,
    materialized once — the trained-LM artifact both q_kneser_ney (rank
    its rows) and q_kn_doc_surprisal (apply it to score documents)
    consume. Train once, apply many: at 100 TB the model table is a
    stored table, not a per-query subplan; locally it removes the
    window-marginal job chain from every call after the first."""

    def build() -> DataFrame:
        cnt = ngram_types(spark, sf_dir, 2).select(
            F.col("g").alias("b"), F.col("c").alias("c12")
        )
        return kn_bigram_probs(cnt)

    from pulsar_lunar_spark.session import shared_spool

    return shared_spool(spark, sf_dir, "pulsar_lunar_kn_model", build)


def kn_bigram_probs(cnt: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (absolute discount
    3/4) over a bigram-TYPE count table ``cnt`` with columns
    ``(b, c12)`` where ``b`` is the space-joined bigram string:

        p_kn(w2|w1) = (c12 - 3/4)/c1 + (3/4 * N1+(w1,*)/c1) * p_cont(w2)
        p_cont(w2)  = N1+(*, w2) / |distinct bigrams|

    in exact ppm integers (the discount rides as the 4x-scaled numerator
    4*c12 - 3, never negative since c12 >= 1, so every division has a
    non-negative numerator and Spark div == DuckDB //). The result is
    clamped to >= 1 ppm so a downstream LN never sees zero (a
    singleton bigram under a very heavy history can floor both terms
    to 0 at corpus scale).

    Returns ``(b, w1, w2, c12, c1, nfoll, nprec, p_kn_ppm)``. All
    marginals are WINDOW aggregates over the bigram-type table
    (vocabulary-squared bounded), so the table pipelines ONCE — no
    self-joins, no spool, no re-derivation per marginal (the round-8
    rewrite: the join form re-consumed cnt four times, which either
    re-scanned the corpus or paid a tmpfs spool per call). Shared by
    q_kneser_ney and q_kn_doc_surprisal."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    bi = cnt.select(
        "b",
        F.expr("split_part(b, ' ', 1)").alias("w1"),
        F.expr("split_part(b, ' ', 2)").alias("w2"),
        "c12",
    )
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    allw = Window.partitionBy()
    p = bi.select(
        "b",
        "w1",
        "w2",
        "c12",
        F.sum("c12").over(w1w).cast("long").alias("c1"),
        F.count(F.lit(1)).over(w1w).cast("long").alias("nfoll"),
        F.count(F.lit(1)).over(w2w).cast("long").alias("nprec"),
        F.count(F.lit(1)).over(allw).cast("long").alias("nbi"),
    )
    return p.select(
        "b",
        "w1",
        "w2",
        "c12",
        "c1",
        "nfoll",
        "nprec",
        F.greatest(
            (
                F.expr("(1000000L * (4 * c12 - 3)) div (4 * c1)")
                + F.expr(
                    "(3 * nfoll * ((1000000L * nprec) div nbi)) div (4 * c1)"
                )
            ).cast("long"),
            F.lit(1).cast("long"),
        ).alias("p_kn_ppm"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer: EM-pruned vocabulary trainer
# ---------------------------------------------------------------------------

#: cost of an out-of-vocabulary single character during ENCODE (micro-nats):
#: strictly worse than any trained piece (p_ppm >= 1 => cost <= ln(1e6)*1e6
#: ~= 13.8e6), so known pieces always win where they exist.
UNK_COST_MICRO = 20_000_000


def unigram_viterbi(
    word: str,
    cost_micro: dict[str, int],
    max_piece_len: int = 4,
    unk_chars: bool = False,
) -> tuple[int, int, tuple[str, ...]]:
    """Best segmentation of ``word`` under integer micro-nat piece costs:
    left-to-right DP minimizing (total cost, piece count, piece tuple) —
    the lexicographic tiebreak makes the segmentation fully deterministic.
    ``unk_chars=True`` (the encode path) lets any single character fall
    back to UNK_COST_MICRO, so unseen words still segment; training runs
    with the closed vocabulary (every char of the training words is a
    seed piece by construction)."""
    n = len(word)
    best: list[tuple[int, int, tuple[str, ...]] | None] = [None] * (n + 1)
    best[0] = (0, 0, ())
    for i in range(1, n + 1):
        cands = []
        for j in range(max(0, i - max_piece_len), i):
            prev = best[j]
            if prev is None:
                continue
            piece = word[j:i]
            c = cost_micro.get(piece)
            if c is None and unk_chars and len(piece) == 1:
                c = UNK_COST_MICRO
            if c is None:
                continue
            cands.append((prev[0] + c, prev[1] + 1, prev[2] + (piece,)))
        if cands:
            best[i] = min(cands)
    if best[n] is None:
        raise ValueError(f"unsegmentable word: {word!r}")
    return best[n]


def _unigram_probs_ppm(
    counts: dict[str, int], pieces: list[str]
) -> dict[str, int]:
    """Piece probabilities in exact ppm (floored, min 1 — every vocab
    piece stays reachable). sum(p_ppm) <= 1e6 + len(pieces)."""
    total = sum(counts.get(p, 0) for p in pieces)
    return {
        p: max(1, (1_000_000 * counts.get(p, 0)) // max(total, 1))
        for p in pieces
    }


def _unigram_costs_micro(p_ppm: dict[str, int]) -> dict[str, int]:
    import math

    return {
        p: int(math.floor(-math.log(v / 1_000_000.0) * 1_000_000 + 0.5))
        for p, v in p_ppm.items()
    }


def unigram_lm_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 96,
    seed_multis: int = 192,
    n_iters: int = 3,
    top_words: int = 300,
    max_piece_len: int = 4,
):
    """SentencePiece-style unigram-LM tokenizer training (Kudo 2018,
    hard-EM/Viterbi variant, all-integer ppm/micro-nat arithmetic):

    1. distributed (the ONLY corpus-sized pass, same as bpe_train): the
       (word, freq) vocabulary — top ``top_words`` by freq, word tiebreak;
    2. seed: every substring of length 1..max_piece_len of the vocab
       words, weighted by word freq — all single chars plus the top
       ``seed_multis`` multi-char pieces (count desc, piece asc);
    3. EM epoch 0 on the seed vocabulary: Viterbi-segment each vocab word
       under costs -ln(p) (p = seed-count ppm), re-estimate counts;
    4. PRUNE to ``vocab_size``: keep all single chars + the top
       (vocab_size - n_chars) multis by EM count (desc, piece asc) — the
       EM-pruning step that distinguishes unigram-LM from BPE's greedy
       merge growth;
    5. remaining epochs re-run Viterbi-EM on the fixed pruned vocabulary.

    Returns (p_ppm dict, pieces list, chars list, seed counts dict,
    per-epoch total corpus Viterbi cost in micro-nats). The driver loop
    is bounded by construction (top_words words x n_iters epochs — the
    bpe_train scale argument: a tokenizer trains on at most ~1M word
    forms regardless of corpus size); the trained table then broadcasts
    into the distributed encode (q_unigram_encode)."""
    from pulsar_lunar_spark.operators.dedup import normalize_text

    vocab_rows = (
        df.select(F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("w"))
        .limit(top_words)
        .collect()
    )
    words = [(r["w"], int(r["freq"])) for r in vocab_rows]
    seed: dict[str, int] = {}
    for w, f in words:
        for i in range(len(w)):
            for ln in range(1, max_piece_len + 1):
                if i + ln <= len(w):
                    p = w[i : i + ln]
                    seed[p] = seed.get(p, 0) + f
    chars = sorted(p for p in seed if len(p) == 1)
    multis = sorted(
        (p for p in seed if len(p) > 1), key=lambda p: (-seed[p], p)
    )[:seed_multis]
    pieces = chars + multis
    p_ppm = _unigram_probs_ppm(seed, pieces)
    epoch_cost: list[int] = []
    for it in range(n_iters):
        cost = _unigram_costs_micro(p_ppm)
        total = 0
        em_counts: dict[str, int] = {}
        for w, f in words:
            c, _np, segs = unigram_viterbi(w, cost, max_piece_len)
            total += f * c
            for p in segs:
                em_counts[p] = em_counts.get(p, 0) + f
        epoch_cost.append(total)
        if it == 0:
            keep = max(vocab_size - len(chars), 0)
            pieces = chars + sorted(
                multis, key=lambda p: (-em_counts.get(p, 0), p)
            )[:keep]
        p_ppm = _unigram_probs_ppm(em_counts, pieces)
    return p_ppm, pieces, chars, seed, epoch_cost
