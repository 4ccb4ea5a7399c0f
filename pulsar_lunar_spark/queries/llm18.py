"""LLM-pipeline batch 18 (round 11): the compositions the r10 verdict
named as the remaining gaps —

- streaming ingest near-dup dedup (``q_stream_ingest_dedup``): the
  "daily crawl lands as a stream" shape — each ingest day drains through
  a REAL availableNow streaming query whose foreachBatch probes a
  PERSISTED MinHash signature/bucket store, emits the verified new
  near-dup pairs, and appends the batch's own signatures to the store.
  Composes the batch-incremental LSH (operators/dedup.py
  minhash_incremental_pairs) with the streaming machinery
  (streaming/ops.py run_available_now) into the continuous-crawl
  pipeline both already implied;
- video near-dup via shot-signature sequences (``q_video_neardup``):
  scene-cut shot segmentation x per-shot perceptual hashing -> per-clip
  signature sequences, LSH-joined by (shot-position, band) postings —
  the standard video-dedup composition of the two media lanes built in
  round 10 (frame deltas / scene cuts + image dHash) — the query itself
  lives in queries/media.py with the other media lanes;
- unigram-LM (SentencePiece-style) tokenizer trainer + encode twin
  (``q_unigram_lm_train`` / ``q_unigram_encode``): EM-pruned unigram
  vocabulary on the bpe_train bounded-vocab driver-loop pattern
  (corpus.unigram_lm_train), exact integer ppm/micro-nat arithmetic;
- the r10 verdict's round-11 curation batch, each composing existing
  lanes: near-dup-aware eval-set construction
  (``q_neardup_safe_split`` — LSH pairs x stratified holdout), a
  per-domain loss-reweighting curriculum (``q_domain_curriculum`` —
  DoReMi weights annealed over epochs with exact-budget
  largest-remainder rounding), and a quality-classifier distillation
  eval (``q_distill_threshold_eval`` — the trained llm17 teacher
  compressed into a word-count-rule student);
- nucleus (top-p) sampling audit (``q_nucleus_sampling_audit``): per-
  context truncation size and covered mass over the spooled KN model —
  the serving-time sampling-parameter measurement;
- streaming MEDIA ingest near-dup dedup (``q_stream_media_ingest``
  for video, ``q_stream_audio_ingest`` for audio): the media twins of
  the text ingest lane — real AVI/WAV bytes through the envelope,
  per-batch decode + shot-signature / window-fingerprint stores — and
  ``q_stream_image_ingest`` for images (dHash store + Hamming verify):
  EVERY batch near-dup modality has its streaming ingest twin.

Determinism discipline: md5-portable hashing end to end, so the DuckDB
oracle replicates the full pipelines value-exactly in SQL; every float
is ROUND(x, 6) of a ratio of exact integers on both sides; iterative
loops with no SQL twin use the flag-style oracle + brute-force pytest
split (the q_bpe_merges precedent).
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators import dedup as D
from pulsar_lunar_spark.queries.llm import (
    _MH_JACCARD,
    _MH_BUCKETS_SQL,
    _MH_P,
    _MH_SHINGLES,
    _MH_SIG_SQL,
)
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import (
    artifact,
    artifact_dir,
    load_table,
    scratch_root,
    versioned_slot,
)
from pulsar_lunar_spark.sources.log import MessageLog
from pulsar_lunar_spark.streaming import run_available_now


# ---------------------------------------------------------------------------
# Streaming ingest near-dup dedup (MinHash-LSH against a persisted store)
# ---------------------------------------------------------------------------

_INGEST_DAYS = 3  # ingest day = doc_id % 3 — the deterministic batch split


def _overlap_store_probe(batch_df, store_dir: str, probe) -> None:
    """Run a batch's store-append and store-probe CONCURRENTLY (r11
    optimization, guide §2.6 — overlap independent jobs so the second
    job's tasks back-fill the first's idle tail).

    The sequential ingest shape was: write batch rows -> re-read the
    store -> probe. But probe(batch x store_new) ==
    probe(batch x (history ∪ batch)), and the history file set is
    already committed on disk BEFORE the append starts — so pin the
    batch's rows in memory (persist), snapshot the history's committed
    part files by explicit path (never a directory listing that could
    observe the concurrent append), and run the two sink jobs in two
    driver threads. Emitted rows are identical; the two per-batch sink
    walls overlap instead of adding. ``probe`` receives
    (batch_frame, full_store).

    Deliberate trade (measured, interleaved in-process A/B on the audio
    lane): the two unsynchronized jobs can RACE the unfilled cache and
    both compute a partition's decode/hash pass (the r1 self-join
    lesson) — an occasional bounded double-compute — but an eager
    count() to pre-fill costs one extra job per batch ALWAYS and
    measured ~0.25 s slower per query (3.12 vs 2.86 s min-of-4); racing
    persist wins. Correctness is unaffected either way (the cache fill
    is idempotent).

    CALLER CONTRACT (ADVICE r11): because the two jobs can race the
    unfilled cache and each compute a partition of ``batch_df``
    independently, every transform upstream of ``batch_df`` MUST be
    deterministic (same rows on recompute). All four ingest lanes
    qualify today — decode/hash stages are pure functions of the
    payload bytes. A lane that ever introduces a non-deterministic
    batch transform (sampling, rand(), wall-clock stamps) must
    eager-fill the cache (count() before submitting) or drop the
    overlap."""
    import glob
    from concurrent.futures import ThreadPoolExecutor

    batch_df = batch_df.persist()
    hist = (
        sorted(glob.glob(os.path.join(store_dir, "*.parquet")))
        if os.path.isdir(store_dir)
        else []
    )
    full = batch_df
    if hist:
        full = batch_df.unionByName(
            batch_df.sparkSession.read.schema(batch_df.schema).parquet(*hist)
        )
    try:
        with ThreadPoolExecutor(2) as ex:
            fa = ex.submit(
                lambda: batch_df.write.mode("append").parquet(store_dir)
            )
            fb = ex.submit(probe, batch_df, full)
            fa.result()
            fb.result()
    finally:
        batch_df.unpersist()


def _docs_topics(spark: SparkSession, sf_dir: str) -> MessageLog:
    """Produce the ``docs`` topic ONCE (an artifact) as THREE
    sequential appends — ingest day k (doc_id % 3 == k) lands as its own
    produce, so the file source's (mtime, path) ordering serves the days
    oldest-first to a single continuous subscription — the crawl-drop
    timeline. Deterministic function of the immutable documents table,
    so every call (and every bench rep) replays the same topic."""

    def produce(root: str) -> None:
        log = MessageLog(spark, root)
        d = load_table(spark, sf_dir, "documents")
        for k in range(_INGEST_DAYS):
            log.produce(
                d.filter(F.col("doc_id") % _INGEST_DAYS == k),
                topic="docs",
                payload_cols=["doc_id", "text"],
                key="doc_id",
                sequence_id="doc_id",
            )

    return MessageLog(spark, artifact_dir(spark, sf_dir, "pl_ingest_topics", produce))


_INGEST_ORACLE = f"""
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
        SELECT DISTINCT a.doc_id AS id_lo, b.doc_id AS id_hi
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT CAST(GREATEST(c.id_lo % {_INGEST_DAYS},
                         c.id_hi % {_INGEST_DAYS}) AS BIGINT) AS day_found,
           c.id_lo, c.id_hi, {_MH_JACCARD} AS jaccard
    FROM cand c JOIN sh x ON x.doc_id = c.id_lo JOIN sh y ON y.doc_id = c.id_hi
    WHERE {_MH_JACCARD} >= 0.3
    ORDER BY id_lo, id_hi
"""


@register(
    "q_stream_ingest_dedup",
    oracle=_INGEST_ORACLE,
    tags=("streaming", "llm", "dedup", "minhash", "ingest"),
)
def q_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest near-dup dedup against a PERSISTED signature
    store — the continuous-crawl composition: ONE continuous availableNow
    subscription drains the docs topic day-batch by day-batch
    (max_files_per_trigger = one produce's file count, so each micro-batch
    is one ingest day's drop), and every foreachBatch

    1. appends the batch's shingle sets to the store (one pass computes
       them; the bucket stage reads them back materialized),
    2. appends the batch's 32-band md5-portable MinHash bucket rows,
    3. probes the store's bucket table with the batch's buckets
       (band+bucket equi-join — shuffle O(batch x bands + store x bands),
       never all-pairs), verifies candidates with exact shingle Jaccard,
       and appends the verified pairs (day_found, id_lo, id_hi, jaccard).

    A pair is discovered exactly once — in the batch where its LATER
    document arrives (the earlier one is already in the store; same-batch
    pairs canonicalize via least/greatest + distinct) — so the drained
    pair set equals the batch LSH pair set, and day_found =
    max(doc_id%3 of either side) is derived FROM THE IDS, which keeps the
    result correct under ANY micro-batch split of the stream (a batch
    boundary that merges or splits days changes only when a pair is
    written, never the pair set or its day stamp) — exactly what the
    oracle replays in SQL.

    Scale shape: the store is an append-only derived dataset (at 100
    TB/day it is bucket-partitioned parquet so each probe prunes to the
    batch's buckets; here it is a flat tmpfs dir), the probe join is the
    asymmetric-LSH join from minhash_incremental_pairs, and the per-batch
    cost is O(batch) hashing + one store probe — the marginal-cost shape
    a daily crawl needs. All batch jobs run on foreachBatch's cloned
    session (8 shuffle partitions for the tiny per-batch aggregates,
    scoped by run_available_now to this query only)."""
    log = _docs_topics(spark, sf_dir)
    run = versioned_slot(scratch_root("pl_ingest_dedup", sf_dir), "run")
    store_sh = os.path.join(run, "store_shingles")
    pairs = os.path.join(run, "pairs")
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    payload = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )

    def ingest(bdf: DataFrame, batch_id: int) -> None:
        docs = bdf.select(
            F.col("payload.doc_id").alias("__id"),
            F.col("payload.text").alias("text"),
        )
        # ONE combined store row per doc: shingle set + the 32 banded
        # bucket ids (vectorized sig UDF over the staged base hashes —
        # the LSH pipeline's fast lane) — one store sink per batch
        # instead of separate shingle/bucket sinks. bid is store
        # bookkeeping only; day attribution on output rows derives
        # from the ids, so ANY batch split stays correct.
        sh = docs.select(
            "__id", D.shingles(F.col("text"), 3).alias("__sh")
        )
        staged = sh.select(
            "__id", "__sh",
            F.transform("__sh", lambda t: D._base_hash(t, "md5")).alias("__base"),
        )
        batch_rows = staged.select(
            "__id", "__sh",
            D._minhash_sig_udf(128, 42, bands=32)("__base").alias("__buckets"),
            F.lit(batch_id).cast("long").alias("bid"),
        )

        # probe the store with this batch's buckets + exact verify: both
        # sides posexplode the stored bucket arrays — no second derived
        # table, no recompute; runs CONCURRENTLY with the store append
        # (_overlap_store_probe — batch rows pinned in memory, history
        # from the committed files).
        #
        # r12 NEGATIVE RESULT (VERDICT r11 item 3): the image-lane
        # inline-verify pattern was ported here and measured a clear
        # REGRESSION — carrying the shingle payload on every one of the
        # 32 band postings (even as 60-bit hash arrays) inflates the
        # Generate/join input far past what the two pair-keyed re-joins
        # cost. Interleaved noop A/B on a static day-3 store at sf0.1:
        # this shape 0.61 s med vs 3.22 s (string arrays carried) vs
        # 1.23 s (hashed arrays carried); whole-lane cross-process A/B
        # med 4.09 vs 4.75 s. The pattern pays only when the carried
        # payload is a few ints (image dHash bands); plan dumps of the
        # rejected form in plans/r12/. The distinct-then-join shape is
        # KEPT deliberately.
        def probe(batch_b: DataFrame, sh_all: DataFrame) -> None:
            def bk_of(df):
                return df.select(
                    "__id",
                    F.posexplode("__buckets").alias("band", "bucket"),
                )
            cand = (
                bk_of(batch_b)
                .alias("n")
                .join(
                    bk_of(sh_all).alias("h"),
                    (F.col("n.band") == F.col("h.band"))
                    & (F.col("n.bucket") == F.col("h.bucket"))
                    & (F.col("n.__id") != F.col("h.__id")),
                )
                .select(
                    F.least("n.__id", "h.__id").alias("id_lo"),
                    F.greatest("n.__id", "h.__id").alias("id_hi"),
                )
                .distinct()
            )
            a = sh_all.select(F.col("__id").alias("id_lo"), F.col("__sh").alias("sh_a"))
            b = sh_all.select(F.col("__id").alias("id_hi"), F.col("__sh").alias("sh_b"))
            inter = F.size(F.array_intersect("sh_a", "sh_b"))
            union = F.size(F.array_union("sh_a", "sh_b"))
            (
                cand.join(a, "id_lo")
                .join(b, "id_hi")
                .select(
                    F.greatest(
                        F.col("id_lo") % _INGEST_DAYS,
                        F.col("id_hi") % _INGEST_DAYS,
                    ).cast("long").alias("day_found"),
                    "id_lo",
                    "id_hi",
                    F.round(inter / union, 6).alias("jaccard"),
                )
                .filter(F.col("jaccard") >= 0.3)
                .write.mode("append")
                .parquet(pairs)
            )

        _overlap_store_probe(batch_rows, store_sh, probe)

    # one produce writes <= DEFAULT_NUM_PARTITIONS files; capping the
    # trigger at that count makes each micro-batch one day's drop under
    # the file source's (mtime, path) order (sequential produces have
    # strictly increasing mtimes). Correctness does NOT depend on the
    # alignment — only the marginal-cost story does.
    stream = log.subscribe(
        "docs", payload_schema=payload, max_files_per_trigger=8
    )
    run_available_now(
        stream.writeStream.foreachBatch(ingest).outputMode("append"),
        os.path.join(run, "ck"),
        state_partitions=8,
        no_data_batches=False,  # stateless foreachBatch pipeline
    )
    # A corpus with NO near-dup pairs writes no parquet parts at all
    # (an empty-frame append emits only _SUCCESS) — return the typed
    # empty result instead of letting schema inference fail.
    if not os.path.isdir(pairs) or not any(
        f.endswith(".parquet") for f in os.listdir(pairs)
    ):
        return spark.createDataFrame(
            [], "day_found long, id_lo long, id_hi long, jaccard double"
        )
    return spark.read.parquet(pairs).orderBy("id_lo", "id_hi")


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer: train + encode twin
# ---------------------------------------------------------------------------

_UNI_VOCAB = 96
_UNI_SEED_MULTIS = 192
_UNI_ITERS = 3
_UNI_MAXLEN = 4
_UNI_TOPWORDS = 300
# EM-monotonicity slack in micro-nats: integer cost rounding (<= 0.5
# micro per piece) breaks EXACT hard-EM monotonicity by at most
# ~n_pieces-per-word micro units summed over the bounded vocab.
_UNI_EM_SLACK = 1_000


def _unigram_model(spark: SparkSession, sf_dir: str, *, rebuild: bool = False):
    """The trained unigram model, an artifact: q_unigram_lm_train (the
    training operator) passes ``rebuild`` and trains on every call;
    q_unigram_encode reuses the model as a consumer."""
    from pulsar_lunar_spark.operators import corpus as C

    return artifact(
        spark,
        sf_dir,
        "unigram_model",
        lambda: C.unigram_lm_train(
            load_table(spark, sf_dir, "documents"), "text",
            vocab_size=_UNI_VOCAB, seed_multis=_UNI_SEED_MULTIS,
            n_iters=_UNI_ITERS, top_words=_UNI_TOPWORDS,
            max_piece_len=_UNI_MAXLEN,
        ),
        rebuild=rebuild,
    )


_UNI_WORDS = r"""
        SELECT UNNEST(LIST_FILTER(
                   STRING_SPLIT(REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g'),
                                ' '), x -> LEN(x) > 0)) AS w
        FROM documents
"""

_UNI_TRAIN_ORACLE = f"""
    WITH words AS ({_UNI_WORDS}
    ), vocab AS (
        SELECT w, COUNT(*) AS freq
        FROM words GROUP BY w ORDER BY freq DESC, w LIMIT {_UNI_TOPWORDS}
    ), subs AS MATERIALIZED (
        SELECT SUBSTR(w, i, l) AS piece, l AS pl,
               CAST(SUM(freq) AS BIGINT) AS n
        FROM vocab,
             LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(w))) AS i) ti,
             LATERAL (SELECT UNNEST(GENERATE_SERIES(1, {_UNI_MAXLEN})) AS l) tl
        WHERE i + l - 1 <= LEN(w)
        GROUP BY 1, 2
    ), agg AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN pl = 1 THEN piece END) AS BIGINT)
                   AS nc,
               CAST(COUNT(DISTINCT CASE WHEN pl > 1 THEN piece END) AS BIGINT)
                   AS nm
        FROM subs
    ), top AS (
        SELECT piece, n FROM subs WHERE pl > 1 ORDER BY n DESC, piece LIMIT 1
    )
    SELECT top.piece AS seed_top_piece, top.n AS seed_top_count,
           agg.nc AS n_chars,
           CAST(CASE WHEN agg.nc >= {_UNI_VOCAB} THEN agg.nc
                     ELSE agg.nc + LEAST({_UNI_VOCAB} - agg.nc, agg.nm)
                END AS BIGINT) AS n_pieces,
           TRUE AS chars_covered_ok, TRUE AS prob_mass_ok,
           TRUE AS em_improved_ok
    FROM top, agg
"""


@register(
    "q_unigram_lm_train",
    oracle=_UNI_TRAIN_ORACLE,
    tags=("llm", "tokenizer", "unigram"),
)
def q_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training summary
    (corpus.unigram_lm_train): seed every 1-4-char substring of the
    top-300 word vocabulary, Viterbi-EM one epoch over the seed, EM-PRUNE
    to 96 pieces (all single chars always kept), then two more hard-EM
    epochs in exact integer micro-nat costs — the tokenizer-family
    completion next to BPE's greedy merge growth (q_bpe_merges).

    The EM loop has no tractable SQL twin (the q_bpe_merges precedent),
    so the oracle value-checks what IS closed-form — the seed-candidate
    argmax (top multi-char substring by freq-weighted count, exact in
    DuckDB), the distinct char/multi candidate counts, and the exact
    pruned vocabulary SIZE formula — plus invariant flags the trained
    model must satisfy: every character is a piece, probability mass
    sums to <= 1e6 + n_pieces ppm (floored exact shares), and the final
    EM epoch's total corpus cost does not exceed the first post-prune
    epoch's beyond integer-rounding slack. The exact per-epoch costs and
    segmentations are pinned by the brute-force replication test in
    tests/test_llm18.py."""
    p_ppm, pieces, chars, seed, epoch_cost = _unigram_model(spark, sf_dir, rebuild=True)
    multis = sorted((p for p in seed if len(p) > 1), key=lambda p: (-seed[p], p))
    seed_top = multis[0]
    vocab_chars = set(chars)
    covered = all(
        c in vocab_chars for p in seed for c in (p if len(p) == 1 else "")
    )
    return spark.createDataFrame(
        [(
            seed_top,
            int(seed[seed_top]),
            len(chars),
            len(pieces),
            bool(covered),
            bool(sum(p_ppm.values()) <= 1_000_000 + len(pieces)),
            bool(epoch_cost[-1] <= epoch_cost[1] + _UNI_EM_SLACK),
        )],
        "seed_top_piece string, seed_top_count long, n_chars long, "
        "n_pieces long, chars_covered_ok boolean, prob_mass_ok boolean, "
        "em_improved_ok boolean",
    )


@register(
    "q_unigram_encode",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               UNNEST(LIST_FILTER(
                   STRING_SPLIT(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g'),
                                ' '), x -> LEN(x) > 0)) AS word
        FROM documents WHERE doc_id % 19 = 0
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           TRUE AS tokens_ok
    FROM w GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "tokenizer", "unigram"),
)
def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer APPLICATION: Viterbi-segment every word of
    the doc_id % 19 slice under the trained 96-piece model
    (q_unigram_lm_train's model artifact — trained by the training query
    or on first use, applied corpus-wide), out-of-vocabulary characters
    falling back to the UNK
    cost. The segmentation DP is inherently per-word sequential, so it
    runs as an Arrow-batched pandas UDF over the exploded word column
    (the declared Python lane; the piece-cost dict is a bounded 96-entry
    broadcast in the UDF closure).

    The oracle checks the exact per-doc word counts plus the provable
    token envelope (n_words <= n_tokens <= total characters: every piece
    is >= 1 char and every word segments to >= 1 piece); exact Viterbi
    semantics are pinned by the brute-force test in tests/test_llm18.py."""
    from pulsar_lunar_spark.operators import corpus as C
    from pulsar_lunar_spark.operators.dedup import normalize_text

    p_ppm, _pieces, _chars, _seed, _costs = _unigram_model(spark, sf_dir)
    cost = C._unigram_costs_micro(p_ppm)
    maxlen = _UNI_MAXLEN

    @F.pandas_udf("long")
    def n_tokens(words: pd.Series) -> pd.Series:
        return words.map(
            lambda w: C.unigram_viterbi(w, cost, maxlen, unk_chars=True)[1]
        )

    d = load_table(spark, sf_dir, "documents")
    words = d.filter(F.col("doc_id") % 19 == 0).select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda w: F.length(w) > 0,
            )
        ).alias("w"),
    )
    toks = words.select(
        "doc_id", F.length("w").alias("n_chars"), n_tokens("w").alias("n_toks")
    )
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            (
                (F.sum("n_toks") >= F.count(F.lit(1)))
                & (F.sum("n_toks") <= F.sum("n_chars"))
            ).alias("tokens_ok"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Near-dup-aware eval-set construction (LSH-safe stratified holdout)
# ---------------------------------------------------------------------------

_SPLIT_EVAL_MOD = 10  # eval candidates: doc_id % 10 == 7 (stratified-by-id)
_SPLIT_EVAL_RES = 7


_NEARDUP_SPLIT_ORACLE = f"""
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
    ), pairs AS MATERIALIZED (
        SELECT c.id_a, c.id_b
        FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b
        WHERE {_MH_JACCARD} >= 0.3
    ), leaky AS (
        SELECT DISTINCT e FROM (
            SELECT id_a AS e FROM pairs
            WHERE id_a % {_SPLIT_EVAL_MOD} = {_SPLIT_EVAL_RES}
              AND id_b % {_SPLIT_EVAL_MOD} != {_SPLIT_EVAL_RES}
            UNION ALL
            SELECT id_b AS e FROM pairs
            WHERE id_b % {_SPLIT_EVAL_MOD} = {_SPLIT_EVAL_RES}
              AND id_a % {_SPLIT_EVAL_MOD} != {_SPLIT_EVAL_RES}
        )
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.doc_id % {_SPLIT_EVAL_MOD} = {_SPLIT_EVAL_RES}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_cand,
           CAST(SUM(CASE WHEN l.e IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_excluded,
           CAST(SUM(CASE WHEN d.doc_id % {_SPLIT_EVAL_MOD} = {_SPLIT_EVAL_RES}
                          AND l.e IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_eval
    FROM documents d LEFT JOIN leaky l ON l.e = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
"""


@register(
    "q_neardup_safe_split",
    oracle=_NEARDUP_SPLIT_ORACLE,
    tags=("llm", "dedup", "split", "leakage", "minhash"),
)
def q_neardup_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware eval-set construction — the decontaminated-holdout
    upgrade of q_leakage_safe_split: the stratified eval candidate slice
    (doc_id % 10 == 7) is filtered to EXCLUDE every document that
    MinHash-LSH near-duplicates (verified Jaccard >= 0.3, the
    q_dedup_minhash pipeline) any TRAINING document — an eval doc whose
    near-twin sits in train measures memorization, not generalization
    (the Lee et al. dedup-eval hazard). Emits the per-source holdout
    accounting: candidates, excluded-as-leaky, final eval count.

    Plan: the pair table is the banded-LSH + exact-verify pipeline
    (shuffle O(docs x bands), never all-pairs); the exclusion is one
    projection of the (small) pair table semi-joined back to documents —
    at 100 TB the pair table is the already-persisted dedup artifact and
    this query is a single pass over it plus one corpus aggregate."""
    from pulsar_lunar_spark.queries.llm import minhash_pairs_spool

    d = load_table(spark, sf_dir, "documents")
    # r11: the pair table is the process-shared dedup artifact (one LSH
    # pipeline build per (session, dataset), not one per call) — this
    # query is now the single pass over it + one corpus aggregate its
    # docstring describes. 17 -> 3 shuffle exchanges in the plan.
    pairs = minhash_pairs_spool(spark, sf_dir)
    is_eval_a = F.col("id_a") % _SPLIT_EVAL_MOD == _SPLIT_EVAL_RES
    is_eval_b = F.col("id_b") % _SPLIT_EVAL_MOD == _SPLIT_EVAL_RES
    leaky = (
        pairs.select(F.when(is_eval_a & ~is_eval_b, F.col("id_a"))
                     .when(is_eval_b & ~is_eval_a, F.col("id_b"))
                     .alias("e"))
        .filter(F.col("e").isNotNull())
        .distinct()
    )
    is_eval_d = F.col("doc_id") % _SPLIT_EVAL_MOD == _SPLIT_EVAL_RES
    return (
        d.join(leaky, d.doc_id == leaky.e, "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(is_eval_d, 1).otherwise(0))
            .cast("long")
            .alias("n_eval_cand"),
            F.sum(F.when(F.col("e").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_excluded"),
            F.sum(F.when(is_eval_d & F.col("e").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_eval"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Per-domain curriculum: DoReMi weights annealed over epochs, exact budget
# ---------------------------------------------------------------------------

_CURR_EPOCHS = 4
_CURR_BUDGET = 1_000_000  # tokens allocated per epoch


def _domain_curriculum_oracle() -> str:
    from pulsar_lunar_spark.queries.llm11 import _DOREMI_ITERATIONS, _doremi_cte

    e_max = _CURR_EPOCHS - 1
    return f"""{_doremi_cte()}, sched AS (
        SELECT source, ee.e AS epoch,
               CAST((({e_max} - ee.e) * u_ppm + ee.e * w_ppm) // {e_max}
                    AS BIGINT) AS alloc_ppm
        FROM s{_DOREMI_ITERATIONS},
             UNNEST(RANGE(0, {_CURR_EPOCHS})) ee(e)
    ), quota AS (
        SELECT source, epoch, alloc_ppm,
               CAST(({_CURR_BUDGET} * alloc_ppm)
                    // CAST(SUM(alloc_ppm) OVER w AS BIGINT) AS BIGINT)
                   AS base_tokens,
               CAST(({_CURR_BUDGET} * alloc_ppm)
                    % CAST(SUM(alloc_ppm) OVER w AS BIGINT) AS BIGINT) AS rem
        FROM sched
        WINDOW w AS (PARTITION BY epoch)
    ), ranked AS (
        SELECT source, epoch, alloc_ppm, base_tokens,
               ROW_NUMBER() OVER (PARTITION BY epoch
                                  ORDER BY rem DESC, source ASC) AS rk,
               CAST({_CURR_BUDGET}
                    - SUM(base_tokens) OVER (PARTITION BY epoch) AS BIGINT)
                   AS deficit
        FROM quota
    )
    SELECT CAST(epoch AS BIGINT) AS epoch, source, alloc_ppm,
           CAST(base_tokens + CASE WHEN rk <= deficit THEN 1 ELSE 0 END
                AS BIGINT) AS tokens
    FROM ranked
    ORDER BY epoch, source
    """


@register(
    "q_domain_curriculum",
    oracle=_domain_curriculum_oracle(),
    tags=("llm", "mixture", "curriculum", "doremi", "training-prep"),
)
def q_domain_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain loss-reweighting curriculum — the DoReMi x epoch
    schedule composition the r10 verdict named: epoch 0 samples domains
    uniformly and the mixture anneals LINEARLY to the DoReMi weights by
    the final epoch (alloc_e = ((E-1-e)*uniform + e*doremi) div (E-1),
    exact ppm integers — the standard warmup-to-target curriculum), then
    each epoch's fixed token budget is apportioned by largest-remainder
    rounding (rank remainders desc, source asc) so per-epoch totals hit
    the budget EXACTLY — fractional-quota drift across thousands of
    shards is a real training-data bug class.

    Plan: the DoReMi weight pipeline is the shared llm11 frame (one
    corpus scan into a |sources|-row aggregate + 4 window updates on 20
    rows); the schedule explodes 4 epoch literals on that bounded frame
    and every window partitions by epoch — bytes, not data. At 100 TB
    nothing here grows with the corpus except the one weight-fitting
    scan."""
    from pulsar_lunar_spark.queries.llm11 import doremi_frame

    cur = doremi_frame(spark, sf_dir)
    e_max = _CURR_EPOCHS - 1
    sched = cur.select(
        "source", "u_ppm", "w_ppm",
        F.explode(F.sequence(F.lit(0), F.lit(e_max))).alias("epoch"),
    ).select(
        "source",
        F.col("epoch").cast("long").alias("epoch"),
        F.expr(f"(({e_max} - epoch) * u_ppm + epoch * w_ppm) div {e_max}")
        .cast("long")
        .alias("alloc_ppm"),
    )
    quota = sched.select(
        "source", "epoch", "alloc_ppm",
        F.expr(
            f"({_CURR_BUDGET} * alloc_ppm)"
            " div SUM(alloc_ppm) OVER (PARTITION BY epoch)"
        )
        .cast("long")
        .alias("base_tokens"),
        F.expr(
            f"({_CURR_BUDGET} * alloc_ppm)"
            " % SUM(alloc_ppm) OVER (PARTITION BY epoch)"
        )
        .cast("long")
        .alias("rem"),
    )
    from pyspark.sql.window import Window

    w_rank = Window.partitionBy("epoch").orderBy(
        F.desc("rem"), F.asc("source")
    )
    ranked = quota.select(
        "source", "epoch", "alloc_ppm", "base_tokens",
        F.row_number().over(w_rank).alias("rk"),
        (
            F.lit(_CURR_BUDGET)
            - F.expr("SUM(base_tokens) OVER (PARTITION BY epoch)")
        )
        .cast("long")
        .alias("deficit"),
    )
    return ranked.select(
        "epoch", "source", "alloc_ppm",
        (
            F.col("base_tokens")
            + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("long")
        .alias("tokens"),
    ).orderBy("epoch", "source")


# ---------------------------------------------------------------------------
# Quality-classifier distillation eval (teacher LR -> student threshold)
# ---------------------------------------------------------------------------

_DISTILL_THRESHOLDS = (48, 52, 56, 60, 64)


def _distill_oracle() -> str:
    from pulsar_lunar_spark.queries.llm17 import (
        _LR_BIAS_CNT,
        _LR_EPOCHS,
        _lr_w_chain_sql,
    )

    thr_list = ", ".join(str(t) for t in _DISTILL_THRESHOLDS)
    match = (
        "(CASE WHEN n_words >= tt.thr THEN 1 ELSE 0 END)"
        " = (CASE WHEN lg >= 0 THEN 1 ELSE 0 END)"
    )
    return f"""{_lr_w_chain_sql()}, pd AS MATERIALIZED (
        SELECT f.doc_id, CAST(SUM(w.wv * f.cnt) AS BIGINT) AS lg,
               CAST(SUM(f.cnt) - {_LR_BIAS_CNT} AS BIGINT) AS n_words
        FROM f JOIN w{_LR_EPOCHS} w USING (b)
        GROUP BY f.doc_id
    ), sweep AS (
        SELECT CAST(tt.thr AS BIGINT) AS thr,
               CAST((1000000 * SUM(CASE WHEN doc_id % 2 = 0 AND {match}
                                        THEN 1 ELSE 0 END))
                    // SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS train_agree_ppm,
               CAST((1000000 * SUM(CASE WHEN doc_id % 2 = 1 AND {match}
                                        THEN 1 ELSE 0 END))
                    // SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS eval_agree_ppm
        FROM pd CROSS JOIN UNNEST([{thr_list}]) AS tt(thr)
        GROUP BY tt.thr
    )
    SELECT thr, train_agree_ppm, eval_agree_ppm,
           ROW_NUMBER() OVER (ORDER BY train_agree_ppm DESC, thr ASC) = 1
               AS is_best
    FROM sweep
    ORDER BY thr
    """


@register(
    "q_distill_threshold_eval",
    oracle=_distill_oracle(),
    tags=("llm", "classifier", "distillation", "training-prep"),
)
def q_distill_threshold_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier DISTILLATION eval — teacher-to-rule compression:
    the trained LR's hard labels (sign of the epoch-4 logit,
    llm17.lr_model — the shared pipeline; this query CONSUMES the
    trained-model artifact, training only when it is absent)
    are distilled into the cheapest possible student, a single
    word-count threshold, by sweeping candidate thresholds and scoring
    teacher-student agreement on the train split (best = agreement desc,
    threshold asc) with held-out agreement reported alongside — the
    standard check that an expensive learned gate can be replaced by a
    rule at the pipeline's scoring tier. The teacher's training gate IS
    a 56-word rule, so the sweep recovering 56 or an adjacent candidate
    as best (four crude GD epochs land the boundary NEAR the gate;
    measured best = 60/52/56 at sf0.001/0.01/0.1, all >= 0.9 train
    agreement) is the end-to-end fidelity check of training + scoring.

    Plan: ONE pass over the spooled feature table yields per-doc teacher
    logit AND word count (sum(cnt) minus the scaled bias — the hashed
    counts already sum to the word count); the 5-threshold sweep
    explodes literals on that bounded per-doc frame (the r9 sweep rule:
    never re-join a scored stream against itself). All-integer ppm."""
    from pulsar_lunar_spark.queries.llm17 import _LR_BIAS_CNT, lr_model

    feats, _n_train, epoch_weights, logit_agg = lr_model(spark, sf_dir)
    per_doc = feats.groupBy("doc_id").agg(
        logit_agg(epoch_weights[-1], "lg"),
        (F.sum("cnt") - _LR_BIAS_CNT).cast("long").alias("n_words"),
    )
    thr = F.explode(
        F.array(*[F.lit(t) for t in _DISTILL_THRESHOLDS])
    ).alias("thr")
    sweep = (
        per_doc.select("doc_id", "lg", "n_words", thr)
        .groupBy(F.col("thr").cast("long").alias("thr"))
        .agg(
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN doc_id % 2 = 0 AND "
                "(CASE WHEN n_words >= thr THEN 1 ELSE 0 END) = "
                "(CASE WHEN lg >= 0 THEN 1 ELSE 0 END) THEN 1 ELSE 0 END))"
                " div SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("train_agree_ppm"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN doc_id % 2 = 1 AND "
                "(CASE WHEN n_words >= thr THEN 1 ELSE 0 END) = "
                "(CASE WHEN lg >= 0 THEN 1 ELSE 0 END) THEN 1 ELSE 0 END))"
                " div SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("eval_agree_ppm"),
        )
    )
    from pyspark.sql.window import Window

    w_best = Window.orderBy(F.desc("train_agree_ppm"), F.asc("thr"))
    return (
        sweep.select(
            "thr", "train_agree_ppm", "eval_agree_ppm",
            (F.row_number().over(w_best) == 1).alias("is_best"),
        )
        .orderBy("thr")
    )


# ---------------------------------------------------------------------------
# Nucleus (top-p) sampling audit over the KN model
# ---------------------------------------------------------------------------

_NUC_CONTEXTS = 8  # audit the top-8 contexts by continuation mass
_NUC_P_NUM, _NUC_P_DEN = 9, 10  # nucleus threshold p = 0.9, exact rational


def _nucleus_oracle() -> str:
    from pulsar_lunar_spark.queries.llm13 import _kn_cte

    return f"""{_kn_cte()}, ctx AS (
        SELECT w1, c1 FROM (
            SELECT w1, c1,
                   ROW_NUMBER() OVER (ORDER BY c1 DESC, w1) AS crn
            FROM (SELECT DISTINCT w1, c1 FROM k)
        ) WHERE crn <= {_NUC_CONTEXTS}
    ), ranked AS (
        SELECT k.w1, ctx.c1, k.w2, k.p_kn_ppm,
               ROW_NUMBER() OVER win AS rn,
               CAST(SUM(k.p_kn_ppm) OVER (PARTITION BY k.w1 ORDER BY
                    k.p_kn_ppm DESC, k.w2
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(k.p_kn_ppm) OVER (PARTITION BY k.w1) AS BIGINT)
                   AS tot,
               CAST(COUNT(*) OVER (PARTITION BY k.w1) AS BIGINT) AS ncand
        FROM k JOIN ctx USING (w1)
        WINDOW win AS (PARTITION BY k.w1 ORDER BY k.p_kn_ppm DESC, k.w2)
    )
    SELECT w1, c1,
           MAX(ncand) AS n_candidates,
           CAST(MIN(CASE WHEN {_NUC_P_DEN} * cum >= {_NUC_P_NUM} * tot
                         THEN rn END) AS BIGINT) AS nucleus_size,
           CAST(MAX(CASE WHEN rn = 1 THEN p_kn_ppm END) AS BIGINT)
               AS top1_ppm,
           CAST((1000000 * MIN(CASE WHEN {_NUC_P_DEN} * cum
                                         >= {_NUC_P_NUM} * tot
                                    THEN cum END))
                // MAX(tot) AS BIGINT) AS nucleus_mass_ppm
    FROM ranked
    GROUP BY w1, c1
    ORDER BY c1 DESC, w1
    """


@register(
    "q_nucleus_sampling_audit",
    oracle=_nucleus_oracle(),
    tags=("llm", "lm", "sampling", "nucleus"),
)
def q_nucleus_sampling_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) truncation audit over the trained Kneser-Ney
    bigram model: for the top-8 contexts by continuation mass, how many
    highest-probability continuations does a p=0.9 nucleus keep, and how
    much mass does it actually cover — the measurement that picks
    serving-time sampling parameters (a context whose nucleus is 2
    tokens degenerates to greedy; one whose nucleus is the whole
    observed vocabulary means the truncation does nothing). Nucleus
    size = the first rank whose cumulative model probability reaches
    9/10 of the context's observed mass — exact integers end to end
    (the 0.9 threshold is the rational 10*cum >= 9*tot, never a float).

    Plan: reads the process-shared KN model spool (train once, the
    llm13 family lane); contexts come from one TakeOrdered head; the
    per-context rank/cumulative windows partition by w1 (distributed,
    never a global sort); one 8-row aggregate ends it."""
    from pulsar_lunar_spark.operators.corpus import kn_bigram_model
    from pyspark.sql.window import Window

    k = kn_bigram_model(spark, sf_dir).select("w1", "w2", "c1", "p_kn_ppm")
    ctx = (
        k.select("w1", "c1")
        .distinct()
        .orderBy(F.desc("c1"), F.asc("w1"))
        .limit(_NUC_CONTEXTS)
        .select("w1")
    )
    win = Window.partitionBy("w1").orderBy(F.desc("p_kn_ppm"), F.asc("w2"))
    cum_w = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    part = Window.partitionBy("w1")
    ranked = (
        k.join(F.broadcast(ctx), "w1")
        .select(
            "w1", "c1", "w2", "p_kn_ppm",
            F.row_number().over(win).alias("rn"),
            F.sum("p_kn_ppm").over(cum_w).cast("long").alias("cum"),
            F.sum("p_kn_ppm").over(part).cast("long").alias("tot"),
            F.count(F.lit(1)).over(part).cast("long").alias("ncand"),
        )
    )
    in_nucleus = _NUC_P_DEN * F.col("cum") >= _NUC_P_NUM * F.col("tot")
    return (
        ranked.groupBy("w1", "c1")
        .agg(
            F.max("ncand").cast("long").alias("n_candidates"),
            F.min(F.when(in_nucleus, F.col("rn")))
            .cast("long")
            .alias("nucleus_size"),
            F.max(F.when(F.col("rn") == 1, F.col("p_kn_ppm")))
            .cast("long")
            .alias("top1_ppm"),
            F.expr(
                f"CAST((1000000 * MIN(CASE WHEN {_NUC_P_DEN} * cum"
                f" >= {_NUC_P_NUM} * tot THEN cum END))"
                " div MAX(tot) AS BIGINT)"
            ).alias("nucleus_mass_ppm"),
        )
        .orderBy(F.desc("c1"), F.asc("w1"))
    )


# ---------------------------------------------------------------------------
# Speculative-decoding acceptance audit (draft/target distribution overlap)
# ---------------------------------------------------------------------------


def _spec_decode_oracle() -> str:
    from pulsar_lunar_spark.queries.llm13 import _kn_cte

    return f"""{_kn_cte()}, du AS MATERIALIZED (
        SELECT w2, CAST(SUM(c12) AS BIGINT) AS cw2 FROM k GROUP BY w2
    ), tot AS (
        SELECT CAST(SUM(c12) AS BIGINT) AS nbi FROM k
    ), ctx AS (
        SELECT w1, c1 FROM (
            SELECT w1, c1,
                   ROW_NUMBER() OVER (ORDER BY c1 DESC, w1) AS crn
            FROM (SELECT DISTINCT w1, c1 FROM k)
        ) WHERE crn <= {_NUC_CONTEXTS}
    )
    SELECT k.w1, ctx.c1,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(LEAST(k.p_kn_ppm,
                          GREATEST((1000000 * du.cw2) // tot.nbi, 1)))
                AS BIGINT) AS overlap_ppm
    FROM k JOIN ctx USING (w1) JOIN du USING (w2) CROSS JOIN tot
    GROUP BY k.w1, ctx.c1
    ORDER BY ctx.c1 DESC, k.w1
    """


@register(
    "q_spec_decode_overlap",
    oracle=_spec_decode_oracle(),
    tags=("llm", "lm", "speculative-decoding", "sampling"),
)
def q_spec_decode_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speculative-decoding acceptance audit: the expected acceptance
    rate of a draft model against a target model is the distribution
    OVERLAP sum_w min(p_draft(w), p_target(w|ctx)) — 1 minus their total
    variation distance — so measuring it per context predicts the
    speedup before wiring the sampler. Target = the trained Kneser-Ney
    bigram (the process-shared model spool); draft = the context-free
    continuation-unigram distribution derivable from the SAME model
    table (the cheapest possible draft), evaluated over each context's
    observed continuation set for the top-8 contexts by mass. All exact
    ppm integers: min/sum of two floored ppm shares.

    Plan: both distributions come from ONE spool read — the draft is a
    w2-grouped aggregate of the model, the scalar bigram total rides a
    broadcast 1-row cross join (the scalar-total pattern), contexts are
    a TakeOrdered head — then one 8-context aggregate. Nothing rescans
    the corpus."""
    from pulsar_lunar_spark.operators.corpus import kn_bigram_model

    k = kn_bigram_model(spark, sf_dir).select("w1", "w2", "c12", "c1", "p_kn_ppm")
    du = k.groupBy("w2").agg(F.sum("c12").cast("long").alias("cw2"))
    tot = k.agg(F.sum("c12").cast("long").alias("nbi"))
    ctx = (
        k.select("w1", "c1")
        .distinct()
        .orderBy(F.desc("c1"), F.asc("w1"))
        .limit(_NUC_CONTEXTS)
    )
    return (
        k.join(F.broadcast(ctx.select("w1")), "w1")
        .join(du, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "c1", "p_kn_ppm",
            F.expr("GREATEST((1000000 * cw2) div nbi, 1L)").alias("p_d_ppm"),
        )
        .groupBy("w1", "c1")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.least("p_kn_ppm", "p_d_ppm"))
            .cast("long")
            .alias("overlap_ppm"),
        )
        .orderBy(F.desc("c1"), F.asc("w1"))
    )


# ---------------------------------------------------------------------------
# Streaming MEDIA ingest near-dup dedup (video twin of the text lane)
# ---------------------------------------------------------------------------


def _clips_topic(spark: SparkSession, sf_dir: str):
    """Produce the ``clips`` topic ONCE (an artifact) as three
    sequential day appends (day = base doc_id % 3; a clip's planted
    variants land the same day) from the SAME materialized vdup fixture
    q_video_neardup decodes — real AVI bytes ride the envelope payload
    (base64 through the JSON serde, lossless).

    INVARIANT (ADVICE r11): each clip is exactly ONE topic row — its
    whole AVI (and therefore its whole shot-signature set) arrives in a
    single envelope in a single day-batch. q_stream_media_ingest's
    store rows stamp ``n_sigs`` from the batch-local window, which
    equals the global per-clip aggregate ONLY under this one-row-per-
    clip producer invariant; a producer that ever split a clip across
    envelope rows would make stored n_sigs values disagree between
    batches and split the (id_a, id_b, n_sigs_a, n_sigs_b) pair
    groups."""
    from pulsar_lunar_spark.queries.media import _vdup_fixture

    def produce(root: str) -> None:
        log = MessageLog(spark, root)
        vids = _vdup_fixture(spark, sf_dir).withColumn(
            "did", F.regexp_extract("media_id", "^m([0-9]+)", 1).cast("long")
        )
        for k in range(_INGEST_DAYS):
            log.produce(
                vids.filter(F.col("did") % _INGEST_DAYS == k),
                topic="clips",
                payload_cols=["media_id", "content"],
                key="media_id",
                sequence_id="did",
            )

    return MessageLog(spark, artifact_dir(spark, sf_dir, "pl_clips_topic", produce))


def _stream_media_oracle() -> str:
    from pulsar_lunar_spark.queries.media import _VDUP_MATCH_PPM, _vdup_cte

    return f"""{_vdup_cte()}, dm AS (
        SELECT media_id, doc_id FROM clips
    )
    SELECT CAST(GREATEST(da.doc_id % {_INGEST_DAYS},
                         db.doc_id % {_INGEST_DAYS}) AS BIGINT) AS day_found,
           s.id_a, s.id_b, s.shared_sigs,
           na.n_sigs AS n_sigs_a, nb.n_sigs AS n_sigs_b,
           CAST((1000000 * s.shared_sigs)
                // LEAST(na.n_sigs, nb.n_sigs) AS BIGINT) AS match_ppm
    FROM shared s
    JOIN nsig na ON na.media_id = s.id_a
    JOIN nsig nb ON nb.media_id = s.id_b
    JOIN dm da ON da.media_id = s.id_a
    JOIN dm db ON db.media_id = s.id_b
    WHERE (1000000 * s.shared_sigs) // LEAST(na.n_sigs, nb.n_sigs)
          >= {_VDUP_MATCH_PPM}
    ORDER BY id_a, id_b
    """


@register(
    "q_stream_media_ingest",
    oracle=_stream_media_oracle(),
    tags=("streaming", "multimodal", "video", "dedup", "ingest"),
)
def q_stream_media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING video ingest near-dup dedup — the MEDIA twin of
    q_stream_ingest_dedup, closing the tri-modal streaming story: real
    AVI bytes arrive day-batch by day-batch through one continuous
    availableNow subscription; every foreachBatch decodes its clips ONCE
    (multimodal.video_frame_features — frame deltas + per-frame dHash in
    one Arrow pass), cuts shots, appends the batch's DISTINCT shot
    signatures to a persisted signature store, then probes the store on
    full 64-bit signature equality and emits clip pairs whose shared
    signature count reaches 60% of the smaller side's set — the
    q_video_neardup matching rule, discovered incrementally as clips
    land. A pair appears exactly once (found in the later clip's batch;
    same-batch matches canonicalize + distinct at the (pair, signature)
    level), and day attribution derives from the clip ids, so ANY
    micro-batch split yields the identical result.

    Scale shape: decode is map-only Arrow per batch; the store is
    append-only (media_id, b0..b3) rows — O(shots) per clip; the probe
    is the signature-bucket equi-join (pair mass bounded by agreement,
    the band_postings stress-probe shape); per-clip signature-set sizes
    come from one store aggregate, never a re-decode."""
    log = _clips_topic(spark, sf_dir)
    run = versioned_slot(scratch_root("pl_media_ingest", sf_dir), "run")
    store_sigs = os.path.join(run, "store_sigs")
    pairs = os.path.join(run, "pairs")
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    from pulsar_lunar_spark.operators import multimodal as M
    from pulsar_lunar_spark.queries.media import _CUT_PER_PIXEL, _VDUP_MATCH_PPM

    payload = StructType(
        [
            StructField("media_id", StringType()),
            StructField("content", BinaryType()),
        ]
    )
    def ingest(bdf: DataFrame, batch_id: int) -> None:
        clips = bdf.select(
            F.col("payload.media_id").alias("media_id"),
            F.col("payload.content").alias("content"),
            F.lit("video").alias("media_type"),
        )
        ff = M.video_frame_features(clips).filter(F.col("decode_ok"))
        starts = ff.filter(F.col("frame_index") == 0).unionByName(
            ff.filter(
                (F.col("frame_index") >= 1)
                & (
                    F.col("delta_sum")
                    > _CUT_PER_PIXEL
                    * F.col("width").cast("long")
                    * F.col("height")
                )
            )
        )
        # Batch shot-signature sets -> store (the one decode pass).
        # r11 optimization (guide §2.4): a clip's whole signature set
        # lands in its one day-batch, so its n_sigs is final at write
        # time — stamp it on the store rows (one keyed window over the
        # batch's distinct sigs) and the probe never needs the per-clip
        # aggregate or its two re-joins again (4->2 store scans, 7->3
        # exchanges per batch, plans/r11/
        # q_stream_media_ingest_probe_{before,after}.txt); the append and
        # the probe then run concurrently (_overlap_store_probe).
        from pyspark.sql.window import Window

        batch_rows = (
            starts.select(
                "media_id", "b0", "b1", "b2", "b3",
                F.lit(batch_id).cast("long").alias("bid"),
            )
            .distinct()
            .withColumn(
                "n_sigs",
                F.count(F.lit(1))
                .over(Window.partitionBy("media_id"))
                .cast("long"),
            )
        )

        # probe the store with this batch's signatures + verify: both
        # sides' n_sigs ride the match join; the distinct gains two
        # pair-constant columns, so its cardinality (and the emitted
        # pair set) is unchanged.
        def probe(batch_b: DataFrame, sg: DataFrame) -> None:
            n_lt_h = F.col("n.media_id") < F.col("h.media_id")
            matched = (
                batch_b
                .alias("n")
                .join(
                    sg.alias("h"),
                    (F.col("n.b0") == F.col("h.b0"))
                    & (F.col("n.b1") == F.col("h.b1"))
                    & (F.col("n.b2") == F.col("h.b2"))
                    & (F.col("n.b3") == F.col("h.b3"))
                    & (F.col("n.media_id") != F.col("h.media_id")),
                )
                .select(
                    F.least("n.media_id", "h.media_id").alias("id_a"),
                    F.greatest("n.media_id", "h.media_id").alias("id_b"),
                    F.when(n_lt_h, F.col("n.n_sigs"))
                    .otherwise(F.col("h.n_sigs"))
                    .cast("long")
                    .alias("n_sigs_a"),
                    F.when(n_lt_h, F.col("h.n_sigs"))
                    .otherwise(F.col("n.n_sigs"))
                    .cast("long")
                    .alias("n_sigs_b"),
                    F.col("n.b0").alias("b0"), F.col("n.b1").alias("b1"),
                    F.col("n.b2").alias("b2"), F.col("n.b3").alias("b3"),
                )
                .distinct()
            )
            (
                matched.groupBy("id_a", "id_b", "n_sigs_a", "n_sigs_b")
                .agg(F.count(F.lit(1)).cast("long").alias("shared_sigs"))
                .select(
                    F.greatest(
                        F.regexp_extract(F.col("id_a"), "^m([0-9]+)", 1)
                        .cast("long") % _INGEST_DAYS,
                        F.regexp_extract(F.col("id_b"), "^m([0-9]+)", 1)
                        .cast("long") % _INGEST_DAYS,
                    ).cast("long").alias("day_found"),
                    "id_a", "id_b", "shared_sigs", "n_sigs_a", "n_sigs_b",
                    F.expr(
                        "(1000000 * shared_sigs) div least(n_sigs_a, n_sigs_b)"
                    ).cast("long").alias("match_ppm"),
                )
                .filter(F.col("match_ppm") >= _VDUP_MATCH_PPM)
                .write.mode("append")
                .parquet(pairs)
            )

        _overlap_store_probe(batch_rows, store_sigs, probe)

    stream = log.subscribe(
        "clips", payload_schema=payload, max_files_per_trigger=8
    )
    run_available_now(
        stream.writeStream.foreachBatch(ingest).outputMode("append"),
        os.path.join(run, "ck"),
        state_partitions=8,
        no_data_batches=False,  # stateless foreachBatch pipeline
    )
    if not os.path.isdir(pairs) or not any(
        f.endswith(".parquet") for f in os.listdir(pairs)
    ):
        return spark.createDataFrame(
            [],
            "day_found long, id_a string, id_b string, shared_sigs long,"
            " n_sigs_a long, n_sigs_b long, match_ppm long",
        )
    return spark.read.parquet(pairs).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Streaming AUDIO ingest near-dup dedup (completes tri-modal streaming)
# ---------------------------------------------------------------------------


def _audio_topic(spark: SparkSession, sf_dir: str):
    """Produce the ``audio`` topic ONCE (an artifact) as three
    sequential day appends — the audio lane's doc_ids are all ≡1 mod 3,
    so its ingest day is (doc_id div 3) % 3 — from the SAME materialized
    fixture q_audio_fingerprint_dedup decodes (real WAV bytes through
    the envelope)."""
    from pulsar_lunar_spark.queries.media import _afp_fixture

    def produce(root: str) -> None:
        log = MessageLog(spark, root)
        clips = _afp_fixture(spark, sf_dir).withColumn(
            "did", F.regexp_extract("media_id", "^m([0-9]+)", 1).cast("long")
        )
        for k in range(_INGEST_DAYS):
            log.produce(
                clips.filter((F.col("did") / 3).cast("long") % _INGEST_DAYS == k),
                topic="audio",
                payload_cols=["media_id", "content"],
                key="media_id",
                sequence_id="did",
            )

    return MessageLog(spark, artifact_dir(spark, sf_dir, "pl_audio_topic", produce))


def _stream_audio_oracle() -> str:
    from pulsar_lunar_spark.queries.media import _AFP_MATCH_PPM, _afp_pairs_cte

    return f"""{_afp_pairs_cte()}, dm AS (
        SELECT clip_id, doc_id FROM clips
    )
    SELECT CAST(GREATEST((da.doc_id // 3) % {_INGEST_DAYS},
                         (db.doc_id // 3) % {_INGEST_DAYS}) AS BIGINT)
               AS day_found,
           p.id_a, p.id_b, p.n_match, p.n_windows_a, p.n_windows_b,
           CAST((1000000 * p.n_match) // LEAST(p.n_windows_a, p.n_windows_b)
                AS BIGINT) AS match_ppm
    FROM pairs p
    JOIN dm da ON da.clip_id = p.id_a
    JOIN dm db ON db.clip_id = p.id_b
    WHERE (1000000 * p.n_match) // LEAST(p.n_windows_a, p.n_windows_b)
          >= {_AFP_MATCH_PPM}
    ORDER BY id_a, id_b
    """


@register(
    "q_stream_audio_ingest",
    oracle=_stream_audio_oracle(),
    tags=("streaming", "multimodal", "audio", "dedup", "ingest"),
)
def q_stream_audio_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING audio ingest near-dup dedup — with the text
    (q_stream_ingest_dedup) and video (q_stream_media_ingest) lanes this
    makes the continuous-crawl near-dup composition literally
    tri-modal: real WAV bytes arrive day-batch by day-batch, every
    foreachBatch decodes its clips once (multimodal.audio_fingerprints —
    exact integer Haar band hashes), appends (window, fingerprint)
    postings to a persisted store, probes the store on (window,
    fingerprint) equality, and emits clip pairs whose matched-window
    count reaches 60% of the shorter clip — the
    q_audio_fingerprint_dedup rule discovered incrementally. Pair-found-
    once and id-derived day attribution follow the text lane's argument
    (the audio lane's ids are ≡1 mod 3, so its day is (id div 3) % 3).

    Scale shape: decode+fingerprint is map-only Arrow per batch; the
    store is append-only postings; the probe is the LSH postings join
    (pair mass bounded by fingerprint agreement); per-clip window counts
    ride the same store aggregate."""
    log = _audio_topic(spark, sf_dir)
    run = versioned_slot(scratch_root("pl_audio_ingest", sf_dir), "run")
    store_pp = os.path.join(run, "store_postings")
    pairs = os.path.join(run, "pairs")
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    from pulsar_lunar_spark.operators import multimodal as M
    from pulsar_lunar_spark.operators.corpus import md5_int
    from pulsar_lunar_spark.queries.media import _AFP_MATCH_PPM, _AFP_WINDOW

    payload = StructType(
        [
            StructField("media_id", StringType()),
            StructField("content", BinaryType()),
        ]
    )

    def ingest(bdf: DataFrame, batch_id: int) -> None:
        clips = bdf.select(
            F.col("payload.media_id").alias("media_id"),
            F.col("payload.content").alias("content"),
            F.lit("audio").alias("media_type"),
        )
        batch_rows = (
            M.audio_fingerprints(clips, window=_AFP_WINDOW)
            .filter(F.col("decode_ok"))
            .select(
                F.col("media_id").alias("clip_id"),
                "n_windows",
                F.col("win_index").alias("win"),
                md5_int(F.col("bands"), hex_chars=8).alias("fp"),
                F.lit(batch_id).cast("long").alias("bid"),
            )
        )
        day_of = lambda c: (  # noqa: E731
            (F.regexp_extract(F.col(c), "^m([0-9]+)", 1).cast("long") / 3)
            .cast("long") % _INGEST_DAYS
        )

        # r11 optimization (guide §2.4): n_windows is a CONSTANT column on
        # every store row of a clip (audio_fingerprints stamps it per row,
        # and a clip's rows land in exactly one batch), so both sides'
        # window counts ride the match join directly — the per-clip
        # n_windows aggregate and its two re-joins are gone (4->2 store
        # scans, 7->3 exchanges per batch, plans/r11/
        # q_stream_audio_ingest_probe_{before,after}.txt). The distinct
        # gains two pair-constant columns, so its cardinality is unchanged
        # and the emitted rows are identical. The store append and this
        # probe run concurrently (_overlap_store_probe; measured
        # 3.9 -> 2.7 s solo for the whole query).
        def probe(batch_b: DataFrame, pp: DataFrame) -> None:
            a_lt_b = F.col("a.clip_id") < F.col("b.clip_id")
            matched = (
                batch_b
                .alias("a")
                .join(
                    pp.alias("b"),
                    (F.col("a.win") == F.col("b.win"))
                    & (F.col("a.fp") == F.col("b.fp"))
                    & (F.col("a.clip_id") != F.col("b.clip_id")),
                )
                .select(
                    F.least("a.clip_id", "b.clip_id").alias("id_a"),
                    F.greatest("a.clip_id", "b.clip_id").alias("id_b"),
                    F.when(a_lt_b, F.col("a.n_windows"))
                    .otherwise(F.col("b.n_windows"))
                    .cast("long")
                    .alias("n_windows_a"),
                    F.when(a_lt_b, F.col("b.n_windows"))
                    .otherwise(F.col("a.n_windows"))
                    .cast("long")
                    .alias("n_windows_b"),
                    F.col("a.win").alias("win"),
                )
                .distinct()
            )
            (
                matched.groupBy("id_a", "id_b", "n_windows_a", "n_windows_b")
                .agg(F.count(F.lit(1)).cast("long").alias("n_match"))
                .select(
                    F.greatest(day_of("id_a"), day_of("id_b"))
                    .cast("long")
                    .alias("day_found"),
                    "id_a", "id_b", "n_match", "n_windows_a", "n_windows_b",
                    F.expr(
                        "(1000000L * n_match) div least(n_windows_a, n_windows_b)"
                    ).cast("long").alias("match_ppm"),
                )
                .filter(F.col("match_ppm") >= _AFP_MATCH_PPM)
                .write.mode("append")
                .parquet(pairs)
            )

        _overlap_store_probe(batch_rows, store_pp, probe)

    stream = log.subscribe(
        "audio", payload_schema=payload, max_files_per_trigger=8
    )
    run_available_now(
        stream.writeStream.foreachBatch(ingest).outputMode("append"),
        os.path.join(run, "ck"),
        state_partitions=8,
        no_data_batches=False,  # stateless foreachBatch pipeline
    )
    if not os.path.isdir(pairs) or not any(
        f.endswith(".parquet") for f in os.listdir(pairs)
    ):
        return spark.createDataFrame(
            [],
            "day_found long, id_a string, id_b string, n_match long,"
            " n_windows_a long, n_windows_b long, match_ppm long",
        )
    return spark.read.parquet(pairs).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Streaming IMAGE ingest near-dup dedup (every near-dup modality streams)
# ---------------------------------------------------------------------------


def _image_topic(spark: SparkSession, sf_dir: str):
    """Produce the ``images`` topic ONCE (an artifact) as three
    sequential day appends (the image lane's ids are ≡0 mod 3, so its
    day is (doc_id div 3) % 3) from the SAME materialized fixture
    q_image_phash_dedup decodes (real BMP bytes through the envelope)."""
    from pulsar_lunar_spark.queries.media import _dhash_fixture

    def produce(root: str) -> None:
        log = MessageLog(spark, root)
        imgs = _dhash_fixture(spark, sf_dir).withColumn(
            "did", F.regexp_extract("media_id", "^m([0-9]+)", 1).cast("long")
        )
        for k in range(_INGEST_DAYS):
            log.produce(
                imgs.filter((F.col("did") / 3).cast("long") % _INGEST_DAYS == k),
                topic="images",
                payload_cols=["media_id", "content"],
                key="media_id",
                sequence_id="did",
            )

    return MessageLog(spark, artifact_dir(spark, sf_dir, "pl_image_topic", produce))


def _stream_image_oracle() -> str:
    from pulsar_lunar_spark.queries.media import _DHASH_HAMMING_MAX, _dhash_cte

    ham = (
        "BIT_COUNT(XOR(ha.b0, hb.b0)) + BIT_COUNT(XOR(ha.b1, hb.b1))"
        " + BIT_COUNT(XOR(ha.b2, hb.b2)) + BIT_COUNT(XOR(ha.b3, hb.b3))"
    )
    return f"""{_dhash_cte()}, dm AS (
        SELECT media_id, doc_id FROM clips
    )
    SELECT CAST(GREATEST((da.doc_id // 3) % {_INGEST_DAYS},
                         (db.doc_id // 3) % {_INGEST_DAYS}) AS BIGINT)
               AS day_found,
           c.id_a, c.id_b, CAST({ham} AS BIGINT) AS hamming
    FROM cand c
    JOIN hashes ha ON ha.media_id = c.id_a
    JOIN hashes hb ON hb.media_id = c.id_b
    JOIN dm da ON da.media_id = c.id_a
    JOIN dm db ON db.media_id = c.id_b
    WHERE {ham} <= {_DHASH_HAMMING_MAX}
    ORDER BY id_a, id_b
    """


@register(
    "q_stream_image_ingest",
    oracle=_stream_image_oracle(),
    tags=("streaming", "multimodal", "image", "dedup", "ingest"),
)
def q_stream_image_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING image ingest near-dup dedup — with the text, video, and
    audio lanes, EVERY batch near-dup modality now has its streaming
    ingest twin: real BMP bytes arrive day-batch by day-batch, every
    foreachBatch dHashes its images once (multimodal.image_dhash),
    appends the 4-band hashes to a persisted store, probes the store by
    (band_index, band_value) postings — the q_image_phash_dedup LSH
    unit — and emits pairs at Hamming distance <= 6 over the carried
    64-bit hashes. Pair-found-once and id-derived day attribution follow
    the text lane's argument; the Hamming verify needs only the two hash
    rows, both already in the store.

    Scale shape: decode+hash is map-only Arrow per batch; the store is
    one 4-column row per image; the probe explodes 4 band postings per
    side (shuffle O(4 x images), pair mass bounded by band agreement —
    the band_postings stress-probe shape)."""
    log = _image_topic(spark, sf_dir)
    run = versioned_slot(scratch_root("pl_image_ingest", sf_dir), "run")
    store_h = os.path.join(run, "store_hashes")
    pairs = os.path.join(run, "pairs")
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    from pulsar_lunar_spark.operators import multimodal as M
    from pulsar_lunar_spark.queries.media import _DHASH_HAMMING_MAX

    payload = StructType(
        [
            StructField("media_id", StringType()),
            StructField("content", BinaryType()),
        ]
    )

    def ingest(bdf: DataFrame, batch_id: int) -> None:
        imgs = bdf.select(
            F.col("payload.media_id").alias("media_id"),
            F.col("payload.content").alias("content"),
            F.lit("image").alias("media_type"),
        )
        batch_rows = M.image_dhash(imgs).filter(F.col("decode_ok")).select(
            "media_id", "b0", "b1", "b2", "b3",
            F.lit(batch_id).cast("long").alias("bid"),
        )

        # Each image has exactly ONE store row, so the full 64-bit hash can
        # ride the 4 band postings and the Hamming verify happens INLINE on
        # the banding join's output — no re-join against the hash table.
        # r11 optimization (guide §2.4/§3): the prior shape was
        # postings⋈postings → distinct → ⋈hashes(id_a) → ⋈hashes(id_b);
        # this one is postings⋈postings → verify → distinct: 4→2 parquet
        # scans, 4→2 exchanges per batch (plans/r11/
        # q_stream_image_ingest_probe_{before,after}.txt), identical pair
        # set (hamming is a function of the pair; filter-before-distinct
        # commutes). The store append and the probe run concurrently
        # (_overlap_store_probe).
        def postings(df: DataFrame) -> DataFrame:
            return df.select(
                "media_id", "b0", "b1", "b2", "b3",
                F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("k", "bv"),
            )

        hamming = sum(
            F.bit_count(F.col(f"a.b{k}").bitwiseXOR(F.col(f"b.b{k}")))
            for k in range(4)
        ).cast("long")
        day_of = lambda c: (  # noqa: E731
            (F.regexp_extract(F.col(c), "^m([0-9]+)", 1).cast("long") / 3)
            .cast("long") % _INGEST_DAYS
        )

        def probe(batch_b: DataFrame, hs: DataFrame) -> None:
            (
                postings(batch_b)
                .alias("a")
                .join(
                    postings(hs).alias("b"),
                    (F.col("a.k") == F.col("b.k"))
                    & (F.col("a.bv") == F.col("b.bv"))
                    & (F.col("a.media_id") != F.col("b.media_id")),
                )
                .select(
                    F.least("a.media_id", "b.media_id").alias("id_a"),
                    F.greatest("a.media_id", "b.media_id").alias("id_b"),
                    hamming.alias("hamming"),
                )
                .filter(F.col("hamming") <= _DHASH_HAMMING_MAX)
                .distinct()
                .select(
                    F.greatest(day_of("id_a"), day_of("id_b"))
                    .cast("long")
                    .alias("day_found"),
                    "id_a", "id_b", "hamming",
                )
                .write.mode("append")
                .parquet(pairs)
            )

        _overlap_store_probe(batch_rows, store_h, probe)

    stream = log.subscribe(
        "images", payload_schema=payload, max_files_per_trigger=8
    )
    run_available_now(
        stream.writeStream.foreachBatch(ingest).outputMode("append"),
        os.path.join(run, "ck"),
        state_partitions=8,
        no_data_batches=False,  # stateless foreachBatch pipeline
    )
    if not os.path.isdir(pairs) or not any(
        f.endswith(".parquet") for f in os.listdir(pairs)
    ):
        return spark.createDataFrame(
            [], "day_found long, id_a string, id_b string, hamming long"
        )
    return spark.read.parquet(pairs).orderBy("id_a", "id_b")
