"""Pipeline/storage queries, batch 6 (SURVEY §2B north star + storage
layout): scalable global row enumeration (shard ids for training-example
addressing), curriculum length-bucketing, and partitioned-write partition
pruning (the hive-layout data-skipping primitive).

Determinism: row ids / bucket ids / counts are all integers; the only
doubles are min/max picks of integral columns.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators.partitioning import stable_row_ids
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import ensure_parallelism, load_table


@register(
    "q_row_ids",
    oracle="""
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS row_id
    FROM documents
    QUALIFY doc_id % 97 = 0
    ORDER BY doc_id
    """,
    tags=("pipeline", "row-ids"),
)
def q_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global example ids (0..n-1 in doc_id order) via the
    range-partition + per-partition-offset pattern (see
    partitioning.stable_row_ids) — one range exchange, no single-task
    global sort, so the same plan enumerates 100 TB. The oracle is the
    ROW_NUMBER() spec it implements. Output sampled (doc_id % 97) to keep
    the compare bounded."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    ids = stable_row_ids(d, order_col="doc_id", n_ranges=8)
    return ids.filter(F.col("doc_id") % 97 == 0).orderBy("doc_id")


@register(
    "q_length_buckets",
    oracle="""
    WITH b AS (
        SELECT lang, doc_id, n_chars,
               NTILE(8) OVER (ORDER BY n_chars, doc_id) AS bucket
        FROM documents
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    tags=("pipeline", "curriculum"),
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum length-bucketing: octile bins over document length
    (total order with doc_id tiebreak), per-bin size and length range —
    the batch-construction step that groups similar-length sequences to
    minimize padding waste. NTILE here is the declared window form; the
    100 TB path replaces the global window with broadcast quantile
    boundaries + a scan-local bucket expression (same outputs when
    boundaries are exact)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("n_chars", "doc_id")
    return (
        d.select("lang", "n_chars", F.ntile(8).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("bucket")
    )


def _prune_dir(sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(tempfile.gettempdir(), "pulsar_lunar_partitioned", tag)


@register(
    "q_partitioned_prune",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total
    FROM documents WHERE lang = 'en'
    GROUP BY source ORDER BY source
    """,
    tags=("pipeline", "storage", "pruning"),
)
def q_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partition pruning: write documents partitioned by lang
    (`write.partitionBy` — one directory per language), read back with a
    lang filter, aggregate. The filter binds to the partition COLUMN, so
    the scan lists only lang=en/ and never opens other directories —
    the oracle proves the pruned read is lossless. At 100 TB this is the
    difference between scanning one language and scanning the corpus
    (PartitionFilters asserted in tests/test_pipeline.py)."""
    d = load_table(spark, sf_dir, "documents")
    out = _prune_dir(sf_dir)
    d.write.partitionBy("lang").mode("overwrite").parquet(out)
    rd = spark.read.parquet(out).filter(F.col("lang") == "en")
    return (
        rd.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_total"),
        )
        .orderBy("source")
    )


@register(
    "q_dynamic_partition_prune",
    oracle="""
    WITH seen AS (
        SELECT DISTINCT lang FROM documents WHERE doc_id % 97 = 0
    )
    SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_total
    FROM documents d JOIN seen ON d.lang = seen.lang
    GROUP BY d.lang ORDER BY d.lang
    """,
    tags=("pipeline", "storage", "pruning", "dpp"),
)
def q_dynamic_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the pruning predicate is not known until
    runtime — the fact side is documents written partitionBy(lang), the
    dim side is the language set of a selectively-filtered doc sample.
    Catalyst inserts a dynamicpruning subquery on the partition column:
    the dim side runs first (its selective filter is what qualifies the
    join for DPP), its lang values broadcast, and the fact scan lists only
    those directories — at 100 TB, the difference between scanning the
    matching languages and the corpus when the filter comes from a JOIN
    instead of a literal (plan asserted in tests/test_pipeline.py)."""
    d = load_table(spark, sf_dir, "documents")
    out = _prune_dir(sf_dir) + "_dpp"
    d.write.partitionBy("lang").mode("overwrite").parquet(out)
    fact = spark.read.parquet(out)
    dim = d.filter(F.col("doc_id") % 97 == 0).select("lang").distinct()
    return (
        fact.join(F.broadcast(dim), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_total"),
        )
        .orderBy("lang")
    )


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # thresholds scaled to fixture size: at 100 TB a fact-fact join hits
    # the default conditions (application side > 10 GB scan) naturally
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # bloom injection targets shuffle joins — a broadcast join needs no
    # row-level prefilter (the hash table IS the filter)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _bloom_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q_bloom_join_filter",
    oracle="""
    SELECT l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    tags=("pipeline", "optimizer", "bloom-filter", "runtime-filter"),
)
def q_bloom_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning: for a shuffle join with a
    selective creation side, Catalyst injects bloom_filter_agg over the
    dim keys and a might_contain prefilter on the fact side — fact rows
    that cannot match are dropped BEFORE the shuffle, the row-level
    complement of dynamic partition pruning (plan asserted in
    tests/test_pipeline.py). Executed under scoped confs and returned as
    a localized result so the threshold overrides never leak into other
    queries' plans."""
    prev = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = _bloom_join_df(spark, sf_dir)
        rows = df.collect()  # optimize + execute while the confs are live
        schema = df.schema
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # one-slice localization: bare createDataFrame slices even a 1-row
    # result into defaultParallelism pickled partitions (a 32-task job,
    # ~0.3 s/collect), and coalesce(1) is WORSE (one task evaluates all
    # 32 slices' Python round-trips sequentially, ~3.8 s); parallelize
    # with numSlices=1 collects in ~0.17 s (r8 A/B, all three measured)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


@register(
    "q_events_densify",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               FLOOR(SUM(value) * 10000 + 0.5) / 10000 AS day_value
        FROM events WHERE user_id <= 20
        GROUP BY user_id, CAST(ts AS DATE)
    ), span AS (
        SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY user_id
    ), cal AS (
        SELECT user_id, CAST(UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        FROM span
    )
    SELECT c.user_id, STRFTIME(c.d, '%Y-%m-%d') AS day,
           COALESCE(daily.n_events, 0) AS n_events,
           LAST_VALUE(daily.day_value IGNORE NULLS)
               OVER (PARTITION BY c.user_id ORDER BY c.d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM cal c LEFT JOIN daily ON c.user_id = daily.user_id AND c.d = daily.d
    ORDER BY c.user_id, c.d
    """,
    tags=("pipeline", "timeseries", "densify"),
)
def q_events_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification + forward fill: per-user daily rollup, the
    missing days generated with sequence(min_day, max_day) (no calendar
    table needed), outer-joined back and gap-filled with last(ignorenulls)
    — the time-series regularization step before any windowed feature
    computation. One shuffle on user_id for the rollup, one for the
    window; the calendar explode is O(span), scan-local."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    daily = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.floor(F.sum("value") * 10000 + 0.5) / 10000).alias("day_value"),
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("d"))
    )
    dense = cal.join(daily, ["user_id", "d"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
    ).orderBy("user_id", "day")


@register(
    "q_curation_funnel",
    oracle=r"""
    WITH n AS (
        SELECT source, doc_id, n_chars, lang,
               REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g') AS norm
        FROM documents
    ),
    f1 AS (
        SELECT source, doc_id, norm,
               lang IN ('en', 'de', 'fr') AS f_lang,
               lang IN ('en', 'de', 'fr')
                 AND n_chars BETWEEN 200 AND 20000 AS f_len
        FROM n
    ),
    f2 AS (
        SELECT source, doc_id, norm, f_lang, f_len,
               f_len AND LEN(LIST_FILTER(STRING_SPLIT(norm, ' '),
                                         x -> x != '')) >= 20 AS f_q
        FROM f1
    ),
    k AS (
        SELECT source, doc_id, f_lang, f_len, f_q,
               MIN(doc_id) OVER (
                   PARTITION BY CASE WHEN f_q THEN MD5(norm)
                                     ELSE 'nd-' || doc_id END
               ) AS keeper
        FROM f2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
           CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
           CAST(SUM(CASE WHEN f_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(SUM(CASE WHEN f_q AND doc_id = keeper THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unique
    FROM k GROUP BY source ORDER BY source
    """,
    tags=("pipeline", "curation", "funnel"),
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation funnel a training-data pipeline ships:
    language accept-list -> length bounds -> quality gate (min word
    count) -> exact dedup (md5 of normalized text, lowest doc_id kept),
    reported as per-source survivor counts at every stage — the
    monitoring table that tells you which crawl source lost how many
    documents to which filter.

    One scan computes every stage flag as codegen expressions; the dedup
    keeper is a single window over the content hash (non-survivors get a
    per-row dummy hash, so there is no giant null partition and no skew);
    one final hash agg per source. Two shuffles total at any corpus
    size — the stage flags ride along instead of re-scanning per stage."""
    from pulsar_lunar_spark.operators.dedup import normalize_text

    d = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    n_words = F.size(F.filter(F.split(norm, " "), lambda w: F.length(w) > 0))
    f_lang = F.col("lang").isin("en", "de", "fr")
    f_len = f_lang & F.col("n_chars").between(200, 20000)
    f_q = f_len & (n_words >= 20)
    base = d.select(
        "source",
        "doc_id",
        f_lang.alias("f_lang"),
        f_len.alias("f_len"),
        f_q.alias("f_q"),
        F.when(f_q, F.md5(norm)).otherwise(F.concat(F.lit("nd-"), F.col("doc_id"))).alias("h"),
    )
    keeper = F.min("doc_id").over(Window.partitionBy("h"))
    flagged = base.select("source", "doc_id", "f_lang", "f_len", "f_q", keeper.alias("keeper"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.col("f_lang").cast("int")).cast("bigint").alias("n_lang"),
            F.sum(F.col("f_len").cast("int")).cast("bigint").alias("n_len"),
            F.sum(F.col("f_q").cast("int")).cast("bigint").alias("n_quality"),
            F.sum((F.col("f_q") & (F.col("doc_id") == F.col("keeper"))).cast("int"))
            .cast("bigint")
            .alias("n_unique"),
        )
        .orderBy("source")
    )


_SKEW_CONFS = {
    # thresholds scaled to fixture size — the defaults (256MB/factor 5)
    # trigger naturally on a real hot key at cluster scale
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    # the post-join aggregate adds a shuffle after the join, which the
    # rule treats as invalidating unless forced
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


def _skew_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_lunar_spark.session import ensure_parallelism

    # 60% of fact rows collapse onto one hot key — the classic skewed join.
    # ensure_parallelism gives the map side multiple output blocks; a
    # single-mapper shuffle partition is indivisible and CANNOT be split
    # (the skew reader's unit is one mapper's block of the hot partition).
    li = ensure_parallelism(load_table(spark, sf_dir, "lineitem")).select(
        F.when(F.col("l_orderkey") % 5 < 3, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_quantity",
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 >= 3)
        .select(F.col("o_orderkey").alias("k"))
        .union(spark.range(1).select(F.lit(0).alias("k")))
    )
    return (
        li.join(o, "k")
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).cast("bigint").alias("sum_qty"),
        )
    )


@register(
    "q_aqe_skew_join",
    oracle="""
    WITH li AS (
        SELECT CASE WHEN l_orderkey % 5 < 3 THEN 0 ELSE l_orderkey END AS k,
               l_quantity
        FROM lineitem
    ), o AS (
        SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 5 >= 3
        UNION ALL SELECT 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM li JOIN o ON li.k = o.k
    """,
    tags=("pipeline", "optimizer", "aqe", "skew-join"),
)
def q_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-join splitting: 60% of the fact side lands on one
    hot join key; at execution time AQE sees the oversized shuffle
    partition and splits it across tasks, duplicating the matching build
    rows — the runtime answer to skew that needs no manual salting
    (the manual technique is covered separately by q_salted_join).
    Executed under scoped thresholds (the defaults trigger naturally at
    cluster scale) and returned localized so the overrides never leak;
    the 'AQEShuffleRead ... skewed' node is plan-asserted in
    tests/test_pipeline.py."""
    prev = {k: spark.conf.get(k, None) for k in _SKEW_CONFS}
    for k, v in _SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = _skew_join_df(spark, sf_dir)
        # _skew_join_df ends in a global aggregate: the join output never
        # leaves the executors — the only thing collected here is the
        # single (n_rows, sum_qty) row, so scoping the AQE confs around
        # the action costs nothing at any scale.
        rows = df.collect()
        schema = df.schema
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # one-slice localization: bare createDataFrame slices even a 1-row
    # result into defaultParallelism pickled partitions (a 32-task job,
    # ~0.3 s/collect), and coalesce(1) is WORSE (one task evaluates all
    # 32 slices' Python round-trips sequentially, ~3.8 s); parallelize
    # with numSlices=1 collects in ~0.17 s (r8 A/B, all three measured)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


# ---------------------------------------------------------------------------
# Bucketed (shuffle-free) co-located join
# ---------------------------------------------------------------------------

_BUCKET_N = 8


def _bucketed_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders/lineitem hash-bucketed by order key ONCE (a
    session.artifact_dir artifact): external tables on tmpfs scratch
    (data dies with the process; catalog entries die with the session).
    Fixture cost, not query cost — the pattern every repeated fact-fact
    join pays once per day at 100 TB, then amortizes over every
    downstream join."""
    import re

    from pulsar_lunar_spark.operators.partitioning import write_bucketed
    from pulsar_lunar_spark.session import artifact_dir, sf_cache_tag

    tag = re.sub(r"[^A-Za-z0-9_]", "_", sf_cache_tag(sf_dir))
    t_orders, t_lineitem = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"

    def write(root: str) -> None:
        write_bucketed(
            load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
            t_orders,
            ["o_orderkey"],
            _BUCKET_N,
            sort_cols=["o_orderkey"],
            path=os.path.join(root, "orders"),
        )
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
            t_lineitem,
            ["l_orderkey"],
            _BUCKET_N,
            sort_cols=["l_orderkey"],
            path=os.path.join(root, "lineitem"),
        )

    artifact_dir(spark, sf_dir, "bucketed", write)
    return t_orders, t_lineitem


def _bucketed_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_orders, t_lineitem = _bucketed_fixture(spark, sf_dir)
    j = spark.table(t_lineitem).join(
        spark.table(t_orders),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("l_quantity").cast("bigint").alias("total_qty"),
        )
        .orderBy("o_orderpriority")
    )


_BUCKET_CONFS = {
    # force the co-located SortMergeJoin the demo is about (a broadcast
    # would hide it at test scale; at 100 TB neither side broadcasts)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@register(
    "q_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(l_quantity) AS BIGINT) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("pipeline", "join", "bucketing", "storage-layout"),
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zero-exchange co-located join: both tables bucketed by their
    join key into the same bucket count, so the SortMergeJoin reads
    matching buckets directly — NO shuffle on either side (plan-asserted
    in tests/test_partitioning.py; the only exchanges left are the
    priority aggregate and the output sort). This is the dominant-cost
    deletion for every repeated 100 TB fact-fact join; the bucketed
    write is a once-per-process fixture here and a once-per-load job in
    production. Values are identical to the plain join, which is exactly
    what the oracle checks. Executed under a scoped broadcast-off conf
    (test-scale dims would otherwise broadcast and hide the SMJ) and
    returned localized so the override never leaks."""
    # fixture FIRST: its load_table consumes session._configure's
    # once-per-session analytics defaults, which include an
    # autoBroadcastJoinThreshold write — setting _BUCKET_CONFS before the
    # first load_table of a fresh session would be silently clobbered and
    # the demo would plan as a BroadcastHashJoin (order-dependence found
    # by the round-5 self-review; fixture is cached, so this is free on
    # every later call)
    _bucketed_fixture(spark, sf_dir)
    prev = {k: spark.conf.get(k, None) for k in _BUCKET_CONFS}
    for k, v in _BUCKET_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = _bucketed_join_df(spark, sf_dir)
        rows = df.collect()  # 5 priority rows — the join never leaves executors
        schema = df.schema
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # one-slice localization: bare createDataFrame slices even a 1-row
    # result into defaultParallelism pickled partitions (a 32-task job,
    # ~0.3 s/collect), and coalesce(1) is WORSE (one task evaluates all
    # 32 slices' Python round-trips sequentially, ~3.8 s); parallelize
    # with numSlices=1 collects in ~0.17 s (r8 A/B, all three measured)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
