"""Streaming queries in the driver-checked contract: each callable runs a
REAL Structured Streaming query (file source → watermarked transform →
availableNow trigger → a sink chosen by result shape: memory for small
complete-mode tables, parquet/foreachBatch for row-heavy or maintained
results, noop for observed-metrics runs) and returns the materialized
result, which the driver hash-checks against batch SQL — proving the
streaming and batch semantics agree (the unified-model claim, SIGMOD'18).

Each run replays one produce of the events topic (a
session.artifact_dir artifact). Its checkpoint and file-sink directories
are fresh per run (session.scratch_dir), so the cursor restarts at
Earliest and re-runs are idempotent, while the previous run's sink stays
readable for a DataFrame that run returned. Memory-sink table names are
namespaced per query to avoid collisions.

Scale notes: these exact pipelines run unchanged against an unbounded
source — availableNow is swapped for a processing-time trigger and the
memory sink for a parquet/Pulsar sink; state stays bounded (complete-mode
aggregation state is O(windows×keys); dedup state is watermark-evicted).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import (
    artifact,
    artifact_dir,
    load_table,
    local_rows,
    scratch_dir,
)
from pulsar_lunar_spark.sources.log import MessageLog
from pulsar_lunar_spark.streaming import run_available_now, stateful_sessionize


def _shared_log(spark: SparkSession, sf_dir: str, copies: int = 1) -> MessageLog:
    """The events topic produced ``copies`` times, one artifact per
    (dataset, copies) — see session.artifact_dir.

    The produced log is a deterministic function of the input table, so
    every query (and every bench rep) can replay the same directory —
    re-producing per call tripled the harness cost for zero coverage.
    """

    def produce(root: str) -> None:
        log = MessageLog(spark, root)
        e = load_table(spark, sf_dir, "events")
        for _ in range(copies):
            log.produce(
                e,
                topic="events",
                payload_cols=["event_id", "event_type", "value"],
                key="user_id",
                event_time="ts",
                sequence_id="event_id",
                publish_time="ts",
            )

    return MessageLog(
        spark, artifact_dir(spark, sf_dir, f"pl_streamq_log_x{copies}", produce)
    )


def _files_per_trigger(log: MessageLog, topic: str, batches: int) -> int:
    """``max_files_per_trigger`` that splits ``topic``'s log files into
    about ``batches`` micro-batches (source rate limiting, the CommandFlow
    permit knob)."""
    n_files = sum(
        1
        for _r, _d, fs in os.walk(log.topic_path(topic))
        for f in fs
        if f.endswith(".parquet")
    )
    return max(1, math.ceil(n_files / batches))


def _events_max_us(spark: SparkSession, sf_dir: str) -> int:
    """max(ts) of the events table, in epoch micros — an artifact (the
    scan is a whole batch job that deterministic end-of-stream cutoffs
    would otherwise re-pay on every call)."""
    return artifact(
        spark,
        sf_dir,
        "events_max_us",
        lambda: load_table(spark, sf_dir, "events")
        .agg(F.unix_micros(F.max("ts")).alias("m"))
        .head()["m"],
    )


@register(
    "q_stream_tumbling",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("streaming", "window", "watermark"),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run: events replayed through a file-source stream,
    1-hour tumbling windows keyed by decoded event_type, availableNow →
    memory sink (complete mode: every window emitted). Hash-matches the
    batch answer — streaming and batch semantics agree."""
    from pyspark.sql.types import StringType, StructField, StructType

    log = _shared_log(spark, sf_dir)
    payload = StructType([StructField("event_type", StringType())])
    stream = log.subscribe("events", payload_schema=payload).select(
        F.col("event_time").alias("ts"), F.col("payload.event_type").alias("event_type")
    )
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
        )
    )
    run_available_now(
        windowed.writeStream.format("memory")
        .queryName("q_stream_tumbling_sink")
        .outputMode("complete"),
        scratch_dir("pl_streamq_ck_tumbling", sf_dir),
        state_partitions=4,
        no_data_batches=False,  # complete-mode agg: trailing watermark batch changes nothing
    )
    return spark.table("q_stream_tumbling_sink").orderBy("win_start", "event_type")


@register(
    "q_stream_sliding",
    oracle="""
    WITH shifted AS (
        SELECT TIME_BUCKET(INTERVAL 20 MINUTE, ts) - (i * INTERVAL 20 MINUTE)
                 AS win_start,
               event_id
        FROM events, (VALUES (0), (1), (2)) t(i)
    )
    SELECT STRFTIME(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM shifted
    GROUP BY 1
    ORDER BY win_start
    """,
    tags=("streaming", "window", "sliding", "watermark"),
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming sliding windows: 60 minutes long, every 20 minutes —
    each event lands in 3 overlapping windows, so streaming state holds 3
    window rows per active hour (still watermark-bounded). availableNow →
    memory sink in complete mode; the oracle reproduces the overlap by
    unioning three shifted 20-minute buckets."""
    stream = _shared_log(spark, sf_dir).subscribe("events").select(
        F.col("event_time").alias("ts")
    )
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "60 minutes", "20 minutes").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
        )
    )
    run_available_now(
        windowed.writeStream.format("memory")
        .queryName("q_stream_sliding_sink")
        .outputMode("complete"),
        scratch_dir("pl_streamq_ck_sliding", sf_dir),
        state_partitions=4,
        no_data_batches=False,  # complete-mode agg
    )
    return spark.table("q_stream_sliding_sink").orderBy("win_start")


@register(
    "q_stream_dedup",
    oracle="""
    SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique,
           CAST(COUNT(*) AS BIGINT) AS n_raw
    FROM (SELECT event_id FROM events UNION ALL SELECT event_id FROM events)
    """,
    tags=("streaming", "dedup", "exactly-once"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming dedup: every event produced TWICE, consumed through
    dropDuplicates on sequence_id — the broker-dedup semantics
    (last_sequence_id, /root/reference/src/PulsarApi.proto:577-579). The
    sink must hold exactly one copy per event."""
    # the same rows produced twice (duplicate delivery)
    log = _shared_log(spark, sf_dir, copies=2)
    deduped = (
        log.subscribe("events")
        .withWatermark("event_time", "10 years")
        .dropDuplicates(["sequence_id"])
        .select("sequence_id")
    )
    # parquet sink, not memory: the deduped stream lands distributed (the
    # 100 TB pattern — dedup into a table), never funneling rows through
    # the driver; state_partitions sizes the dedup state stores to the
    # state volume instead of the session's 32-way scan parallelism
    out = scratch_dir("pl_streamq_out_dedup", sf_dir)
    run_available_now(
        deduped.writeStream.format("parquet").option("path", out).outputMode("append"),
        scratch_dir("pl_streamq_ck_dedup", sf_dir),
        state_partitions=4,
        no_data_batches=False,  # dropDuplicates emits on first sight
    )
    raw = log.read("events").count()
    return local_rows(
        spark, [(spark.read.parquet(out).count(), raw)], "n_unique long, n_raw long"
    )


@register(
    "q_stream_dedup_ttl",
    oracle="""
    SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique,
           CAST(2 * COUNT(*) AS BIGINT) AS n_raw,
           TRUE AS state_evicted
    FROM events
    """,
    tags=("streaming", "dedup", "ttl", "watermark"),
)
def q_stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL-bounded streaming dedup: dropDuplicatesWithinWatermark keeps a
    key's state only for the watermark delay (1 hour) instead of forever —
    the dedup that survives an unbounded stream, where exact dedup state
    grows without limit. Duplicate deliveries here carry identical event
    times (broker redelivery), so they always land inside the TTL window
    and the output matches exact dedup row-for-row; the state_evicted flag
    then pins the semantic difference: after the trailing no-data batch
    the state store holds strictly fewer rows than the distinct key count
    (everything older than max event time - 1h was evicted). Runs on the
    RocksDB state-store provider with changelog checkpointing — the
    at-scale configuration (off-heap state on local SSD; per-batch
    changelog upload instead of full snapshots) — value-identical to the
    default provider (pytest-pinned)."""
    log = _shared_log(spark, sf_dir, copies=2)
    deduped = (
        log.subscribe("events")
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(["sequence_id"])
        .select("sequence_id")
    )
    out = scratch_dir("pl_streamq_out_dedupttl", sf_dir)
    q = run_available_now(
        deduped.writeStream.format("parquet").option("path", out).outputMode("append"),
        scratch_dir("pl_streamq_ck_dedupttl", sf_dir),
        state_partitions=4,
        state_store="rocksdb",
    )
    n_unique = spark.read.parquet(out).count()
    n_raw = log.read("events").count()
    progress = q.lastProgress
    state_rows = (
        progress["stateOperators"][0]["numRowsTotal"] if progress else n_unique
    )
    return local_rows(
        spark,
        [(n_unique, n_raw, bool(state_rows < n_unique))],
        "n_unique long, n_raw long, state_evicted boolean",
    )


@register(
    "q_stream_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM flagged
    )
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           STRFTIME(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "session", "stateful"),
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming session windows: F.session_window with a 30-minute
    gap over the replayed event stream (stateful session merging across
    micro-batches), availableNow → memory sink (complete mode). Oracle is
    the gaps-and-islands twin with the matching >= gap boundary
    (session_window closes when the next event is AT OR PAST start+gap;
    the batch q_events_session covers the strict-> variant)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    log = _shared_log(spark, sf_dir)
    payload = StructType([StructField("value", DoubleType())])
    stream = log.subscribe("events", payload_schema=payload).select(
        F.col("event_time").alias("ts"),
        F.col("key").cast("long").alias("user_id"),
        F.col("payload.value").alias("value"),
    )
    sessions = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("s.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("s.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    # complete-mode result lands DISTRIBUTED via foreachBatch overwrite —
    # a memory sink would pull every session row through the driver once
    # per batch (~95k rows at sf0.1), which is the anti-pattern at scale
    out = scratch_dir("pl_streamq_out_session", sf_dir)

    def write_complete(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(out)

    run_available_now(
        sessions.writeStream.foreachBatch(write_complete).outputMode("complete"),
        scratch_dir("pl_streamq_ck_session", sf_dir),
        state_partitions=4,
        no_data_batches=False,  # complete-mode session agg
    )
    return spark.read.parquet(out).orderBy("user_id", "session_start")


@register(
    "q_stream_stream_join",
    oracle="""
    SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id ORDER BY c.user_id
    """,
    tags=("streaming", "stream-stream-join", "watermark"),
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream inner join: clicks and purchases (two watermarked
    subscriptions of the replayed topic) joined on user within a 30-minute
    event-time bound — the attribution-join shape. The time constraint
    lets Spark evict state on both sides (bounded at any scale); the
    materialized pair sink is then batch-aggregated and hash-checked
    against the batch self-join."""
    from pyspark.sql.types import StringType, StructField, StructType

    log = _shared_log(spark, sf_dir)
    payload = StructType([StructField("event_type", StringType())])

    def typed(etype: str, alias: str) -> DataFrame:
        s = log.subscribe("events", payload_schema=payload).select(
            F.col("key").cast("long").alias(f"{alias}_user"),
            F.col("event_time").alias(f"{alias}_ts"),
            F.col("payload.event_type").alias(f"{alias}_type"),
        )
        return s.filter(F.col(f"{alias}_type") == etype).withWatermark(
            f"{alias}_ts", "2 hours"
        )

    clicks = typed("click", "c")
    purchases = typed("purchase", "p")
    pairs = clicks.join(
        purchases,
        F.expr(
            "p_user = c_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 30 minutes"
        ),
    ).select("c_user", "c_ts", "p_ts")
    # file sink + right-sized join state stores: the joined pairs land
    # distributed, and 4 state partitions cut the per-batch store IO 8x
    # (each side of a stream-stream join keeps one store per partition)
    out = scratch_dir("pl_streamq_out_ssjoin", sf_dir)
    run_available_now(
        pairs.writeStream.format("parquet").option("path", out).outputMode("append"),
        scratch_dir("pl_streamq_ck_ssjoin", sf_dir),
        state_partitions=4,
        no_data_batches=False,  # inner join emits on match, never on eviction
    )
    return (
        spark.read.parquet(out)
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


@register(
    "q_stream_outer_join",
    oracle="""
    WITH cutoff AS (
        SELECT LEAST(MAX(CASE WHEN event_type = 'click' THEN ts END),
                     MAX(CASE WHEN event_type = 'purchase' THEN ts END))
               - INTERVAL 60 MINUTE AS t
        FROM events
    )
    SELECT c.user_id,
           CAST(COUNT(*) AS BIGINT)        AS n_rows,
           CAST(COUNT(p.ts) AS BIGINT)     AS n_matched,
           CAST(COUNT(*) - COUNT(p.ts) AS BIGINT) AS n_unmatched
    FROM events c
    LEFT JOIN events p
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND c.ts < (SELECT t FROM cutoff)
    GROUP BY c.user_id ORDER BY c.user_id
    """,
    tags=("streaming", "stream-stream-join", "outer", "watermark"),
)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL left-outer stream-stream join: every click pairs with purchases
    in the next 30 minutes, or emits a NULL row once the watermark proves
    no purchase can still arrive — the abandonment/attribution shape.
    Unlike the inner join, the null side is emitted by STATE EVICTION, so
    the result depends on watermark progress. With availableNow the final
    global watermark is min over the two sides of (that side's max event
    time - 30min delay) — Catalyst pushes the event-type filter below the
    watermark node, so each side tracks its own post-filter maximum — and
    a click emits unmatched iff c_ts + 30min (join range) < watermark.
    The batch comparison therefore applies the SAME deterministic cutoff
    on both sides: c_ts < least(max click, max purchase) - 60min; inside
    it, streaming and batch agree row-exactly."""
    from pyspark.sql.types import StringType, StructField, StructType

    log = _shared_log(spark, sf_dir)
    payload = StructType([StructField("event_type", StringType())])

    def typed(etype: str, alias: str) -> DataFrame:
        # withWatermark BEFORE the event-type filter: the watermark node
        # tracks max event time over rows flowing through it, and the
        # global join watermark is the MIN of the two sides — filtering
        # first would pin it to the rarer type's last event and withhold
        # every younger unmatched row.
        s = log.subscribe("events", payload_schema=payload).select(
            F.col("key").cast("long").alias(f"{alias}_user"),
            F.col("event_time").alias(f"{alias}_ts"),
            F.col("payload.event_type").alias(f"{alias}_type"),
        )
        return s.withWatermark(f"{alias}_ts", "30 minutes").filter(
            F.col(f"{alias}_type") == etype
        )

    pairs = typed("click", "c").join(
        typed("purchase", "p"),
        F.expr(
            "p_user = c_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 30 minutes"
        ),
        "left_outer",
    ).select("c_user", "c_ts", "p_ts")
    out = scratch_dir("pl_streamq_out_ssouter", sf_dir)
    run_available_now(
        pairs.writeStream.format("parquet").option("path", out).outputMode("append"),
        scratch_dir("pl_streamq_ck_ssouter", sf_dir),
        state_partitions=4,
    )
    # deterministic eviction cutoff over the events table — an artifact
    # like _events_max_us; re-scanning per call paid a whole batch job
    # for a constant
    cutoff = artifact(
        spark,
        sf_dir,
        "outer_join_cutoff",
        lambda: load_table(spark, sf_dir, "events")
        .agg(
            (
                F.least(
                    F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                    F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                )
                - F.expr("interval 60 minutes")
            ).alias("t")
        )
        .head()["t"],
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("c_ts") < F.lit(cutoff))
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count("p_ts").cast("bigint").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("p_ts")).cast("bigint").alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


@register(
    "q_stream_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
    """,
    tags=("streaming", "stream-static-join", "enrichment"),
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-static enrichment: the replayed purchase stream joins a
    broadcast static customer dimension per micro-batch (the dimension is
    re-resolvable every batch — the streaming-side pattern for slowly
    changing lookups), lands enriched rows in the sink, then a batch
    aggregate rolls them up per market segment. Stateless on the stream
    side: no watermark state, the join is map-side against the broadcast
    dim at any scale."""
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    log = _shared_log(spark, sf_dir)
    payload = StructType(
        [
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user"), "c_mktsegment"
    )
    stream = (
        log.subscribe("events", payload_schema=payload)
        .select(
            F.col("key").cast("long").alias("user"),
            F.col("payload.event_type").alias("event_type"),
            F.col("payload.value").alias("value"),
        )
        .filter(F.col("event_type") == "purchase")
        .join(F.broadcast(dim), "user")
        .select(
            "user",
            F.col("c_mktsegment").alias("segment"),
            (F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("cents"),
        )
    )
    run_available_now(
        stream.writeStream.format("memory")
        .queryName("q_stream_enrich_sink")
        .outputMode("append"),
        scratch_dir("pl_streamq_ck_enrich", sf_dir),
        no_data_batches=False,  # stateless stream-static join
    )
    return (
        spark.table("q_stream_enrich_sink")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("segment")
    )


@register(
    "q_stream_stateful_count",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_messages
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "stateful", "apply-in-pandas-with-state"),
)
def q_stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL custom stateful operator run: the replayed event stream flows
    through applyInPandasWithState (stateful_running_count — one long of
    state per key, the per-consumer progress counter shape from the
    reference's redelivery_count, PulsarApi.proto:475), update-mode
    emissions land in the sink, and the FINAL per-key state must equal
    the batch GROUP BY count exactly — custom streaming state and batch
    semantics agree, hash-checked by the driver."""
    from pulsar_lunar_spark.streaming import stateful_running_count

    log = _shared_log(spark, sf_dir)
    stream = log.subscribe("events").select(F.col("key").cast("long").alias("user_id"))
    counted = stateful_running_count(stream, "user_id")
    run_available_now(
        counted.writeStream.format("memory")
        .queryName("q_stream_stateful_sink")
        .outputMode("update"),
        scratch_dir("pl_streamq_ck_stateful", sf_dir),
        state_partitions=4,
        no_data_batches=False,  # NoTimeout state fn: trailing batch calls nothing
    )
    return (
        spark.table("q_stream_stateful_sink")
        .groupBy(F.col("key").alias("user_id"))
        .agg(F.max("running_count").cast("long").alias("n_messages"))
        .orderBy("user_id")
    )


@register(
    "q_stream_custom_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM flagged
    ), agg AS (
        SELECT user_id,
               MIN(ts) AS st, MAX(ts) AS en,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id, STRFTIME(st, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           n_events, total_cents
    FROM agg
    WHERE en < (SELECT MAX(ts) - INTERVAL 60 MINUTE FROM events)
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "stateful", "session", "event-time-timeout"),
)
def q_stream_custom_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful sessionization with EVENT-TIME TIMEOUT
    (applyInPandasWithState): mid-stream sessions close in-batch when the
    next event's gap is >= 30 min, and each key's final session is closed
    by the state-expiry path — the timeout fires once the watermark
    passes last_event + gap. Sessions whose last event is younger than
    max(ts) - watermark(30m) - gap(30m) may still be open at end of
    stream, so both sides apply that deterministic cutoff; inside it,
    the custom operator matches the batch gaps-and-islands twin
    row-exactly (n_events AND exact cent sums)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    log = _shared_log(spark, sf_dir)
    payload = StructType([StructField("value", DoubleType())])
    stream = log.subscribe("events", payload_schema=payload).select(
        F.col("key").alias("user_id"),
        F.col("event_time").alias("ts"),
        F.col("payload.value").alias("value"),
    )
    sessions = stateful_sessionize(stream, "user_id", "ts", "value", gap_s=1800)
    out = scratch_dir("pl_streamq_out_customsession", sf_dir)
    run_available_now(
        sessions.writeStream.format("parquet").option("path", out).outputMode("append"),
        scratch_dir("pl_streamq_ck_customsession", sf_dir),
        # python-stateful ops invert the usual rule: wall-clock is bound
        # by PYTHON WORKER parallelism over per-key group overhead, not
        # state-store IO — 16 partitions measured ~25% faster than 4
        state_partitions=16,
    )
    cutoff_us = _events_max_us(spark, sf_dir) - 3600 * 1_000_000
    return (
        spark.read.parquet(out)
        .filter(F.col("end_us") < F.lit(cutoff_us))
        .select(
            "user_id",
            F.date_format(
                F.timestamp_micros(F.col("start_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("session_start"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("total_cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "q_stream_backpressure",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_messages, TRUE AS multi_batch
    FROM events
    """,
    tags=("streaming", "flow-control", "backpressure"),
)
def q_stream_backpressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL rate-limited consumption — the credit-based flow permits of
    CommandFlow (/root/reference/src/PulsarApi.proto:523-529) as source
    rate limiting: maxFilesPerTrigger forces the availableNow drain to
    span MULTIPLE micro-batches, and the oracle pins (a) not one message
    lost or duplicated across batch boundaries and (b) that throttling
    actually produced >= 2 non-empty batches (the multi_batch flag)."""
    log = _shared_log(spark, sf_dir)
    stream = log.subscribe(
        "events", max_files_per_trigger=_files_per_trigger(log, "events", 4)
    ).select("sequence_id")
    out = scratch_dir("pl_streamq_out_backpressure", sf_dir)
    q = run_available_now(
        stream.writeStream.format("parquet").option("path", out).outputMode("append"),
        scratch_dir("pl_streamq_ck_backpressure", sf_dir),
        no_data_batches=False,  # stateless paced drain; batch count ignores 0-row batches
    )
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    return local_rows(
        spark,
        [(spark.read.parquet(out).count(), n_batches >= 2)],
        "n_messages long, multi_batch boolean",
    )


@register(
    "q_compressed_topic",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_messages,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
           TRUE AS compressed_smaller
    FROM events
    """,
    tags=("messaging", "compression"),
)
def q_compressed_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload compression on the wire/log — CompressionType
    (/root/reference/src/PulsarApi.proto:81-87, validation
    src/entity/producer.rs:325-348): the same events produce into an
    uncompressed and a zstd topic; the read-back counts must match the
    source exactly (lossless codec) and the zstd topic's on-disk bytes
    must be strictly smaller (the flag a wrong codec config flips)."""
    # the two probe topics are a deterministic function of the input (an
    # artifact), and re-producing both per bench rep doubled the query's
    # wall-clock
    def produce(root: str) -> None:
        log = MessageLog(spark, root)
        e = load_table(spark, sf_dir, "events")
        for topic, codec in (("plain", "uncompressed"), ("packed", "zstd")):
            log.produce(
                e,
                topic=topic,
                payload_cols=["event_id", "event_type", "value"],
                key="user_id",
                sequence_id="event_id",
                publish_time="ts",
                compression=codec,
            )

    probe = MessageLog(
        spark, artifact_dir(spark, sf_dir, "pl_streamq_compress_probe", produce)
    )

    def _bytes(topic: str) -> int:
        root = probe.topic_path(topic)
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    back = probe.read("packed")
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_messages"),
        F.countDistinct(F.col("key").cast("long")).cast("bigint").alias("n_keys"),
        F.lit(_bytes("packed") < _bytes("plain")).alias("compressed_smaller"),
    )


@register(
    "q_topics_metadata",
    oracle="""
    SELECT 'events' AS topic,
           CAST(COUNT(*) AS BIGINT) AS n_messages,
           CAST(MAX(event_id) AS BIGINT) AS last_sequence_id,
           TRUE AS listed
    FROM events
    """,
    tags=("messaging", "metadata", "topics"),
)
def q_topics_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Namespace metadata surface, driver-checked: GetTopicsOfNamespace
    (topic listing with regex filter) + GetLastMessageId (newest
    position = max (publish_time, sequence_id)) against the shared
    events topic; the last sequence id must equal the batch MAX exactly
    (the produce stamps sequence_id from event_id)."""
    log = _shared_log(spark, sf_dir)
    listed = "events" in log.topics(pattern=r"^ev.*")
    # message_id struct per SURVEY §1.4: entry_id carries the sequence id
    last = log.last_message_id("events")
    n = log.read("events").count()
    return local_rows(
        spark,
        [("events", n, int(last["entry_id"]), listed)],
        "topic string, n_messages long, last_sequence_id long, listed boolean",
    )


@register(
    "q_multi_topic_read",
    oracle="""
    SELECT 'events.' || event_type AS topic,
           CAST(COUNT(*) AS BIGINT) AS n_messages,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
           CAST(MAX(event_id) AS BIGINT) AS last_sequence_id
    FROM events
    GROUP BY 1 ORDER BY topic
    """,
    tags=("messaging", "multi-topic", "pattern"),
)
def q_multi_topic_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern (multi-topic) subscription — Pulsar's topicsPattern
    consumer: events are produced into one topic per event_type
    ('events.click', 'events.purchase', ...), then ONE read_pattern scan
    over the regex '^events\\.' unions every matching topic's envelope log
    and demultiplexes by the envelope's own topic column. Per-topic
    counts, key cardinality, and last sequence id must all match the
    source exactly — a lost or double-read topic breaks the hash.

    Scale: the union is a multi-source parquet scan (each topic brings
    its own file splits, no shuffle before the final demux aggregate)."""
    # the per-type topics are a deterministic function of the input table —
    # produced once as an artifact; every rep replays the same directory
    def produce(root: str) -> None:
        log = MessageLog(spark, root)
        e = load_table(spark, sf_dir, "events")
        types = [r["event_type"] for r in e.select("event_type").distinct().collect()]
        for etype in types:
            log.produce(
                e.filter(F.col("event_type") == etype),
                topic=f"events.{etype}",
                payload_cols=["event_id", "event_type", "value"],
                key="user_id",
                sequence_id="event_id",
                publish_time="ts",
            )

    probe = MessageLog(
        spark, artifact_dir(spark, sf_dir, "pl_streamq_multitopic_probe", produce)
    )
    back = probe.read_pattern(r"^events\.")
    return (
        back.groupBy("topic")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_messages"),
            F.countDistinct(F.col("key").cast("long")).cast("bigint").alias("n_keys"),
            F.max("sequence_id").cast("bigint").alias("last_sequence_id"),
        )
        .orderBy("topic")
    )


@register(
    "q_stream_cdc_apply",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, ts,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN event_id % 13 = 0 THEN 'd' ELSE 'u' END AS op,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS last_event_id,
           cents AS last_cents
    FROM ranked WHERE rn = 1 AND op = 'u'
    ORDER BY user_id
    """,
    tags=("streaming", "cdc", "merge", "foreachBatch"),
)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the foreachBatch MERGE that keeps a keyed
    serving table in sync with a change stream (upserts + tombstone
    deletes; every 13th sequence id is a delete). Each micro-batch flows
    through maintenance.cdc_apply: per-key highest (event-time,
    sequence-id) wins, a winning delete removes the key, version
    precedence makes replayed/out-of-order batches harmless. The final
    table must equal the batch latest-per-key view minus deleted keys —
    streaming maintenance and batch semantics agree row-exactly.

    Scale: each apply is one union + per-key max-struct aggregate over
    (target + batch); bucketing the target by the key removes its side
    of the shuffle. State lives in the TABLE, not the stream — no
    watermark state at all."""
    from pulsar_lunar_spark.operators.maintenance import cdc_apply, cdc_live
    from pyspark.sql.types import DoubleType, StructField, StructType

    log = _shared_log(spark, sf_dir)
    payload = StructType([StructField("value", DoubleType())])
    changes = log.subscribe("events", payload_schema=payload).select(
        F.col("key").cast("long").alias("user_id"),
        F.unix_micros(F.col("event_time")).alias("ts_us"),
        F.col("sequence_id").alias("event_id"),
        F.floor(F.col("payload.value") * 100 + 0.5).cast("long").alias("cents"),
        F.when(F.col("sequence_id") % 13 == 0, F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
    )
    target = scratch_dir("pl_streamq_out_cdc_target", sf_dir)

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        # version_cols ends in event_id — UNIQUE per row — so cdc_apply's
        # max_by comparator can never tie and the apply is fully
        # deterministic across runs (cdc_apply's documented requirement;
        # ts_us alone would tie for same-microsecond changes)
        cdc_apply(
            bdf.sparkSession,
            target,
            bdf,
            key_cols=["user_id"],
            version_cols=["ts_us", "event_id"],
            op_col="op",
        )

    run_available_now(
        changes.writeStream.foreachBatch(apply_batch),
        scratch_dir("pl_streamq_ck_cdcapply", sf_dir),
        no_data_batches=False,  # stateless apply: the table is the state
    )
    return (
        cdc_live(spark, target)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("cents").alias("last_cents"),
        )
        .orderBy("user_id")
    )


@register(
    "q_stream_observed_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_messages,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(MAX(event_id) AS BIGINT) AS max_seq,
           TRUE AS multi_batch
    FROM events
    """,
    tags=("streaming", "observability", "consumer-stats"),
)
def q_stream_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch consumer stats via observed metrics — the engine's
    CommandConsumerStats surface (/root/reference/src/PulsarApi.proto:479-802
    command family): counts/sums/max-position aggregated ON the flowing
    stream itself (zero extra passes, no sink materialization — the sink
    is the no-op writer) and read from each batch's progress events. The
    drain is throttled to >=2 micro-batches, and the PER-BATCH stats must
    compose to the exact batch totals: sum of per-batch counts = table
    count, sum of per-batch cent-sums = table sum, max of per-batch max
    positions = the last message id — not one message lost, duplicated,
    or double-counted across batch boundaries."""
    from pulsar_lunar_spark.streaming.ops import observe_stats
    from pyspark.sql.types import DoubleType, StructField, StructType

    log = _shared_log(spark, sf_dir)
    payload = StructType([StructField("value", DoubleType())])
    stream = log.subscribe(
        "events",
        payload_schema=payload,
        max_files_per_trigger=_files_per_trigger(log, "events", 3),
    ).select(
        F.floor(F.col("payload.value") * 100 + 0.5).cast("long").alias("cents"),
        "sequence_id",
    )
    obs = observe_stats(
        stream,
        "consumer_stats",
        n=F.count(F.lit(1)),
        cents=F.sum("cents"),
        max_seq=F.max("sequence_id"),
    )
    q = run_available_now(
        obs.writeStream.format("noop"),
        scratch_dir("pl_streamq_ck_observed", sf_dir),
        no_data_batches=False,  # metrics ride data batches only
    )
    n_messages = total_cents = 0
    max_seq = None
    n_batches = 0
    for p in q.recentProgress:
        m = p.get("observedMetrics", {}).get("consumer_stats")
        if m is None:
            continue
        d = m.asDict() if hasattr(m, "asDict") else dict(m)
        if not d.get("n"):
            continue
        n_batches += 1
        n_messages += d["n"]
        total_cents += d["cents"]
        max_seq = d["max_seq"] if max_seq is None else max(max_seq, d["max_seq"])
    return local_rows(
        spark,
        [(n_messages, total_cents, max_seq, n_batches >= 2)],
        "n_messages long, total_cents long, max_seq long, multi_batch boolean",
    )


@register(
    "q_incremental_mv",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "materialized-view", "incremental-refresh"),
)
def q_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from a stream: the
    replayed event stream is throttled into >=2 micro-batches, and each
    batch refreshes a persisted per-user (count, cents) aggregate via
    maintenance.incremental_agg_refresh — the distributive-aggregate
    identity AGG(base ∪ delta) = AGG(AGG(base) ∪ AGG(delta)), so each
    refresh costs O(delta + |view|) and NEVER rescans the base. The
    final stored view must equal the batch GROUP BY exactly — which
    proves the identity composes across real micro-batch deltas.

    Scale: this is how a 100 TB fact table keeps a serving aggregate
    fresh — the stream carries deltas, the view is the state, and the
    refresh shuffle is keyed on the view's own grain."""
    from pulsar_lunar_spark.operators.maintenance import incremental_agg_refresh
    from pyspark.sql.types import DoubleType, StructField, StructType

    log = _shared_log(spark, sf_dir)
    payload = StructType([StructField("value", DoubleType())])
    stream = log.subscribe(
        "events",
        payload_schema=payload,
        max_files_per_trigger=_files_per_trigger(log, "events", 3),
    ).select(
        F.col("key").cast("long").alias("user_id"),
        F.floor(F.col("payload.value") * 100 + 0.5).cast("long").alias("cents"),
    )
    mv = scratch_dir("pl_streamq_out_mv", sf_dir)

    def refresh(bdf: DataFrame, batch_id: int) -> None:
        incremental_agg_refresh(
            bdf.sparkSession, mv, bdf, ["user_id"], count_col="n", sum_cols=("cents",)
        )

    run_available_now(
        stream.writeStream.foreachBatch(refresh),
        scratch_dir("pl_streamq_ck_incmv", sf_dir),
        no_data_batches=False,  # stateless refresh: the view is the state
    )
    return (
        spark.read.parquet(mv)
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n"),
            F.col("cents").cast("bigint").alias("cents"),
        )
        .orderBy("user_id")
    )


@register(
    "q_txn_sink",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents,
           TRUE AS multi_batch,
           TRUE AS replay_skipped
    FROM events
    """,
    tags=("streaming", "txn", "exactly-once", "foreachBatch"),
)
def q_txn_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once transactional sink: the stream is throttled into >=2
    micro-batches and written through idempotent_foreach_batch (the
    engine-side twin of the broker's txn command set, reference
    src/PulsarApi.proto:705-802, and sequence-id dedup, proto:577-579).
    After the drain, every committed batch is REPLAYED through the same
    sink function — Structured Streaming's at-least-once delivery of the
    in-flight batch after a failure — and the commit ledger must swallow
    every replay: the sink still holds each message exactly once (count,
    distinct-count, and cent-sum all equal the batch table), the ledger
    has one marker per batch, and zero rows were added by the replays.

    Scale: the ledger is O(batches) tiny markers (a transactional table
    at scale, same contract); the sink write is the stream's own
    parallelism — nothing here is per-row driver work."""
    from pulsar_lunar_spark.streaming.ops import idempotent_foreach_batch
    from pyspark.sql.types import DoubleType, StructField, StructType

    log = _shared_log(spark, sf_dir)
    payload = StructType([StructField("value", DoubleType())])
    stream = log.subscribe(
        "events",
        payload_schema=payload,
        max_files_per_trigger=_files_per_trigger(log, "events", 2),
    ).select(
        F.col("sequence_id").alias("event_id"),
        F.floor(F.col("payload.value") * 100 + 0.5).cast("long").alias("cents"),
    )
    sink = scratch_dir("pl_streamq_out_txn_sink", sf_dir)
    ledger = scratch_dir("pl_streamq_out_txn_ledger", sf_dir)
    fn = idempotent_foreach_batch(
        lambda df: df.write.mode("append").parquet(sink), ledger
    )
    run_available_now(
        stream.writeStream.foreachBatch(fn),
        scratch_dir("pl_streamq_ck_txn", sf_dir),
        no_data_batches=False,  # stateless sink: the ledger is the state
    )
    committed = sorted(
        int(f.split("-")[1].split(".")[0])
        for f in os.listdir(ledger)
        if f.endswith(".committed")
    )
    n_before = spark.read.parquet(sink).count()
    # Replay every committed batch (the failure-recovery path): each call
    # must hit the ledger and skip the write.
    replay_df = spark.read.parquet(sink)
    for bid in committed:
        fn(replay_df, bid)
    sunk = spark.read.parquet(sink)
    n_after = sunk.count()
    markers_after = sum(1 for f in os.listdir(ledger) if f.endswith(".committed"))
    return sunk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("event_id").cast("bigint").alias("n_distinct"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.lit(len(committed) >= 2).alias("multi_batch"),
        F.lit(n_after == n_before and markers_after == len(committed)).alias(
            "replay_skipped"
        ),
    )


@register(
    "q_dlq_routing",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(2 AS INT) AS redelivery_count
    FROM events WHERE value > 190.0 AND event_id < 20000
    ORDER BY event_id
    """,
    tags=("streaming", "dlq", "redelivery", "foreachBatch"),
)
def q_dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing with a persistent redelivery ledger
    (DeadLetterPolicy, reference src/entity/consumer.rs:71-77; the
    broker's per-consumer redelivery counter, PulsarApi.proto:475).
    Poison messages (value > 190) are delivered three times — three
    fresh-checkpoint drains of the same topic sharing one retry ledger:

    - delivery 1: attempts=1 < max_redeliver=2 -> withheld (the source
      re-serves unacked data), count persisted;
    - delivery 2: attempts reaches 2 -> dead-lettered with its TRUE
      redelivery_count and marked retired;
    - delivery 3: retired -> dropped.

    The DLQ table must hold each poison message EXACTLY once with
    redelivery_count=2 — not zero times (lost), not twice (re-lettered
    on redelivery). Scale: the ledger holds only poison keys (tiny at
    any stream volume) and broadcasts into the batch join; routing is
    pure DataFrame ops, no driver-side row work."""
    from pulsar_lunar_spark.streaming.ops import foreach_batch_with_dlq
    from pyspark.sql.types import DoubleType, StructField, StructType

    # dedicated probe topic, produced once as an artifact: the router's
    # work is per-poison-key, and draining the full 100k-message topic
    # three times would measure the file source, not the DLQ ledger. The
    # slice keeps both paths flowing (good rows + every poison row among
    # the first 20k ids) and the oracle applies the same slice.
    def produce(root: str) -> None:
        e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
        MessageLog(spark, root).produce(
            e,
            topic="events",
            payload_cols=["value"],
            key="user_id",
            event_time="ts",
            sequence_id="event_id",
            publish_time="ts",
        )

    log = MessageLog(spark, artifact_dir(spark, sf_dir, "pl_streamq_dlqprobe", produce))
    payload = StructType([StructField("value", DoubleType())])
    dlq_dir = scratch_dir("pl_streamq_out_dlq", sf_dir)
    retry_dir = scratch_dir("pl_streamq_out_dlq_ledger", sf_dir)
    fn = foreach_batch_with_dlq(
        process=lambda df: None,  # good-path exactly-once is q_txn_sink's job
        is_poison=F.col("payload.value") > 190.0,
        dlq_writer=lambda df: df.write.mode("append").parquet(dlq_dir),
        max_redeliver=2,
        retry_ledger_dir=retry_dir,
    )
    for delivery in range(3):
        stream = log.subscribe("events", payload_schema=payload)
        if delivery > 0:
            # Redelivery serves ONLY unacked messages (the broker re-serves
            # what delivery 1 withheld): a broadcast semi-join against the
            # ledger's key set — which keeps retired keys, so the router's
            # retired->dropped path is still exercised on delivery 3. A full
            # re-drain would re-scan the whole topic to route the same few
            # hundred poison keys.
            with open(os.path.join(retry_dir, "_LATEST")) as f:
                v = int(f.read().strip())
            unacked = spark.read.parquet(os.path.join(retry_dir, f"v={v}")).select(
                F.col("mkey").alias("__redeliver_key")
            )
            stream = stream.join(
                F.broadcast(unacked),
                stream["sequence_id"].cast("string") == F.col("__redeliver_key"),
                "left_semi",
            )
        run_available_now(
            stream.writeStream.foreachBatch(fn),
            scratch_dir(f"pl_streamq_ck_dlq{delivery}", sf_dir),
            no_data_batches=False,  # stateless routing: the ledger is the state
        )
    return (
        spark.read.parquet(dlq_dir)
        .select(
            F.col("sequence_id").cast("bigint").alias("event_id"),
            F.col("redelivery_count").cast("int").alias("redelivery_count"),
        )
        .orderBy("event_id")
    )


@register(
    "q_stream_psi_drift",
    oracle="""
    WITH b AS (
        SELECT LEAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // 6400, 7)
                   AS bucket,
               event_id % 2 AS side
        FROM events
    ), spine AS (
        SELECT CAST(i AS BIGINT) AS bucket FROM RANGE(8) AS t(i)
    ), counts AS (
        SELECT s.bucket,
               CAST(COALESCE(SUM(CASE WHEN b.side = 0 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_base,
               CAST(COALESCE(SUM(CASE WHEN b.side = 1 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_cur
        FROM spine s LEFT JOIN b ON b.bucket = s.bucket
        GROUP BY s.bucket
    ), shares AS (
        SELECT bucket, n_base, n_cur,
               CAST((1000000 * (n_base + 1))
                    // (CAST(SUM(n_base) OVER () AS BIGINT) + 8) AS BIGINT)
                   AS p_ppm,
               CAST((1000000 * (n_cur + 1))
                    // (CAST(SUM(n_cur) OVER () AS BIGINT) + 8) AS BIGINT)
                   AS q_ppm
        FROM counts
    ), contrib AS (
        SELECT bucket, n_base, n_cur, p_ppm, q_ppm,
               CAST(FLOOR((p_ppm - q_ppm)
                          * LN(CAST(p_ppm AS DOUBLE) / CAST(q_ppm AS DOUBLE))
                          + 0.5) AS BIGINT) AS psi_contrib_micro
        FROM shares
    )
    SELECT bucket, n_base, n_cur, p_ppm, q_ppm, psi_contrib_micro,
           CAST(SUM(psi_contrib_micro) OVER () AS BIGINT) AS psi_total_micro
    FROM contrib ORDER BY bucket
    """,
    tags=("streaming", "llm", "drift", "psi", "monitoring"),
)
def q_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitor: the live traffic slice (odd event_ids)
    flows through a real availableNow stream into a complete-mode
    value-bucket count, then its distribution is PSI-compared against
    the static baseline profile (even event_ids, batch-read) — the
    streaming twin of q_psi_drift, and the shape a production monitor
    runs: profile once, stream the current window's counts, alarm on
    PSI. The drained stream's bucket counts hash-match the batch twin
    exactly (availableNow is a deterministic drain), so the oracle is
    plain SQL over events.

    Buckets are cents-integer arithmetic AFTER one float floor
    (FLOOR(value*100+0.5) — the streaming family's cents discipline, so
    the envelope JSON round-trip cannot perturb bucket edges); shares
    and PSI follow q_psi_drift's Laplace-smoothed ppm/micro-floor form.

    Plan: streaming side = subscribe → filter → 8-bucket complete-mode
    count (one shuffle, 4 state partitions); batch side = one scan into
    the same 8-bucket aggregate; PSI math on 8-row frames. At 100 TB the
    monitor's state is 8 rows regardless of traffic."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    log = _shared_log(spark, sf_dir)
    payload = StructType([StructField("value", DoubleType())])
    bucket_of = lambda col: F.least(  # noqa: E731
        F.expr(f"CAST(FLOOR({col} * 100 + 0.5) AS BIGINT) div 6400"), F.lit(7)
    )
    stream = (
        log.subscribe("events", payload_schema=payload)
        .filter(F.col("sequence_id") % 2 == 1)
        .select(bucket_of("payload.value").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cur"))
    )
    run_available_now(
        stream.writeStream.format("memory")
        .queryName("q_stream_psi_sink")
        .outputMode("complete"),
        scratch_dir("pl_streamq_ck_psidrift", sf_dir),
        state_partitions=4,
        no_data_batches=False,  # complete-mode agg
    )
    cur = spark.table("q_stream_psi_sink")
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 0)
        .select(bucket_of("value").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_base"))
    )
    spine = spark.range(8).select(F.col("id").cast("long").alias("bucket"))
    counts = (
        spine.join(base, "bucket", "left")
        .join(cur, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    shares = counts.select(
        "bucket", "n_base", "n_cur",
        F.expr("(1000000 * (n_base + 1)) div (SUM(n_base) OVER () + 8)")
        .cast("long")
        .alias("p_ppm"),
        F.expr("(1000000 * (n_cur + 1)) div (SUM(n_cur) OVER () + 8)")
        .cast("long")
        .alias("q_ppm"),
    )
    contrib = shares.select(
        "bucket", "n_base", "n_cur", "p_ppm", "q_ppm",
        F.expr(
            "CAST(FLOOR((p_ppm - q_ppm)"
            " * LN(CAST(p_ppm AS DOUBLE) / CAST(q_ppm AS DOUBLE))"
            " + 0.5) AS BIGINT)"
        ).alias("psi_contrib_micro"),
    )
    return contrib.select(
        "bucket", "n_base", "n_cur", "p_ppm", "q_ppm", "psi_contrib_micro",
        F.expr("SUM(psi_contrib_micro) OVER ()")
        .cast("long")
        .alias("psi_total_micro"),
    ).orderBy("bucket")


@register(
    "q_state_store_read",
    oracle="""
    SELECT p.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS state_matches_batch,
           TRUE AS metadata_ok
    FROM (SELECT event_type FROM events) p
    GROUP BY p.event_type ORDER BY p.event_type
    """,
    tags=("streaming", "state-store", "observability", "spark4"),
)
def q_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 state-store DATA SOURCE: after a real availableNow drain
    of a complete-mode per-type count, the query's internal state is read
    BACK as a batch table (``format("statestore")``) and released as the
    result — the state-debugging surface an operator uses to inspect a
    live aggregation without touching its sink. The companion
    ``state-metadata`` read asserts the operator inventory (one
    stateStoreSave operator, the pinned partition count). Counts come
    from the STATE ROWS, not the sink — the oracle's plain batch
    aggregate hash-matching them proves the store holds exactly the
    stream's truth (state rows materialize per shuffle partition and the
    read fans out per partition, so at 100 TB this reads like any other
    partitioned table).

    Flags: state_matches_batch pins the statestore-vs-sink identity
    engine-side; metadata_ok pins the state-metadata inventory (operator
    name, partition count >= 1, maxBatchId >= 0). DuckDB emits literal
    TRUE for both (the flag-oracle discipline for engine-specific
    surfaces)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    log = _shared_log(spark, sf_dir)
    payload = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = log.subscribe("events", payload_schema=payload)
    # Project the grouping key as a REAL column before groupBy: a state
    # key built from an aliased grouping EXPRESSION is stored under the
    # internal name `_groupingexpression`, which the statestore reader
    # then exposes — the projected column keeps the state schema named.
    typed = stream.select(F.col("payload.event_type").alias("event_type"))
    counts = typed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ckpt = scratch_dir("pl_streamq_ck_statestore", sf_dir)
    run_available_now(
        counts.writeStream.format("memory").queryName(
            "pl_state_store_read"
        ).outputMode("complete"),
        ckpt,
        state_partitions=8,
        no_data_batches=False,  # complete-mode agg: no eviction semantics
    )
    # The state VALUE struct carries the aggregation buffer's physical
    # field name (`count`), not the query-level alias — the reader
    # exposes the checkpoint's truth, not the analyzed plan's.
    state = (
        spark.read.format("statestore")
        .load(ckpt)
        .select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("long").alias("n_events"),
        )
    )
    sink_rows = {
        r["event_type"]: r["n"]
        for r in spark.sql("SELECT * FROM pl_state_store_read").collect()
    }
    state_rows = {r["event_type"]: r["n_events"] for r in state.collect()}
    state_matches = state_rows == sink_rows
    md = spark.read.format("state-metadata").load(ckpt).collect()
    metadata_ok = (
        len(md) == 1
        and md[0]["operatorName"] == "stateStoreSave"
        and md[0]["numPartitions"] == 8
        and md[0]["maxBatchId"] >= 0
    )
    return (
        state.select(
            "event_type",
            "n_events",
            F.lit(bool(state_matches)).alias("state_matches_batch"),
            F.lit(bool(metadata_ok)).alias("metadata_ok"),
        )
        .orderBy("event_type")
    )
