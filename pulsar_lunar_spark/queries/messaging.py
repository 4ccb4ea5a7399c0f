"""Messaging-layer queries: envelope serde round-trip, key routing,
compacted/delayed-delivery views (SURVEY §1.4, §2C) — oracle-checked by
computing the same answer directly from the source table (a round-trip is
correct iff it is invisible to downstream aggregation).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from pulsar_lunar_spark.functions.envelope import decode_payload, to_envelope
from pulsar_lunar_spark.session import artifact_dir, load_table
from pulsar_lunar_spark.sources.log import MessageLog
from pulsar_lunar_spark.queries.registry import register

_EVENT_PAYLOAD = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


@register(
    "q_envelope_roundtrip",
    oracle="""
    SELECT 'events.' || event_type AS topic,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS total_value,
           COUNT(DISTINCT user_id) AS n_keys
    FROM events
    GROUP BY 1
    ORDER BY topic
    """,
    tags=("messaging", "serde"),
)
def q_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed rows -> envelope (JSON payload bytes, key routing, event-time)
    -> decode -> aggregate. Matches direct aggregation iff serde round-trips
    losslessly (the reference's golden codec round-trip pattern,
    /root/reference/src/message/codec.rs:254-310, lifted to the engine)."""
    e = load_table(spark, sf_dir, "events")
    env = to_envelope(
        e,
        topic=F.concat(F.lit("events."), F.col("event_type")),
        payload_cols=["event_id", "event_type", "value", "props"],
        key="user_id",
        event_time="ts",
        sequence_id="event_id",
        publish_time="ts",
    )
    decoded = decode_payload(env, _EVENT_PAYLOAD)
    return (
        decoded.select(
            "topic",
            F.col("key"),
            F.col("payload.value").alias("value"),
        )
        .groupBy("topic")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.countDistinct("key").alias("n_keys"),
        )
        .orderBy("topic")
    )


@register(
    "q_envelope_partition_routing",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
           TRUE AS partitions_in_range,
           TRUE AS one_partition_per_key,
           TRUE AS balanced
    FROM events
    """,
    tags=("messaging", "routing"),
)
def q_envelope_partition_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-hash partition routing (Pulsar partitioned-topic router,
    /root/reference/src/entity/producer.rs:295-312). The partition ids
    come from Spark's murmur3 hash (no SQL twin), so the oracle checks the
    router's CONTRACT instead: exact message/key totals plus booleans —
    all partitions within [0, 8), every key routed to exactly one
    partition, and key load balanced across partitions (max keys per
    partition <= 4x mean). A routing bug flips a flag and turns the row
    red."""
    e = load_table(spark, sf_dir, "events")
    env = to_envelope(
        e,
        topic="events",
        payload_cols=["event_id"],
        key="user_id",
        event_time="ts",
        sequence_id="event_id",
        publish_time="ts",
    )
    per_key = (
        env.select(F.col("message_id.partition").alias("partition"), "key")
        .groupBy("key")
        .agg(
            F.countDistinct("partition").alias("n_parts"),
            F.first("partition").alias("partition"),
            F.count(F.lit(1)).alias("n_msgs"),
        )
    )
    per_part = per_key.groupBy("partition").agg(
        F.count(F.lit(1)).alias("keys_in_part"), F.sum("n_msgs").alias("msgs_in_part")
    )
    return per_part.agg(
        F.sum("msgs_in_part").cast("bigint").alias("n_msgs"),
        F.sum("keys_in_part").cast("bigint").alias("n_keys"),
        ((F.min("partition") >= 0) & (F.max("partition") < 8)).alias("partitions_in_range"),
        F.lit(True).alias("one_partition_per_key"),  # refined below
        (F.max("keys_in_part") <= 4 * F.avg("keys_in_part")).alias("balanced"),
    ).crossJoin(
        per_key.agg((F.max("n_parts") == 1).alias("__opk"))
    ).select(
        "n_msgs",
        "n_keys",
        "partitions_in_range",
        F.col("__opk").alias("one_partition_per_key"),
        "balanced",
    )


@register(
    "q_delayed_delivery",
    oracle="""
    SELECT event_id,
           STRFTIME(ts + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S.%f') AS deliver_at
    FROM events
    WHERE event_type = 'error'
      AND ts + INTERVAL 1 HOUR <= TIMESTAMP '2024-01-15 00:00:00'
    ORDER BY event_id
    """,
    tags=("messaging", "delayed"),
)
def q_delayed_delivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delayed delivery (deliver_at_time, /root/reference/src/PulsarApi.proto:126):
    messages become visible only once deliver_at <= batch time (§2C)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    deliver_at = F.col("ts") + F.expr("INTERVAL 1 HOUR")
    batch_time = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return (
        e.select("event_id", deliver_at.alias("deliver_at_ts"))
        .filter(F.col("deliver_at_ts") <= batch_time)
        .select(
            "event_id",
            F.date_format("deliver_at_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("deliver_at"),
        )
        .orderBy("event_id")
    )


@register(
    "q_chunked_reassembly",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_messages,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS total_len,
           CAST(COUNT(*) AS BIGINT) AS n_exact
    FROM events
    """,
    tags=("messaging", "chunking"),
)
def q_chunked_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked-message reassembly (PulsarApi.proto:143-145 uuid/chunk_id/
    num_chunks): each payload is split into 3 chunks, shipped as separate
    rows, then reassembled by (uuid) with sort_array(collect_list(...)).
    n_exact == n_messages proves reassembly is byte-identical. Scale:
    collect_list is bounded by num_chunks per key — state is per-message,
    never per-topic."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("uuid"), F.col("props").alias("payload")
    )

    def _chunk(i: int):
        return F.expr(
            f"substring(payload, cast({i} * ceil(length(payload)/3) as int) + 1, "
            f"cast(ceil(length(payload)/3) as int))"
        )

    chunks = e.select(
        "uuid",
        "payload",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("chunk_id"), _chunk(i).alias("chunk"))
                    for i in range(3)
                ]
            )
        ).alias("c"),
    ).select("uuid", "payload", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk").alias("chunk"))
    reassembled = (
        chunks.groupBy("uuid", "payload")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("chunk_id", "chunk"))),
                    lambda s: s["chunk"],
                ),
            ).alias("reassembled")
        )
    )
    return reassembled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_messages"),
        F.sum(F.length("reassembled")).cast("bigint").alias("total_len"),
        F.count(F.when(F.col("reassembled") == F.col("payload"), 1)).cast("bigint").alias("n_exact"),
    )


@register(
    "q_custom_source",
    oracle="""
    WITH m AS (
      SELECT i,
             CASE CAST(i % 4 AS INT) WHEN 0 THEN 'green' WHEN 1 THEN 'blue'
                  WHEN 2 THEN 'red' ELSE 'yellow' END AS color,
             'user-' || CAST(i % 16 AS INT) AS key,
             '{"name":"koo-' || i || '","color":"' ||
             CASE CAST(i % 4 AS INT) WHEN 0 THEN 'green' WHEN 1 THEN 'blue'
                  WHEN 2 THEN 'red' ELSE 'yellow' END || '"}' AS value
      FROM RANGE(0, 2000) t(i)
    )
    SELECT color, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT key) AS BIGINT) AS n_keys,
           CAST(SUM(OCTET_LENGTH(ENCODE(value))) AS BIGINT) AS total_bytes,
           CAST(MAX(i) AS BIGINT) AS max_seq
    FROM m GROUP BY color ORDER BY color
    """,
    tags=("messaging", "custom-source", "datasource-v2"),
)
def q_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource (format('pulsar_lunar'), Spark 4 Python
    Data Source API): 2000 deterministic envelope messages generated across
    4 input partitions, payloads decoded and aggregated per color. The
    DuckDB oracle reconstructs the exact same messages from RANGE() —
    hash-matching proves the source's content contract end-to-end."""
    from pulsar_lunar_spark.sources.datasource import register as register_ds

    register_ds(spark)
    df = spark.read.format("pulsar_lunar").option("rows", 2000).load()
    color = F.get_json_object(F.col("value").cast("string"), "$.color").alias("color")
    return (
        df.select(color, "key", "value", "sequence_id")
        .groupBy("color")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("key").cast("bigint").alias("n_keys"),
            F.sum(F.length("value")).cast("bigint").alias("total_bytes"),
            F.max("sequence_id").cast("bigint").alias("max_seq"),
        )
        .orderBy("color")
    )


def _seek_log(spark: SparkSession, sf_dir: str) -> MessageLog:
    """A single-partition events topic for the seek query, produced once
    as an artifact (session.artifact_dir). Single-partition so the DuckDB
    oracle needs no knowledge of Spark's key-hash router; multi-partition
    seek is covered by pytest."""

    def produce(root: str) -> None:
        MessageLog(spark, root).produce(
            load_table(spark, sf_dir, "events"),
            topic="events",
            payload_cols=["event_id", "event_type", "value"],
            key="user_id",
            event_time="ts",
            sequence_id="event_id",
            publish_time="ts",
            num_partitions=1,
        )

    return MessageLog(spark, artifact_dir(spark, sf_dir, "pulsar_lunar_seeklog", produce))


@register(
    "q_seek_message_id",
    oracle="""
    WITH s AS (SELECT MAX(event_id) // 2 AS mid FROM events)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
           CAST(MIN(event_id) AS BIGINT) AS first_seq,
           CAST(MAX(event_id) AS BIGINT) AS last_seq,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
    FROM events, s WHERE event_id > s.mid
    """,
    tags=("messaging", "seek"),
)
def q_seek_message_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seek by message id (CommandSeek by id, /root/reference/src/
    PulsarApi.proto:537-543): position the cursor AT (partition,
    sequence_id) mid-topic and read exactly the tail. The partition
    predicate prunes the __partition directory layout, so a seek on a
    100 TB topic reads one partition's tail files only."""
    log = _seek_log(spark, sf_dir)
    mid = int(log.read("events").agg(F.max("sequence_id")).first()[0]) // 2
    tail = log.replay("events", start_message_id=(0, mid))
    return tail.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        F.min("sequence_id").cast("bigint").alias("first_seq"),
        F.max("sequence_id").cast("bigint").alias("last_seq"),
        F.countDistinct("key").cast("bigint").alias("n_keys"),
    )


@register(
    "q_geo_replication",
    oracle="""
    WITH src AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_messages,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
               CAST(MAX(event_id) AS BIGINT) AS last_seq
        FROM events WHERE event_id < 3000
    )
    SELECT c.cluster, src.n_messages, src.n_keys, src.last_seq
    FROM src, (VALUES ('cluster-a'), ('cluster-b')) c(cluster)
    ORDER BY c.cluster
    """,
    tags=("messaging", "geo-replication"),
)
def q_geo_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-replication (the ``replicate_to`` field on every reference
    message, /root/reference/src/message/producer.rs:11-24): a topic is
    produced in one cluster and replicated to two replica clusters; each
    replica's message count, key cardinality, and last sequence id must
    equal the source exactly — a lost, duplicated, or reordered-id
    message in any replica breaks the hash. The replicas' registered
    schemas travel with the data (a replica consumer auto-decodes).

    Scale: replication is one distributed scan + one partitioned write
    per target cluster — no shuffle, bandwidth-bound like the broker's
    replicator."""
    import tempfile

    from pulsar_lunar_spark.session import scratch_at_exit, spool_base_dir

    root = spool_base_dir()

    # the source topic is read-only under replication, so it is produced
    # once as an artifact and reused; only the replicas are fresh per call
    def produce(src_root: str) -> None:
        MessageLog(spark, src_root).produce(
            load_table(spark, sf_dir, "events").filter(F.col("event_id") < 3000),
            topic="events",
            payload_cols=["event_id", "value"],
            key="user_id",
            sequence_id="event_id",
            publish_time="ts",
        )

    src = MessageLog(spark, artifact_dir(spark, sf_dir, "pl_georepl_src", produce))
    replicas = {
        name: MessageLog(
            spark,
            scratch_at_exit(
                tempfile.mkdtemp(prefix=f"pl_georepl_{name}_", dir=root)
            ),
        )
        for name in ("cluster-a", "cluster-b")
    }
    src.replicate_topic("events", list(replicas.values()))
    views = [
        rl.read("events").select(F.lit(name).alias("cluster"), "key", "sequence_id")
        for name, rl in replicas.items()
    ]
    from functools import reduce

    return (
        reduce(DataFrame.unionByName, views)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_messages"),
            F.countDistinct(F.col("key").cast("long")).cast("bigint").alias("n_keys"),
            F.max("sequence_id").cast("bigint").alias("last_seq"),
        )
        .orderBy("cluster")
    )


@register(
    "q_key_shared_ranges",
    oracle="""
    WITH h AS (
        SELECT CAST(CONCAT('0x', SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 65536 AS slot,
               user_id
        FROM events
    )
    SELECT CASE WHEN slot < 21845 THEN 0
                WHEN slot < 43690 THEN 1
                ELSE 2 END AS range_id,
           CAST(COUNT(*) AS BIGINT) AS n_messages,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
    FROM h GROUP BY 1 ORDER BY range_id
    """,
    tags=("messaging", "key-shared", "sticky"),
)
def q_key_shared_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STICKY Key_Shared hash ranges (KeySharedMeta,
    /root/reference/src/PulsarApi.proto:286-295): three consumers own the
    half-open slot ranges [0,21845), [21845,43690), [43690,65536) of the
    64k key-slot space; each consumer's view is a scan-level range filter
    on the key hash. The per-range message and DISTINCT-KEY counts must
    match the oracle exactly — which pins all three contract properties
    at once: the ranges are disjoint and exhaustive (message counts sum
    to the topic total) and every key is sticky to exactly one consumer
    (key counts sum to the global distinct-key count). Hash is the
    md5-prefix slot (documented deviation from Pulsar's murmur32: the
    md5 form is SQL-replicable bit-exactly; the contract is
    hash-independent).

    Scale: each consumer's plan is an independent source filter — range
    subscription fan-out costs no shuffle at any scale."""
    from functools import reduce

    from pulsar_lunar_spark.streaming import key_shared_range

    e = load_table(spark, sf_dir, "events")
    env = to_envelope(
        e,
        topic=F.lit("events.ks"),
        payload_cols=["event_id"],
        key="user_id",
        sequence_id="event_id",
        publish_time="ts",
    )
    ranges = [(0, 0, 21845), (1, 21845, 43690), (2, 43690, 65536)]
    views = [
        key_shared_range(env, "key", lo, hi).select(
            F.lit(rid).alias("range_id"), "key"
        )
        for rid, lo, hi in ranges
    ]
    return (
        reduce(DataFrame.unionByName, views)
        .groupBy("range_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_messages"),
            F.countDistinct("key").cast("bigint").alias("n_keys"),
        )
        .orderBy("range_id")
    )


@register(
    "q_topic_retention",
    oracle="""
    WITH c AS (
        SELECT MIN(EPOCH_US(ts)) + (MAX(EPOCH_US(ts)) - MIN(EPOCH_US(ts))) // 2
                   AS cut_us
        FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_remaining,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
           CAST(MIN(EPOCH_US(ts)) AS BIGINT) AS min_us_remaining,
           CAST((SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM events, c
                 WHERE CAST(ts AS DATE) < CAST(MAKE_TIMESTAMP(c.cut_us) AS DATE))
               AS BIGINT) AS partitions_dropped
    FROM events, c WHERE EPOCH_US(ts) >= c.cut_us
    """,
    tags=("messaging", "retention", "ttl"),
)
def q_topic_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic retention / message expiry (the broker's TTL policy; its
    effect is the reference's msgRateExpired consumer stat,
    /root/reference/src/PulsarApi.proto:639-640): expire everything
    published before the topic's mid-point timestamp on a
    time-partitioned probe topic. Every publish-date directory strictly
    before the cutoff DATE must be DROPPED WHOLE (no read, no rewrite —
    the count of dropped directories must equal the oracle's count of
    expired dates exactly) and only the cutoff's own day is rewritten;
    the surviving messages and the exact oldest remaining position are
    hash-checked.

    Scale: retention on a 3-year 100 TB topic touches directory metadata
    plus at most ONE day of data. Single-partition probe so directory
    count == date count (the partitioned layout multiplies dirs by the
    partition fan-out; pytest covers multi-day drops)."""
    import shutil
    import tempfile
    from datetime import datetime, timedelta

    e = load_table(spark, sf_dir, "events")
    row = e.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).head()
    cut_us = int(row["lo"]) + (int(row["hi"]) - int(row["lo"])) // 2
    cutoff = datetime(1970, 1, 1) + timedelta(microseconds=cut_us)
    # retention MUTATES the topic, so each call gets a PRIVATE copy —
    # but the pristine produce is deterministic, so it is produced once
    # as an artifact and file-copied per call (a tmpfs copytree is ~50 ms
    # where the Spark produce job is >1 s)
    def produce(root: str) -> None:
        MessageLog(spark, root).produce(
            e,
            topic="events",
            payload_cols=["event_id"],
            key="user_id",
            sequence_id="event_id",
            publish_time="ts",
            num_partitions=1,
            time_partition=True,
        )

    pristine = artifact_dir(spark, sf_dir, "pl_retention_src", produce)
    from pulsar_lunar_spark.session import scratch_at_exit

    work = tempfile.mkdtemp(prefix="pl_retention_", dir=os.path.dirname(pristine))
    scratch_at_exit(work)
    shutil.rmtree(work)
    shutil.copytree(pristine, work)
    probe = MessageLog(spark, work)
    dropped = probe.apply_retention("events", cutoff)
    back = probe.read("events")
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_remaining"),
        F.countDistinct(F.col("key").cast("long")).cast("bigint").alias("n_keys"),
        F.min(F.unix_micros("publish_time")).cast("bigint").alias("min_us_remaining"),
        F.lit(dropped).cast("bigint").alias("partitions_dropped"),
    )


@register(
    "q_individual_ack",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pending,
           CAST(MIN(event_id) AS BIGINT) AS first_seq,
           CAST(MAX(event_id) AS BIGINT) AS last_seq,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
    FROM events WHERE event_id % 3 = 0
    """,
    tags=("messaging", "ack"),
)
def q_individual_ack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse individual acknowledgment (CommandAck AckType.Individual,
    /root/reference/src/PulsarApi.proto:479-507; ack_set BitSet :57):
    ack every message whose sequence id is NOT divisible by 3 — an
    out-of-order, hole-filled ack pattern — then read the subscription's
    pending (redelivery) view: exactly the unacked third must replay.

    The ledger stores one bigint BitSet per 64-message block per
    partition (the proto's ack_set shape), so it is backlog-bounded and
    merge-by-OR idempotent (bench reps re-ack the same set harmlessly);
    the pending view is one block-key left anti join with the bit test
    as join condition — ledger side broadcast-sized for any sane
    backlog."""
    log = _seek_log(spark, sf_dir)
    env = log.read("events")
    log.ack("events", "q_individual_ack", env.filter(F.col("sequence_id") % 3 != 0))
    p = log.pending("events", "q_individual_ack")
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pending"),
        F.min("sequence_id").cast("bigint").alias("first_seq"),
        F.max("sequence_id").cast("bigint").alias("last_seq"),
        F.countDistinct("key").cast("bigint").alias("n_keys"),
    )


@register(
    "q_unsubscribe",
    oracle="""
    SELECT CAST(COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT)
               AS n_pending_before,
           CAST(COUNT(*) AS BIGINT) AS n_pending_after,
           TRUE AS dropped_state,
           TRUE AS second_drop_noop
    FROM events
    """,
    tags=("messaging", "unsubscribe"),
)
def q_unsubscribe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsubscribe (CommandUnsubscribe, /root/reference/src/
    PulsarApi.proto:531-534; demuxed at src/netflow/models.rs:23-58):
    dropping a subscription deletes its durable cursor and ack ledger,
    and the same name afterwards is a brand NEW subscription. Here: ack
    the even half of the backlog (pending = the odd half), unsubscribe,
    and verify the full backlog is pending again — plus flags for "state
    existed on first drop" and "second drop is a no-op" (the broker's
    unknown-subscription error surface). Cursor deletion (resubscribe
    drains from initialPosition) is pinned by
    tests/test_streaming.py::test_unsubscribe_resets_cursor_and_ack_ledger.
    Scale: ack-ledger writes are BitSet blocks (64 msgs/row); unsubscribe
    itself is a metadata delete, O(ledger files), never O(messages)."""
    log = _seek_log(spark, sf_dir)
    env = log.read("events")
    sub = "q_unsubscribe"
    log.ack("events", sub, env.filter(F.col("sequence_id") % 2 == 0))
    n_before = log.pending("events", sub).count()
    dropped = log.unsubscribe("events", sub)
    second = log.unsubscribe("events", sub)
    after = log.pending("events", sub)
    return after.agg(
        F.lit(n_before).cast("bigint").alias("n_pending_before"),
        F.count(F.lit(1)).cast("bigint").alias("n_pending_after"),
        F.lit(bool(dropped)).alias("dropped_state"),
        F.lit(not second).alias("second_drop_noop"),
    )


@register(
    "q_payload_integrity",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_messages,
           CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_corrupt_detected,
           TRUE AS exact_detection
    FROM events WHERE event_id < 20000
    """,
    tags=("messaging", "integrity", "crc"),
)
def q_payload_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload CRC integrity — the frame checksum the reference's decoder
    leaves as a TODO (/root/reference/src/message/codec.rs:185; Pulsar
    frames carry a crc32c over metadata+payload): the producer stamps
    properties["crc32"] at envelope time, transport corrupts a
    deterministic slice (one trailing byte appended to every 97th
    message — the smallest possible bit-rot), and the consumer's
    verify_payload_integrity must flag EXACTLY the corrupted slice:
    every corrupted message detected, zero false alarms on clean ones.
    All JVM expressions (crc32/map lookup) inside the scan's stage —
    free at 100 TB relative to the read."""
    from pulsar_lunar_spark.functions.envelope import verify_payload_integrity

    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    env = to_envelope(
        e,
        topic=F.lit("events.checked"),
        payload_cols=["event_id", "value"],
        key="user_id",
        event_time="ts",
        sequence_id="event_id",
        publish_time="ts",
        checksum=True,
    )
    corrupted = env.withColumn(
        "value",
        F.when(
            F.col("sequence_id") % 97 == 0,
            F.concat(F.col("value"), F.lit(b"\x00")),
        ).otherwise(F.col("value")),
    )
    checked = verify_payload_integrity(corrupted)
    return checked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_messages"),
        F.sum((~F.col("crc_ok")).cast("long")).cast("bigint").alias("n_corrupt_detected"),
        (
            F.sum(
                (F.col("crc_ok") != (F.col("sequence_id") % 97 != 0)).cast("long")
            )
            == 0
        ).alias("exact_detection"),
    )


@register(
    "q_payload_encryption",
    oracle="""
    SELECT 'AES/GCM/NoPadding' AS algo, 'k16-v1' AS key_name,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events WHERE event_id < 3000
    """,
    tags=("messaging", "encryption", "serde"),
)
def q_payload_encryption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end payload encryption through the envelope: encrypt the
    JSON payload bytes with JVM-side AES-GCM (F.aes_encrypt — random IV
    per row, authenticated), carry the key name + algorithm in the
    envelope ``properties`` map exactly as the reference producer passes
    encryption_keys/encryption_algo through the wire
    (/root/reference/src/message/producer.rs:43-48,
    entity/producer.rs:552-585 — the client transports the metadata; the
    cipher itself is app-level), then decrypt + decode and aggregate.
    A hash match against the plaintext oracle proves the
    encrypt->transport->decrypt path is lossless; the ciphertext itself
    is never emitted (IVs are random), only its decryption.

    Scale: both cipher directions are per-row JVM expressions inside the
    scan/shuffle pipeline — no Python, no extra exchange."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    env = to_envelope(
        e,
        topic=F.lit("events.secure"),
        payload_cols=["event_id", "value"],
        key="user_id",
        event_time="ts",
        sequence_id="event_id",
        publish_time="ts",
    )
    key = F.lit("pulsar-lunar-k16")
    sealed = env.withColumn("value", F.aes_encrypt(F.col("value"), key)).withColumn(
        "properties",
        F.create_map(
            F.lit("encryption_algo"), F.lit("AES/GCM/NoPadding"),
            F.lit("encryption_key_name"), F.lit("k16-v1"),
        ),
    )
    opened = sealed.withColumn("value", F.aes_decrypt(F.col("value"), key))
    decoded = decode_payload(
        opened,
        StructType(
            [StructField("event_id", LongType()), StructField("value", DoubleType())]
        ),
    )
    return decoded.agg(
        F.first(F.col("properties")["encryption_algo"]).alias("algo"),
        F.first(F.col("properties")["encryption_key_name"]).alias("key_name"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("payload.value"), 4).alias("total_value"),
    )
