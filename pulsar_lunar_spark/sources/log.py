"""MessageLog: a Pulsar-style topic log on Spark (SURVEY §7.3).

The reference is a client for a broker that stores partitioned, durable
message logs (topics) and serves them to named subscriptions with replay
(/root/reference/src/PulsarApi.proto: CommandSubscribe :297-353, Seek
:537-543, producer :428-486). This module realizes the same data plane
Spark-first:

- a topic = a parquet directory laid out by the envelope's ``partition``
  column (key-hash routed, SURVEY §1.4) — at scale this is the same layout
  a 1000-executor cluster would bucket/partition a log table by;
- produce() = typed rows -> envelope -> append (the reference's send path,
  producer.rs:178-231);
- subscribe() = Structured Streaming file source + a per-subscription
  checkpoint dir (subscription == durable cursor, §2C);
- read()/replay()/compacted() = batch views: full scan, time-range seek
  (CommandSeek by publish time), latest-per-key (read_compacted).

Every read of a topic, batch or streaming, uses the schema the log wrote
(``ENVELOPE_SCHEMA``; the ack ledger has ``ACK_SCHEMA``), so no read
waits on a footer-inference job before planning starts. The
``__partition``/``__pdate`` layout columns still come from the directory
names.

A real ``format("pulsar")`` connector would slot behind the same API; the
file backing is the test/bench stand-in AND a legitimate log-table design
(the "topic as table" pattern).
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from pulsar_lunar_spark.functions.envelope import (
    DEFAULT_NUM_PARTITIONS,
    ENVELOPE_SCHEMA,
    decode_payload,
    to_envelope,
)
from pulsar_lunar_spark.operators.compaction import compacted_latest_by_key
from pulsar_lunar_spark.session import replace_dir


#: One ack-ledger row: the BitSet of acked sequence ids in one
#: 64-message block of one partition.
ACK_SCHEMA = StructType(
    [
        StructField("partition", IntegerType()),
        StructField("block_id", LongType()),
        StructField("bits", LongType()),
    ]
)

#: A message's bit inside its 64-message block's BitSet.
_SEQ_BIT = "shiftleft(cast(1 as bigint), cast(pmod(sequence_id, 64) as int))"


def _safe_topic(topic: str) -> str:
    return topic.replace("/", "_").replace(":", "_")


def _decode_shape(st: StructType | None) -> list[tuple[str, str]] | None:
    """A payload schema's decode-compatibility fingerprint: field names and
    types. Nullability and metadata don't affect from_json decode, and
    payloads of one topic legitimately differ on them (e.g. one produced
    from an outer-join DataFrame)."""
    if st is None:
        return None
    return [(f.name, f.dataType.simpleString()) for f in st.fields]


class IncompatibleSchema(ValueError):
    """Producing a payload shape that conflicts with the topic's registered
    schema (the broker's IncompatibleSchema error,
    /root/reference/src/PulsarApi.proto:194)."""


class MessageLog:
    """A directory of topics; one parquet log per topic."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ----------------------------------------------------------
    def topic_path(self, topic: str) -> str:
        return os.path.join(self.root, "topics", _safe_topic(topic))

    def subscription_checkpoint(self, topic: str, subscription: str) -> str:
        """The durable cursor: one checkpoint dir per (topic, subscription) —
        Exclusive/Failover semantics fall out (one active query per dir)."""
        return os.path.join(self.root, "subscriptions", _safe_topic(topic), subscription)

    def ack_path(self, topic: str, subscription: str) -> str:
        """Ledger of individually-acked message positions for one
        (topic, subscription) — the durable sibling of the broker's
        per-cursor individually-deleted-messages range set."""
        return os.path.join(self.root, "acks", _safe_topic(topic), subscription)

    def schema_path(self, topic: str) -> str:
        return os.path.join(self.root, "schemas", _safe_topic(topic) + ".json")

    # -- schema registry (GetOrCreateSchema / GetSchema,
    #    /root/reference/src/PulsarApi.proto:672-700) ---------------------
    def register_schema(self, topic: str, payload_df: DataFrame) -> None:
        """Register (or validate against) the topic's payload schema.

        First produce registers; later produces must match field names and
        types exactly (``_decode_shape``) or raise IncompatibleSchema — the
        broker-side schema validation the reference delegates to
        (PulsarApi.proto:688-700).
        """
        new = payload_df.schema
        cur = self.get_schema(topic)
        if cur is not None:
            if _decode_shape(cur) != _decode_shape(new):
                raise IncompatibleSchema(
                    f"topic '{topic}': payload schema {new} != registered {cur}"
                )
            return
        path = self.schema_path(topic)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(json.loads(new.json()), f)

    def get_schema(self, topic: str) -> StructType | None:
        """Fetch the topic's registered payload schema (GetSchema)."""
        path = self.schema_path(topic)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return StructType.fromJson(json.load(f))

    # -- produce --------------------------------------------------------
    def produce(
        self,
        df: DataFrame,
        topic: str,
        payload_cols: Sequence[str] | None = None,
        key: str | Column | None = None,
        event_time: str | Column | None = None,
        sequence_id: str | Column | None = None,
        publish_time: str | Column | None = None,
        properties: Column | None = None,
        num_partitions: int = DEFAULT_NUM_PARTITIONS,
        time_partition: bool = False,
        compression: str | None = None,
    ) -> None:
        """Append typed rows to a topic as envelope rows.

        Physical layout: partitioned by the envelope's key-hash ``partition``
        (Pulsar's partitioned topic, discovery/mod.rs:71) — consumers of one
        partition read one directory; per-key order within a partition is
        the parquet row order, as in a Pulsar ledger. Each produce adds
        exactly one data file to every partition directory it touches:
        the shuffle hashes on ``__partition`` without a fixed count, so
        all rows of a partition meet in one write task and AQE may
        coalesce small produces into fewer tasks. The append leaves no
        ``_SUCCESS`` marker in the topic (a ``get_spark`` session
        default).

        ``time_partition=True`` additionally lays the log out by
        ``__pdate = date(publish_time)`` so time-range seeks
        (``replay(from, to)``) prune whole directories instead of scanning
        the full log — the layout a 100 TB topic needs (a seek over 1 day
        of a 3-year log reads ~0.1% of the files).

        ``compression`` selects the log codec (zstd/snappy/lz4/gzip/none —
        the reference's producer compression surface,
        /root/reference/src/message/producer.rs:52-131, applied to the
        whole columnar log instead of per-payload).
        """
        self.register_schema(topic, df.select(*(payload_cols or df.columns)))
        env = to_envelope(
            df,
            topic=topic,
            payload_cols=payload_cols,
            key=key,
            event_time=event_time,
            sequence_id=sequence_id,
            publish_time=publish_time,
            properties=properties,
            num_partitions=num_partitions,
        )
        out = env.withColumn("__partition", F.col("message_id.partition"))
        layout = ["__partition"]
        if time_partition:
            out = out.withColumn("__pdate", F.to_date("publish_time"))
            layout.append("__pdate")
        writer = (
            out.repartition("__partition")
            .sortWithinPartitions(*layout, "sequence_id")
            .write.partitionBy(*layout)
            .mode("append")
        )
        if compression is not None:
            writer = writer.option("compression", compression)
        writer.parquet(self.topic_path(topic))

    # -- consume: batch views ------------------------------------------
    def read(self, topic: str) -> DataFrame:
        """Full batch scan of a topic (envelope rows; message_id.partition is
        stored inside the struct — __partition is only the directory layout).

        The scan uses ``ENVELOPE_SCHEMA``, so building it submits no Spark
        job, and a topic directory that exists but holds no data files
        reads as an empty envelope DataFrame (a missing directory still
        raises PATH_NOT_FOUND)."""
        return self._raw(topic).drop("__partition", "__pdate")

    def read_pattern(self, pattern: str) -> DataFrame:
        """Multi-topic (regex pattern) read — Pulsar's pattern
        subscription (topicsPattern; topic listing per
        GetTopicsOfNamespace, /root/reference/src/PulsarApi.proto:656-678)
        as one unioned envelope scan. The envelope already carries its
        ``topic`` column, so consumers demultiplex by plain grouping.

        Scale shape: the union of parquet scans is a single multi-source
        read (no shuffle, no driver data) — each matching topic
        contributes its own file splits, exactly like subscribing N
        consumers would."""
        from functools import reduce

        names = self.topics(pattern)
        if not names:
            raise FileNotFoundError(f"no topics match pattern {pattern!r}")
        return reduce(DataFrame.unionByName, (self.read(t) for t in names))

    def _raw(self, topic: str) -> DataFrame:
        """Envelope rows plus the directory layout columns."""
        return self.spark.read.schema(ENVELOPE_SCHEMA).parquet(self.topic_path(topic))

    def replay(
        self,
        topic: str,
        from_publish_time: str | None = None,
        to_publish_time: str | None = None,
        start_message_id: tuple[int, int] | None = None,
        inclusive: bool = False,
    ) -> DataFrame:
        """Seek-style batch replay (CommandSeek, PulsarApi.proto:537-543 —
        the reference seeks by publish time OR by message id).

        - publish-time range: on a ``time_partition=True`` topic the
          equivalent ``__pdate`` range predicate is added so the scan
          PRUNES partitions (visible as PartitionFilters in .explain —
          asserted in tests);
        - ``start_message_id=(partition, sequence_id)``: positions the
          cursor AT that message within its partition — delivery resumes
          with the next message (Pulsar mark-delete semantics), or with
          the message itself when ``inclusive=True``. The partition
          predicate hits the ``__partition`` directory layout, so the
          seek reads exactly one partition's files at any scale.
        """
        df = self._raw(topic)
        pruned = "__pdate" in df.columns
        if from_publish_time is not None:
            df = df.filter(F.col("publish_time") >= F.lit(from_publish_time).cast("timestamp"))
            if pruned:
                df = df.filter(F.col("__pdate") >= F.to_date(F.lit(from_publish_time)))
        if to_publish_time is not None:
            df = df.filter(F.col("publish_time") < F.lit(to_publish_time).cast("timestamp"))
            if pruned:
                df = df.filter(F.col("__pdate") <= F.to_date(F.lit(to_publish_time)))
        if start_message_id is not None:
            part, seq = start_message_id
            seq_pred = (
                F.col("sequence_id") >= F.lit(seq)
                if inclusive
                else F.col("sequence_id") > F.lit(seq)
            )
            # __partition is the directory column -> partition pruning;
            # message_id.partition is the same value inside the struct.
            df = df.filter((F.col("__partition") == F.lit(part)) & seq_pred)
        return df.drop("__partition", "__pdate")

    def topics(self, pattern: str | None = None) -> list[str]:
        """List topics in this log, optionally filtered by a regex —
        GetTopicsOfNamespace (/root/reference/src/PulsarApi.proto:656-678;
        demux key src/netflow/models.rs:23-58). Names are the sanitized
        directory names (one directory per topic)."""
        base = os.path.join(self.root, "topics")
        if not os.path.isdir(base):
            return []
        names = sorted(
            d for d in os.listdir(base) if os.path.isdir(os.path.join(base, d))
        )
        if pattern is not None:
            rx = re.compile(pattern)
            names = [n for n in names if rx.search(n)]
        return names

    def last_message_id(self, topic: str):
        """Newest message position on the topic — GetLastMessageId
        (/root/reference/src/PulsarApi.proto:646-654). Returns the
        message_id struct of the max (publish_time, sequence_id) row as a
        Row, or None for an empty topic. One aggregate over the log
        (max_by keeps a single struct per partition, then one reduce)."""
        df = self.read(topic)
        row = df.agg(
            F.max_by(
                F.struct("message_id", "publish_time", "sequence_id"),
                F.struct("publish_time", "sequence_id"),
            ).alias("last")
        ).head()
        return None if row is None or row["last"] is None else row["last"]["message_id"]

    def compacted(self, topic: str) -> DataFrame:
        """read_compacted view: newest message per key (PulsarApi.proto:325)."""
        return compacted_latest_by_key(
            self.read(topic).filter(F.col("key").isNotNull()),
            ["key"],
            ["publish_time", "sequence_id"],
        )

    # -- geo-replication -----------------------------------------------
    def replicate_topic(self, topic: str, targets: Sequence["MessageLog"]) -> None:
        """Geo-replication: forward a topic's messages to replica
        clusters — the ``replicate_to`` field every reference message
        carries (/root/reference/src/message/producer.rs:11-24; the
        broker fans the message out to the named clusters).

        Emulation: each target cluster is another MessageLog root; the
        envelope log is copied preserving the partition layout and the
        registered schema, so a consumer of the replica sees
        byte-identical envelopes (same message ids, keys, payloads,
        publish times). One distributed read + one partitioned write per
        target — replication is a scan-shaped job, no shuffle."""
        env = self._raw(topic)
        layout = [c for c in ("__partition", "__pdate") if c in env.columns]
        schema = self.get_schema(topic)
        for t in targets:
            writer = env.write.mode("append")
            if layout:
                writer = writer.partitionBy(*layout)
            writer.parquet(t.topic_path(topic))
            if schema is not None and t.get_schema(topic) is None:
                os.makedirs(os.path.dirname(t.schema_path(topic)), exist_ok=True)
                with open(self.schema_path(topic)) as src, open(
                    t.schema_path(topic), "w"
                ) as dst:
                    dst.write(src.read())

    # -- retention / message expiry ------------------------------------
    def apply_retention(self, topic: str, older_than) -> int:
        """Expire messages published BEFORE ``older_than`` — the broker's
        topic retention / message-TTL policy (its effect is what
        ``msgRateExpired`` reports in the reference's consumer stats,
        /root/reference/src/PulsarApi.proto:639-640).

        On a ``time_partition=True`` topic this is the 100 TB path:
        every ``__pdate`` directory strictly before the cutoff DATE is
        DROPPED whole (no read, no rewrite — retention on a 3-year log
        touches only directory metadata), and only the cutoff's own day
        is rewritten filtered (bounded by one day of data, swapped in by
        session.replace_dir).
        On an unpartitioned topic the whole log is rewritten filtered —
        documented fallback, linear in the topic.

        Returns the number of whole partition directories dropped.
        ``older_than``: timestamp string or datetime.
        """
        import shutil
        from datetime import datetime

        cutoff = (
            datetime.fromisoformat(older_than)
            if isinstance(older_than, str)
            else older_than
        )
        path = self.topic_path(topic)
        df = self._raw(topic)
        dropped = 0
        if "__pdate" in df.columns:
            # layout is __partition=N/__pdate=D (produce partitionBy order)
            cutoff_date = cutoff.date().isoformat()
            date_dirs: list[tuple[str, str]] = []
            for root_dir, dirs, _files in os.walk(path):
                for d in dirs:
                    if d.startswith("__pdate="):
                        date_dirs.append((os.path.join(root_dir, d), d.split("=", 1)[1]))
            for full, day_str in sorted(date_dirs):
                if day_str < cutoff_date:
                    shutil.rmtree(full)
                    dropped += 1
                elif day_str == cutoff_date:
                    # the cutoff's own day: bounded partial rewrite
                    day = (
                        self.spark.read.schema(ENVELOPE_SCHEMA)
                        .parquet(full)
                        .filter(F.col("publish_time") >= F.lit(cutoff))
                    )
                    replace_dir(full, day.write.mode("overwrite").parquet)
        else:
            kept = df.filter(F.col("publish_time") >= F.lit(cutoff))
            # keep the __partition directory layout: seeks prune on it
            replace_dir(
                path, kept.write.partitionBy("__partition").mode("overwrite").parquet
            )
        return dropped

    # -- individual ack / sparse replay --------------------------------
    # CommandAck with AckType.Individual (/root/reference/src/
    # PulsarApi.proto:479-507) acknowledges single positions out of order;
    # ack_set (:57) is the BitSet marking acked indices inside a batch.
    # The emulation stores exactly that shape: one bigint BitSet per
    # 64-message block per partition, so the ledger is backlog-bounded
    # (one row covers 64 sequence ids) and merges by bitwise OR.

    def ack(self, topic: str, subscription: str, message_ids: DataFrame) -> None:
        """Individually acknowledge messages (sparse, out-of-order OK).

        ``message_ids`` is any DataFrame carrying the envelope's
        ``message_id`` struct + ``sequence_id`` (e.g. a filtered
        ``read(topic)``). Positions compact to ``ACK_SCHEMA`` rows
        (partition, block, BitSet) before the append, so an ack of N
        messages writes at most N/64 rows per partition; re-acking is a
        bitwise-OR no-op (idempotent, like the broker's range-set union)."""
        acked = (
            message_ids.select(
                F.col("message_id.partition").alias("partition"),
                F.expr("sequence_id div 64").alias("block_id"),
                F.expr(_SEQ_BIT).alias("bits"),
            )
            .groupBy("partition", "block_id")
            .agg(F.bit_or("bits").alias("bits"))
        )
        acked.to(ACK_SCHEMA).write.mode("append").parquet(self.ack_path(topic, subscription))

    def _acks(self, topic: str, subscription: str) -> DataFrame | None:
        """The raw append-only ack ledger, or None before the first ack."""
        path = self.ack_path(topic, subscription)
        if not os.path.isdir(path):
            return None
        return self.spark.read.schema(ACK_SCHEMA).parquet(path)

    def pending(self, topic: str, subscription: str) -> DataFrame:
        """The redelivery view: every message NOT individually acked on
        this subscription — acking message 3 of 1..5 replays exactly
        {1,2,4,5}.

        One left anti join against the raw ledger rows, keyed on
        (partition, sequence_id div 64) with the message's bit test as
        the join condition. A message is acked iff its bit is set in
        some ledger row of its block (the OR of a block's rows has a bit
        set iff one row has it), so no per-block fold is needed. A
        message whose partition or sequence_id is NULL matches no row
        and stays pending. The ledger side is backlog-bounded (64
        messages per row): broadcast-sized unless the backlog itself is
        huge, in which case the block-key shuffle join is the right plan
        anyway — AQE picks."""
        df = self.read(topic)
        acks = self._acks(topic, subscription)
        if acks is None:
            return df
        acked = (
            (F.col("message_id.partition") == acks["partition"])
            & (F.expr("sequence_id div 64") == acks["block_id"])
            & (acks["bits"].bitwiseAND(F.expr(_SEQ_BIT)) != 0)
        )
        return df.join(acks, acked, "left_anti")

    def compact_acks(self, topic: str, subscription: str) -> None:
        """Fold the append-only ack ledger down to one row per
        (partition, block), bit-ORing its BitSets — the cursor-ledger
        compaction the broker runs on its individually-deleted ranges.
        Safe to skip: ``pending`` gives the same set on the raw ledger;
        this just bounds the ledger's row and file count."""
        acks = self._acks(topic, subscription)
        if acks is None:
            return
        folded = acks.groupBy("partition", "block_id").agg(F.bit_or("bits").alias("bits"))
        replace_dir(
            self.ack_path(topic, subscription), folded.write.mode("overwrite").parquet
        )

    def unsubscribe(self, topic: str, subscription: str) -> bool:
        """Drop a subscription: delete its durable cursor (the streaming
        checkpoint dir) and its ack ledger (CommandUnsubscribe,
        /root/reference/src/PulsarApi.proto:531-534; demuxed at
        src/netflow/models.rs:23-58). The topic's data is untouched —
        retention is the TOPIC's policy (``apply_retention``), never a
        consumer's. A later ``subscribe`` under the same name is a brand
        NEW subscription: its cursor restarts at initialPosition
        (Earliest) and ``pending`` serves the full backlog again —
        exactly the broker's resubscribe-after-unsubscribe semantics.
        Returns True if any durable state existed (the broker errors on
        unsubscribing an unknown subscription; callers who care check
        the flag). Idempotent on repeat."""
        import shutil

        existed = False
        for path in (
            self.subscription_checkpoint(topic, subscription),
            self.ack_path(topic, subscription),
        ):
            if os.path.isdir(path):
                existed = True
                shutil.rmtree(path, ignore_errors=True)
        return existed

    # -- consume: streaming subscription -------------------------------
    def subscribe(
        self,
        topic: str,
        payload_schema: StructType | None = None,
        max_files_per_trigger: int | None = None,
    ) -> DataFrame:
        """Streaming read of a topic (envelope rows; payload decoded when a
        schema is given — GetSchema, PulsarApi.proto:672-686).

        Pair with ``subscription_checkpoint(topic, name)`` as the query's
        checkpointLocation: the checkpoint IS the subscription cursor —
        initialPosition=Earliest on first start, resume-from-cursor after
        (CommandSubscribe.initialPosition, PulsarApi.proto:328-334).

        When ``payload_schema`` is omitted, the topic's registered schema
        is fetched (GetSchema) and used automatically.
        """
        if payload_schema is None:
            payload_schema = self.get_schema(topic)
        # File sources need an explicit schema (the envelope; the __partition
        # directory column surfaces separately and is dropped downstream).
        reader = self.spark.readStream.schema(ENVELOPE_SCHEMA)
        if max_files_per_trigger is not None:
            # flow control: the credit-based permit knob (CommandFlow,
            # PulsarApi.proto:523-529) maps to source rate limiting
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(self.topic_path(topic))
        if payload_schema is not None:
            stream = decode_payload(stream, payload_schema)
        return stream

    def subscribe_pattern(
        self,
        pattern: str,
        payload_schema: StructType | None = None,
        max_files_per_trigger: int | None = None,
    ) -> DataFrame:
        """Streaming pattern subscription (Pulsar topicsPattern consumer):
        one streaming union over every topic matching the regex — each
        topic is its own file-stream source with its own offsets inside
        the shared checkpoint, so the cursor semantics per topic are
        identical to N single-topic subscriptions. Like Pulsar's pattern
        consumers, all matched topics must share a payload schema: when no
        explicit ``payload_schema`` is given, every matched topic's
        REGISTERED schema is compared against the first one at subscribe
        time and a mismatch raises IncompatibleSchema loudly — without
        that check, from_json's permissive decode would silently turn a
        conflicting topic's payload fields into NULLs (an explicit
        ``payload_schema`` is the caller opting into exactly that
        permissive decode). Topic expansion happens at
        subscribe time (the reference's GetTopicsOfNamespace poll,
        /root/reference/src/PulsarApi.proto:656-678), and the CHECKPOINT
        PINS THE SOURCE SET: resuming the same subscription after new
        topics appeared fails loudly (Spark refuses a source-count change
        under an existing checkpoint — never a silent skip); draining a
        grown topic set takes a new subscription. Pinned by
        tests/test_streaming.py::test_subscribe_pattern_expands_at_subscribe_time."""
        from functools import reduce

        names = self.topics(pattern)
        if not names:
            raise FileNotFoundError(f"no topics match pattern {pattern!r}")
        if payload_schema is None:
            payload_schema = self.get_schema(names[0])
            want = _decode_shape(payload_schema)
            for t in names[1:]:
                other = self.get_schema(t)
                if _decode_shape(other) != want:
                    raise IncompatibleSchema(
                        f"pattern {pattern!r}: topic '{t}' registered schema "
                        f"{other} conflicts with '{names[0]}' schema "
                        f"{payload_schema}"
                    )
        streams = [
            self.subscribe(t, payload_schema, max_files_per_trigger) for t in names
        ]
        return reduce(DataFrame.unionByName, streams)
