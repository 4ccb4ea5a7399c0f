"""End-to-end Structured Streaming tests over the MessageLog: produce ->
subscribe -> stateful/DLQ'd/exactly-once consumption with real
micro-batch execution (availableNow triggers, memory + parquet sinks).
The windowed, deduped, sessionized and joined streams are checked by the
parity tests of the q_stream_* queries."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from pulsar_lunar_spark.sources.log import MessageLog
from pulsar_lunar_spark.streaming import foreach_batch_with_dlq, run_available_now

PAYLOAD = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


@pytest.fixture()
def log(spark, sf_dir, tmp_path):
    """A MessageLog with the events table produced into topic 'events'."""
    ml = MessageLog(spark, str(tmp_path / "log"))
    from pulsar_lunar_spark.session import load_table

    e = load_table(spark, sf_dir, "events").limit(1000)
    ml.produce(
        e,
        topic="events",
        payload_cols=["event_id", "event_type", "value"],
        key="user_id",
        event_time="ts",
        sequence_id="event_id",
        publish_time="ts",
    )
    return ml


def test_produce_subscribe_roundtrip(spark, log, tmp_path):
    """Streamed consumption sees exactly the produced rows (count + sum)."""
    stream = log.subscribe("events", payload_schema=PAYLOAD)
    agg = stream.select(F.col("payload.value").alias("v")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 4).alias("total")
    )
    run_available_now(
        agg.writeStream.format("memory").queryName("rt").outputMode("complete"),
        log.subscription_checkpoint("events", "rt"),
    )
    got = spark.sql("select * from rt").collect()[0]

    want = log.read("events").count()
    assert got["n"] == want
    direct = (
        log.read("events")
        .select(F.get_json_object(F.col("value").cast("string"), "$.value").cast("double").alias("v"))
        .agg(F.round(F.sum("v"), 4).alias("total"))
        .collect()[0]["total"]
    )
    assert abs(got["total"] - direct) < 1e-6


def test_run_available_now_returns_terminated_query(spark, log, tmp_path):
    """With no conf override the drain is awaited too: the returned query
    has stopped, and it read the whole topic."""
    q = run_available_now(
        log.subscribe("events").writeStream.format("noop"),
        str(tmp_path / "ck"),
    )
    assert q.isActive is False
    assert sum(p["numInputRows"] for p in q.recentProgress) == 1000


@pytest.mark.parametrize(
    "overrides", [{}, {"state_partitions": 2, "no_data_batches": False}]
)
def test_run_available_now_raises_on_failed_batch(spark, log, tmp_path, overrides):
    """A foreachBatch that raises makes run_available_now itself raise,
    whether or not it scoped conf overrides, and the overrides are
    restored."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    partitions = spark.conf.get("spark.sql.shuffle.partitions")

    def fail(bdf, batch_id):
        raise ValueError("sink refused the batch")

    with pytest.raises(StreamingQueryException, match="sink refused the batch"):
        run_available_now(
            log.subscribe("events").writeStream.foreachBatch(fail),
            str(tmp_path / "ck"),
            **overrides,
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions


def test_run_available_now_stops_and_raises_on_timeout(
    spark, log, tmp_path, monkeypatch
):
    """A drain still running at the drain time limit is stopped, and
    run_available_now raises instead of returning a partial drain. The
    stop is bounded by the session's stop timeout: the call returns while
    a hung batch is still running, and the stopped query ends when that
    batch returns."""
    import time

    from pulsar_lunar_spark.streaming import ops

    monkeypatch.setattr(ops, "_DRAIN_TIMEOUT_S", 0.5)
    hang_s = 16

    def slow(bdf, batch_id):
        time.sleep(hang_s)

    def running():
        return [q for q in spark.streams.active if q.name == "slow_drain"]

    t0 = time.monotonic()
    with pytest.raises(TimeoutError):
        run_available_now(
            log.subscribe("events")
            .writeStream.queryName("slow_drain")
            .foreachBatch(slow),
            str(tmp_path / "ck"),
        )
    assert time.monotonic() - t0 < hang_s - 5
    deadline = t0 + hang_s + 60
    while running() and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not running()


def test_subscription_cursor_resumes(spark, log, sf_dir, tmp_path):
    """A named subscription (checkpoint) consumes new messages exactly once:
    second availableNow run after a second produce() sees only the delta."""
    out_dir = str(tmp_path / "out")
    ckpt = log.subscription_checkpoint("events", "cursor-test")
    stream = log.subscribe("events", payload_schema=PAYLOAD)
    flat = stream.select(F.col("payload.event_id").alias("event_id"))

    run_available_now(
        flat.writeStream.format("parquet").option("path", out_dir), ckpt
    )
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == 1000

    from pulsar_lunar_spark.session import load_table

    extra = (
        load_table(spark, sf_dir, "events")
        .limit(500)
        .withColumn("event_id", F.col("event_id") + 1_000_000)
    )
    log.produce(
        extra,
        topic="events",
        payload_cols=["event_id", "event_type", "value"],
        key="user_id",
        event_time="ts",
        sequence_id="event_id",
        publish_time="ts",
    )
    run_available_now(
        flat.writeStream.format("parquet").option("path", out_dir), ckpt
    )
    df = spark.read.parquet(out_dir)
    assert df.count() == 1500
    assert df.select("event_id").distinct().count() == 1500  # no reprocessing


def test_unsubscribe_resets_cursor_and_ack_ledger(spark, log, tmp_path):
    """CommandUnsubscribe semantics: after unsubscribe, the same
    subscription name is a brand NEW subscription — its cursor restarts
    at initialPosition (a fresh drain re-serves ALL messages, where a
    kept cursor would serve zero), and the ack ledger is gone (pending()
    serves the full backlog again). Topic data is untouched."""
    out1 = str(tmp_path / "out1")
    ckpt = log.subscription_checkpoint("events", "unsub-test")
    flat = log.subscribe("events", payload_schema=PAYLOAD).select(
        F.col("payload.event_id").alias("event_id")
    )
    run_available_now(flat.writeStream.format("parquet").option("path", out1), ckpt)
    assert spark.read.parquet(out1).count() == 1000

    # individually ack half the backlog on the same subscription
    env = log.read("events")
    log.ack("events", "unsub-test", env.filter(F.col("sequence_id") % 2 == 0))
    n_pending = log.pending("events", "unsub-test").count()
    assert 0 < n_pending < 1000

    assert log.unsubscribe("events", "unsub-test") is True
    assert log.unsubscribe("events", "unsub-test") is False  # idempotent

    # ack ledger gone: the full backlog is pending again
    assert log.pending("events", "unsub-test").count() == 1000
    # cursor gone: a re-subscribe under the SAME name drains from
    # initialPosition (all 1000), not from the old cursor (zero)
    out2 = str(tmp_path / "out2")
    run_available_now(flat.writeStream.format("parquet").option("path", out2), ckpt)
    assert spark.read.parquet(out2).count() == 1000
    # topic data untouched
    assert log.read("events").count() == 1000


def test_dlq_routing(spark, log, tmp_path):
    """Through a real drain, poison messages land in the DLQ and good rows
    reach the sink. With max_redeliver=1 every poison message is
    dead-lettered on its first delivery, with redelivery_count 1."""
    good_dir = str(tmp_path / "good")
    dlq_dir = str(tmp_path / "dlq")

    stream = log.subscribe("events", payload_schema=PAYLOAD)
    fn = foreach_batch_with_dlq(
        process=lambda df: df.write.mode("append").parquet(good_dir),
        is_poison=F.col("payload.value") > 190.0,  # deterministic "failure"
        dlq_writer=lambda df: df.write.mode("append").parquet(dlq_dir),
        retry_ledger_dir=str(tmp_path / "retry_ledger"),
        max_redeliver=1,
    )
    run_available_now(
        stream.writeStream.foreachBatch(fn),
        log.subscription_checkpoint("events", "dlq"),
    )

    good = spark.read.parquet(good_dir)
    dlq = spark.read.parquet(dlq_dir)
    n_total = log.read("events").count()
    assert good.count() + dlq.count() == n_total
    assert dlq.filter(F.col("payload.value") <= 190.0).count() == 0
    assert {r["redelivery_count"] for r in dlq.select("redelivery_count").collect()} == {1}


def test_compacted_view(spark, log):
    """read_compacted: exactly one (latest) message per key."""
    comp = log.compacted("events")
    keys = log.read("events").select("key").distinct().count()
    assert comp.count() == keys
    assert comp.groupBy("key").count().agg(F.max("count")).collect()[0][0] == 1


def test_stateful_running_count(spark, log, tmp_path):
    """applyInPandasWithState: per-key running count across multiple
    micro-batches converges to the batch groupBy count."""
    from pulsar_lunar_spark.streaming import stateful_running_count

    stream = log.subscribe("events", max_files_per_trigger=4).select(
        F.col("key").cast("long").alias("user_id")
    )
    counted = stateful_running_count(stream, "user_id")
    run_available_now(
        counted.writeStream.format("memory").queryName("src").outputMode("update"),
        log.subscription_checkpoint("events", "src"),
    )
    # update mode: take the LAST emitted count per key (max = cumulative)
    got = {
        r["key"]: r["mx"]
        for r in spark.sql("select key, max(running_count) mx from src group by key").collect()
    }
    want = {
        r["key"]: r["n"]
        for r in (
            log.read("events")
            .groupBy(F.col("key").cast("long").alias("key"))
            .agg(F.count(F.lit(1)).alias("n"))
        ).collect()
    }
    assert got == want


def test_rate_source_smoke(spark, tmp_path):
    """Built-in rate streaming source drives the envelope pipeline: a few
    micro-batches of synthetic (timestamp, value) rows flow through a
    projection into a memory sink."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .select(
            F.col("value").alias("sequence_id"),
            F.col("timestamp").alias("publish_time"),
            (F.col("value") % 8).cast("int").alias("partition"),
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ratesrc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "rate_ck"))
        .start()
    )
    try:
        import time as _t

        deadline = _t.time() + 60
        n = 0
        while _t.time() < deadline:
            n = spark.sql("select count(*) n from ratesrc").head()["n"]
            if n >= 100:
                break
            _t.sleep(1)
        assert n >= 100
        parts = spark.sql("select count(distinct partition) p from ratesrc").head()["p"]
        assert parts >= 2
    finally:
        q.stop()


def test_time_partitioned_replay_prunes(spark, sf_dir, tmp_path):
    """A time_partition topic lays out by __pdate; replay() adds the
    partition-range predicate so the scan prunes directories."""
    from pulsar_lunar_spark.plans.inspect import plan_text
    from pulsar_lunar_spark.session import load_table

    ml = MessageLog(spark, str(tmp_path / "tlog"))
    e = load_table(spark, sf_dir, "events").limit(1000)
    ml.produce(
        e,
        topic="tev",
        payload_cols=["event_id", "value"],
        key="user_id",
        event_time="ts",
        sequence_id="event_id",
        publish_time="ts",
        time_partition=True,
    )
    win = ml.replay("tev", "1997-01-01", "1997-03-01")
    txt = plan_text(win)
    assert "__pdate" in txt and "PartitionFilters" in txt, txt

    # pruned replay returns exactly the rows a plain filter would
    full = ml.read("tev").filter(
        (F.col("publish_time") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("publish_time") < F.lit("1997-03-01").cast("timestamp"))
    )
    assert win.count() == full.count()
    # subscription still works on the partitioned layout
    got = {r["sequence_id"] for r in win.select("sequence_id").collect()}
    want = {r["sequence_id"] for r in full.select("sequence_id").collect()}
    assert got == want


def test_schema_registry_get_and_reject(spark, sf_dir, tmp_path):
    """First produce registers the payload schema; subscribe() fetches it
    automatically (GetSchema); an incompatible produce raises."""
    import pytest as _pt

    from pulsar_lunar_spark.session import load_table
    from pulsar_lunar_spark.sources.log import IncompatibleSchema

    ml = MessageLog(spark, str(tmp_path / "slog"))
    e = load_table(spark, sf_dir, "events").limit(100)
    ml.produce(e, topic="s", payload_cols=["event_id", "value"], key="user_id",
               sequence_id="event_id", publish_time="ts")
    reg = ml.get_schema("s")
    assert [f.name for f in reg.fields] == ["event_id", "value"]

    # auto-decode via registry
    stream = ml.subscribe("s")
    assert "payload" in stream.columns
    run_available_now(
        stream.select("payload.event_id", "payload.value")
        .writeStream.format("memory").queryName("sreg").outputMode("append"),
        ml.subscription_checkpoint("s", "sreg"),
    )
    assert spark.sql("select count(*) n from sreg").head()["n"] == 100

    with _pt.raises(IncompatibleSchema):
        ml.produce(e, topic="s", payload_cols=["event_id", "event_type"],
                   key="user_id", sequence_id="event_id", publish_time="ts")


def test_idempotent_sink_skips_replayed_batches(spark, log, tmp_path):
    """Replaying a committed batch (post-failure at-least-once delivery)
    must not duplicate sink rows."""
    from pulsar_lunar_spark.streaming import idempotent_foreach_batch

    out_dir = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")

    def write(df):
        df.write.mode("append").parquet(out_dir)

    fn = idempotent_foreach_batch(write, ledger)
    batch = log.read("events").select("sequence_id").limit(50)
    fn(batch, 0)
    fn(batch, 0)  # replay of the same batch id: must be a no-op
    fn(batch, 1)  # a new batch id: appends
    n = spark.read.parquet(out_dir).count()
    assert n == 100  # 50 (batch 0, once) + 50 (batch 1)


def test_compressed_topic_roundtrip(spark, sf_dir, tmp_path):
    """Producing with each supported codec yields byte-identical reads
    (the reference's 4-codec compression surface, producer.rs:52-131)."""
    import glob as _glob

    from pulsar_lunar_spark.session import load_table

    e = load_table(spark, sf_dir, "events").limit(200)
    ml = MessageLog(spark, str(tmp_path / "clog"))
    for codec in ("zstd", "snappy", "gzip"):
        ml.produce(
            e, topic=f"c_{codec}", payload_cols=["event_id", "value"],
            key="user_id", sequence_id="event_id", publish_time="ts",
            compression=codec,
        )
        back = ml.read(f"c_{codec}")
        assert back.count() == 200
        files = _glob.glob(str(tmp_path / "clog" / "topics" / f"c_{codec}" / "**" / "*.parquet"),
                           recursive=True)
        assert files and all(f".{codec}." in f or codec in f for f in files)


def test_topics_listing_and_pattern(spark, log, sf_dir):
    """GetTopicsOfNamespace analog: list topics, optionally regex-filtered
    (/root/reference/src/PulsarApi.proto:656-678)."""
    from pulsar_lunar_spark.session import load_table

    e = load_table(spark, sf_dir, "events").limit(10)
    log.produce(e, topic="events.audit", payload_cols=["event_id"], key="user_id")
    names = log.topics()
    assert "events" in names and any("audit" in n for n in names)
    only_audit = log.topics(pattern="audit")
    assert only_audit and all("audit" in n for n in only_audit)
    assert names == sorted(names)


def test_last_message_id(spark, log):
    """GetLastMessageId analog: the max (publish_time, sequence_id) row's
    message_id (/root/reference/src/PulsarApi.proto:646-654)."""
    mid = log.last_message_id("events")
    assert mid is not None
    # sequence ids come from event_id; the newest publish_time==ts row must
    # carry the max (ts, event_id) pair observed directly on the log
    direct = (
        log.read("events")
        .orderBy(F.desc("publish_time"), F.desc("sequence_id"))
        .head()
    )
    assert mid["ledger_id"] == direct["message_id"]["ledger_id"]
    assert mid["entry_id"] == direct["message_id"]["entry_id"]


def test_observe_stats_batch(spark, sf_dir):
    """Batch Observation: metrics computed on the flowing data equal a
    direct aggregation (the ConsumerStats surface, zero extra passes)."""
    from pyspark.sql import Observation

    from pulsar_lunar_spark.session import load_table
    from pulsar_lunar_spark.streaming.ops import observe_stats

    d = load_table(spark, sf_dir, "documents")
    obs = Observation("doc_stats")
    observed = d.observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars")
    )
    observed.agg(F.max("doc_id")).collect()  # any action materializes metrics
    want = d.agg(F.count(F.lit(1)), F.sum("n_chars")).first()
    assert obs.get["n"] == want[0] and obs.get["chars"] == want[1]


def test_observe_stats_streaming(spark, log):
    """Streaming observe: per-micro-batch metrics land in
    query.lastProgress['observedMetrics'] (ConsumerStats poll)."""
    from pulsar_lunar_spark.streaming.ops import observe_stats

    stream = observe_stats(
        log.subscribe("events"),
        "consumer_stats",
        n_msgs=F.count(F.lit(1)),
        max_seq=F.max("sequence_id"),
    )
    q = run_available_now(
        stream.writeStream.format("memory").queryName("obs_sink").outputMode("append"),
        log.subscription_checkpoint("events", "obs"),
    )
    got = q.lastProgress["observedMetrics"]["consumer_stats"]
    n_total = log.read("events").count()
    assert 0 < got["n_msgs"] <= n_total and got["max_seq"] is not None


def test_streaming_matview_refresh_equals_batch(spark, log, tmp_path):
    """Streaming materialized view: a real availableNow stream drained
    through foreachBatch -> incremental_agg_refresh must leave the stored
    per-key aggregate equal to the one-shot batch aggregate (the
    AGG(base ∪ delta) identity, applied per micro-batch)."""
    import os as _os

    from pyspark.sql import functions as F

    from pulsar_lunar_spark.operators.maintenance import incremental_agg_refresh
    from pulsar_lunar_spark.streaming import run_available_now

    agg_path = str(tmp_path / "matview")

    def refresh(df, _bid):
        incremental_agg_refresh(
            spark, agg_path, df.select("key", "sequence_id"), ["key"]
        )

    stream = log.subscribe("events").select("key", "sequence_id")
    run_available_now(
        stream.writeStream.foreachBatch(refresh),
        str(tmp_path / "ck"),
    )
    assert _os.path.isdir(agg_path)
    got = {r.key: r.n for r in spark.read.parquet(agg_path).collect()}
    want = {
        r.key: r.n
        for r in log.read("events")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_seek_by_message_id(spark, log):
    """CommandSeek by message id (PulsarApi.proto:537-543): produce N, seek
    to a mid-stream (partition, sequence_id), read exactly that partition's
    tail — exclusive by default (cursor AT the id), inclusive on request."""
    full = log.read("events").select(
        F.col("message_id.partition").alias("part"), "sequence_id"
    )
    # pick the median sequence_id of the busiest partition
    part = full.groupBy("part").count().orderBy(F.desc("count"), "part").first()["part"]
    seqs = sorted(
        r["sequence_id"] for r in full.filter(F.col("part") == part).collect()
    )
    mid = seqs[len(seqs) // 2]

    tail = log.replay("events", start_message_id=(part, mid))
    got = sorted(r["sequence_id"] for r in tail.collect())
    assert got == [s for s in seqs if s > mid]
    assert tail.filter(F.col("message_id.partition") != part).count() == 0

    tail_inc = log.replay("events", start_message_id=(part, mid), inclusive=True)
    assert tail_inc.count() == len([s for s in seqs if s >= mid])


def test_dlq_max_redeliver_retires_exactly_once(spark, log, tmp_path):
    """DeadLetterPolicy.max_redeliver_count (consumer.rs:71-77): a poison
    message is withheld for N-1 deliveries, lands in the DLQ with its true
    redelivery_count exactly once on the Nth, and is dropped afterwards."""
    good_dir = str(tmp_path / "good")
    dlq_dir = str(tmp_path / "dlq")
    ledger = str(tmp_path / "retry_ledger")
    os.makedirs(ledger, exist_ok=True)

    batch = log.read("events").limit(50)
    poison_ids = [r["sequence_id"] for r in batch.orderBy("sequence_id").limit(2).collect()]

    fn = foreach_batch_with_dlq(
        process=lambda df: df.write.mode("append").parquet(good_dir),
        is_poison=F.col("sequence_id").isin(poison_ids),
        dlq_writer=lambda df: df.write.mode("append").parquet(dlq_dir),
        max_redeliver=3,
        retry_ledger_dir=ledger,
    )

    # simulate the source re-serving the same unacked data 5 times
    for bid in range(5):
        fn(batch, bid)

    dlq = spark.read.parquet(dlq_dir)
    # each poison message retired exactly once, on the 3rd delivery
    assert dlq.count() == len(poison_ids)
    assert sorted(r["sequence_id"] for r in dlq.collect()) == sorted(poison_ids)
    assert {r["redelivery_count"] for r in dlq.collect()} == {3}
    # good rows flowed on every delivery; poison rows never reached the sink
    good = spark.read.parquet(good_dir)
    assert good.filter(F.col("sequence_id").isin(poison_ids)).count() == 0
    assert good.count() == 5 * (50 - len(poison_ids))


def test_rocksdb_state_store_matches_default(spark, log, tmp_path):
    """The RocksDB state-store provider (off-heap state + changelog
    checkpointing — the at-scale configuration) must produce exactly the
    same windowed aggregate as the default HDFS-backed provider."""
    results = {}
    for tag, store in (("hdfs", None), ("rocks", "rocksdb")):
        stream = log.subscribe("events", payload_schema=PAYLOAD)
        windowed = (
            stream.select(F.col("event_time").alias("ts"))
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("win_start"), "n")
        )
        run_available_now(
            windowed.writeStream.format("memory")
            .queryName(f"rocksdb_cmp_{tag}")
            .outputMode("complete"),
            str(tmp_path / f"ck_{tag}"),
            state_partitions=4,
            state_store=store,
        )
        results[tag] = {
            (r["win_start"], r["n"])
            for r in spark.table(f"rocksdb_cmp_{tag}").collect()
        }
    assert results["rocks"] == results["hdfs"]
    assert len(results["rocks"]) > 0


def test_subscribe_pattern_unions_matching_topics(spark, sf_dir, tmp_path):
    """Streaming pattern subscription: two topics matching the regex are
    drained by ONE query; counts demux by the envelope topic column and
    no message is lost or double-read across the union."""
    from pulsar_lunar_spark.session import load_table

    ml = MessageLog(spark, str(tmp_path / "plog"))
    e = load_table(spark, sf_dir, "events").limit(400)
    for name, pred in (("ev.low", F.col("event_id") % 2 == 0),
                       ("ev.high", F.col("event_id") % 2 == 1)):
        ml.produce(
            e.filter(pred),
            topic=name,
            payload_cols=["event_id", "value"],
            key="user_id",
            sequence_id="event_id",
            publish_time="ts",
        )
    # a non-matching topic that must NOT be drained
    ml.produce(
        e.limit(10), topic="other.noise", payload_cols=["event_id", "value"],
        key="user_id", sequence_id="event_id", publish_time="ts",
    )
    stream = ml.subscribe_pattern(r"^ev\.").select("topic", "sequence_id")
    out = str(tmp_path / "pattern_out")
    run_available_now(
        stream.writeStream.format("parquet").option("path", out).outputMode("append"),
        str(tmp_path / "pattern_ckpt"),
    )
    got = {
        r["topic"]: r["n"]
        for r in spark.read.parquet(out).groupBy("topic").count().withColumnRenamed("count", "n").collect()
    }
    assert set(got) == {"ev.low", "ev.high"}
    assert sum(got.values()) == 400
    with pytest.raises(FileNotFoundError):
        ml.subscribe_pattern(r"^nomatch\.")


def test_subscribe_pattern_expands_at_subscribe_time(spark, sf_dir, tmp_path):
    """Documented semantics: the topic set is expanded when
    subscribe_pattern is called (the GetTopicsOfNamespace poll), and the
    CHECKPOINT PINS THE SOURCE SET — re-subscribing the same
    subscription after a new topic appears fails loudly (Spark refuses a
    source-count change under an existing checkpoint) rather than
    silently skipping the new topic; draining the grown set takes a new
    subscription (fresh checkpoint), which reads everything."""
    from pulsar_lunar_spark.session import load_table

    ml = MessageLog(spark, str(tmp_path / "plog2"))
    e = load_table(spark, sf_dir, "events").limit(100)

    def produce(topic, df):
        ml.produce(df, topic=topic, payload_cols=["event_id", "value"],
                   key="user_id", sequence_id="event_id", publish_time="ts")

    produce("pt.a", e.filter(F.col("event_id") % 2 == 0))
    out = str(tmp_path / "pt_out")
    ckpt = str(tmp_path / "pt_ckpt")
    stream1 = ml.subscribe_pattern(r"^pt\.").select("topic", "sequence_id")
    run_available_now(
        stream1.writeStream.format("parquet").option("path", out).outputMode("append"),
        ckpt,
    )
    n1 = spark.read.parquet(out).count()
    assert n1 == 50

    produce("pt.b", e.filter(F.col("event_id") % 2 == 1))
    # same subscription, grown topic set: must FAIL (source set is pinned
    # at the checkpoint), never silently skip the new topic
    stream2 = ml.subscribe_pattern(r"^pt\.").select("topic", "sequence_id")
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="sources"):
        run_available_now(
            stream2.writeStream.format("parquet")
            .option("path", out).outputMode("append"),
            ckpt,
        )
    # a NEW subscription (fresh checkpoint + sink) drains the grown set
    out2 = str(tmp_path / "pt_out2")
    run_available_now(
        ml.subscribe_pattern(r"^pt\.").select("topic", "sequence_id")
        .writeStream.format("parquet").option("path", out2).outputMode("append"),
        str(tmp_path / "pt_ckpt2"),
    )
    got = spark.read.parquet(out2)
    by_topic = {r["topic"]: r["count"] for r in got.groupBy("topic").count().collect()}
    assert by_topic == {"pt.a": 50, "pt.b": 50}


def test_individual_ack_sparse_replay(spark, tmp_path):
    """Sparse individual ack (CommandAck AckType.Individual + ack_set,
    reference PulsarApi.proto:479-507 / :57): produce 5, ack {1,2,4}
    (a hole at 3) -> pending is exactly {3,5}; ack {3} -> {5}; re-acking
    an already-acked id is an idempotent no-op; ledger compaction
    changes nothing observable."""
    ml = MessageLog(spark, str(tmp_path / "acklog"))
    # plus one message with a NULL sequence id (and NULL key): its block
    # join key is NULL, so no ack can match it and it stays pending
    df = spark.createDataFrame(
        [(i, f"u{i}") for i in range(1, 6)] + [(None, None)],
        "event_id long, user string",
    )
    ml.produce(df, topic="t", payload_cols=["event_id"], key="user",
               sequence_id="event_id")

    def pending_ids(sub="subA"):
        # the NULL-id message shows as -1
        return sorted(
            -1 if r["sequence_id"] is None else r["sequence_id"]
            for r in ml.pending("t", sub).collect()
        )

    assert pending_ids() == [-1, 1, 2, 3, 4, 5]
    env = ml.read("t")
    ml.ack("t", "subA", env.filter(F.col("sequence_id").isin(1, 2, 4)))
    assert pending_ids() == [-1, 3, 5]
    ml.ack("t", "subA", env.filter(F.col("sequence_id") == 3))
    assert pending_ids() == [-1, 5]
    # idempotent re-ack
    ml.ack("t", "subA", env.filter(F.col("sequence_id") == 1))
    assert pending_ids() == [-1, 5]
    # acking the NULL-id message writes a NULL-keyed ledger row that
    # matches nothing
    ml.ack("t", "subA", env.filter(F.col("sequence_id").isNull()))
    assert pending_ids() == [-1, 5]
    # another subscription has its own cursor state
    assert pending_ids("subB") == [-1, 1, 2, 3, 4, 5]
    # compaction folds the append-only ledger, observable state unchanged
    ml.compact_acks("t", "subA")
    assert pending_ids() == [-1, 5]


def test_topic_reads_submit_no_job_at_build(spark, tmp_path):
    """Every batch read of a topic uses the envelope schema the log wrote,
    so building read/replay/compacted/pending/read_pattern DataFrames
    submits no Spark job (no footer-inference pass before planning)."""
    import datetime as dt

    rows = [(i, f"u{i % 7}", dt.datetime(2026, 3, 1 + i % 3, i % 24)) for i in range(300)]
    df = spark.createDataFrame(rows, "event_id long, user string, ts timestamp")
    ml = MessageLog(spark, str(tmp_path / "jobslog"))
    for topic in ("jobs.a", "jobs.b"):
        ml.produce(df, topic=topic, payload_cols=["event_id"], key="user",
                   sequence_id="event_id", publish_time="ts", time_partition=True)
    ml.ack("jobs.a", "s", ml.read("jobs.a").filter(F.col("sequence_id") % 2 == 0))

    sc = spark.sparkContext
    try:
        sc.setJobGroup("topic-read-build", "building topic reads")
        built = [
            ml.read("jobs.a"),
            ml.replay("jobs.a", "2026-03-02", "2026-03-03"),
            ml.replay("jobs.a", start_message_id=(0, 100)),
            ml.compacted("jobs.a"),
            ml.pending("jobs.a", "s"),
            ml.read_pattern(r"^jobs\."),
        ]
        # control: a job in a second group. The listener bus is ordered, so
        # once this job is visible, any job the builds submitted is too.
        sc.setJobGroup("topic-read-control", "control action")
        assert built[0].count() == 300
        tracker = sc.statusTracker()
        assert tracker.getJobIdsForGroup("topic-read-control")
        assert tracker.getJobIdsForGroup("topic-read-build") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_empty_topic_dir_reads_as_empty_envelope(spark, tmp_path):
    """A topic directory that exists but holds no data files reads as an
    empty envelope DataFrame (the schema is the envelope's, not inferred
    from files)."""
    from pulsar_lunar_spark.functions.envelope import ENVELOPE_SCHEMA

    ml = MessageLog(spark, str(tmp_path / "emptylog"))
    os.makedirs(ml.topic_path("empty"))
    df = ml.read("empty")
    assert df.schema == ENVELOPE_SCHEMA
    assert df.count() == 0
    assert ml.compacted("empty").count() == 0


def test_individual_ack_blocks_span_partitions(spark, sf_dir, tmp_path):
    """ack_set BitSets are per (partition, 64-message block): acks on a
    multi-partition topic with sequence ids crossing block boundaries
    must replay exactly the unacked ids. pending() is one left anti join
    against the raw ledger rows: no aggregate folds the ledger first."""
    from pulsar_lunar_spark.session import load_table

    ml = MessageLog(spark, str(tmp_path / "acklog2"))
    e = load_table(spark, sf_dir, "events").limit(300)
    ml.produce(e, topic="t", payload_cols=["event_id"], key="user_id",
               sequence_id="event_id", publish_time="ts")
    env = ml.read("t")
    all_ids = sorted(r["sequence_id"] for r in env.collect())
    ml.ack("t", "s", env.filter(F.col("sequence_id") % 7 != 0))
    pending = ml.pending("t", "s")
    plan = pending._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan and "Aggregate" not in plan, plan
    got = sorted(r["sequence_id"] for r in pending.collect())
    assert got == [i for i in all_ids if i % 7 == 0]


def test_register_schema_ignores_nullability_not_types(spark, tmp_path):
    """produce and subscribe_pattern share one compatibility rule: a
    payload that differs from the registered schema only in nullability
    registers cleanly; a type change still raises IncompatibleSchema."""
    from pulsar_lunar_spark.sources.log import IncompatibleSchema

    def payload(v_type, v_nullable):
        schema = StructType(
            [StructField("k", LongType()), StructField("v", v_type, v_nullable)]
        )
        return spark.createDataFrame([], schema)

    ml = MessageLog(spark, str(tmp_path / "nlog"))
    ml.register_schema("n", payload(DoubleType(), True))
    ml.register_schema("n", payload(DoubleType(), False))
    with pytest.raises(IncompatibleSchema):
        ml.register_schema("n", payload(StringType(), True))


def test_subscribe_pattern_schema_conflict_raises(spark, sf_dir, tmp_path):
    """Pattern subscription with no explicit payload schema must compare
    every matched topic's REGISTERED schema against the first match and
    raise IncompatibleSchema on conflict — otherwise the permissive
    from_json decode would silently null out the conflicting topic's
    payload fields. An explicit payload_schema opts into the permissive
    decode and must still work."""
    from pulsar_lunar_spark.session import load_table
    from pulsar_lunar_spark.sources.log import IncompatibleSchema

    ml = MessageLog(spark, str(tmp_path / "plog3"))
    e = load_table(spark, sf_dir, "events").limit(20)
    ml.produce(e, topic="sc.a", payload_cols=["event_id", "value"],
               key="user_id", sequence_id="event_id", publish_time="ts")
    ml.produce(e, topic="sc.b", payload_cols=["event_id", "event_type"],
               key="user_id", sequence_id="event_id", publish_time="ts")
    with pytest.raises(IncompatibleSchema, match="sc.b"):
        ml.subscribe_pattern(r"^sc\.")
    # explicit schema: caller-chosen permissive decode is still allowed
    explicit = ml.get_schema("sc.a")
    stream = ml.subscribe_pattern(r"^sc\.", payload_schema=explicit)
    assert stream.isStreaming


def test_topic_retention_drops_whole_partitions(spark, tmp_path):
    """Retention on a time-partitioned topic: date dirs strictly before
    the cutoff date are DROPPED whole, the cutoff's own day is rewritten
    filtered at the exact timestamp, later days untouched; an
    unpartitioned topic falls back to a full filtered rewrite."""
    import datetime as dt

    rows = [
        (i, f"u{i % 3}", dt.datetime(2026, 3, d, h, 0, 0))
        for i, (d, h) in enumerate(
            [(1, 5), (1, 18), (2, 6), (2, 12), (2, 20), (3, 7), (3, 15)]
        )
    ]
    df = spark.createDataFrame(rows, "event_id long, user string, ts timestamp")
    ml = MessageLog(spark, str(tmp_path / "retlog"))
    ml.produce(df, topic="t", payload_cols=["event_id"], key="user",
               sequence_id="event_id", publish_time="ts",
               num_partitions=2, time_partition=True)
    # cutoff mid-day-2: day 1 dirs dropped (one per key-partition that
    # has them), day 2 keeps only >= 10:00, day 3 intact
    dropped = ml.apply_retention("t", dt.datetime(2026, 3, 2, 10, 0, 0))
    assert dropped >= 1  # at least one whole day-dir removed, no rewrite
    left = sorted(r["sequence_id"] for r in ml.read("t").collect())
    assert left == [3, 4, 5, 6]
    # per-partition order/read path still intact after the swap
    assert ml.read("t").select("publish_time").count() == 4

    # unpartitioned fallback: full filtered rewrite
    ml2 = MessageLog(spark, str(tmp_path / "retlog2"))
    ml2.produce(df, topic="t", payload_cols=["event_id"], key="user",
                sequence_id="event_id", publish_time="ts")
    d2 = ml2.apply_retention("t", dt.datetime(2026, 3, 2, 10, 0, 0))
    assert d2 == 0
    left2 = sorted(r["sequence_id"] for r in ml2.read("t").collect())
    assert left2 == [3, 4, 5, 6]
    # the rewrite keeps the __partition layout a seek prunes on
    entries = os.listdir(ml2.topic_path("t"))
    assert any(d.startswith("__partition=") for d in entries)
    assert not any(d.endswith(".parquet") for d in entries)
    part = ml2.read("t").filter(F.col("sequence_id") == 3).first()["message_id"]["partition"]
    seek = ml2.replay("t", start_message_id=(part, 2), inclusive=True)
    assert 3 in {r["sequence_id"] for r in seek.collect()}


def test_replicate_topic_byte_identical(spark, sf_dir, tmp_path):
    """Geo-replication: the replica's envelope rows are identical to the
    source (message ids, keys, payload bytes, publish times), the
    registered schema travels, and a replica consumer auto-decodes."""
    from pulsar_lunar_spark.session import load_table

    src = MessageLog(spark, str(tmp_path / "src"))
    e = load_table(spark, sf_dir, "events").limit(300)
    src.produce(e, topic="t", payload_cols=["event_id", "value"],
                key="user_id", sequence_id="event_id", publish_time="ts")
    dst = MessageLog(spark, str(tmp_path / "dst"))
    src.replicate_topic("t", [dst])
    def comparable(ml):
        # set ops reject MAP columns — compare properties as JSON text
        return ml.read("t").withColumn("properties", F.to_json("properties"))

    a = comparable(src)
    b = comparable(dst)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert dst.get_schema("t") == src.get_schema("t")
    # replica subscribe path decodes with the replicated schema
    stream = dst.subscribe("t")
    assert stream.isStreaming and "payload" in stream.columns


def test_state_store_read_matches_batch_counts(spark, sf_dir):
    """q_state_store_read: the statestore-format read of the drained
    complete-mode aggregation must equal the plain batch counts, and
    both engine-side identity flags must have verified (state == memory
    sink, metadata inventory)."""
    import pandas as pd

    from pulsar_lunar_spark.queries import all_queries

    rows = all_queries()["q_state_store_read"].fn(spark, sf_dir).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    want = ev.groupby("event_type").size().to_dict()
    got = {r.event_type: r.n_events for r in rows}
    assert got == want
    assert all(r.state_matches_batch for r in rows)
    assert all(r.metadata_ok for r in rows)


def test_stream_ingest_dedup_matches_batch_replay(spark):
    """The streaming ingest drain's final pair set equals the batch
    MinHash-LSH pair set (same hashes, bands, verify threshold), with
    day_found = max(day of either side) — a pair is discovered exactly
    in the batch where its later document arrives."""
    from pyspark.sql import functions as F

    from pulsar_lunar_spark.operators import dedup as D
    from pulsar_lunar_spark.queries import all_queries
    from pulsar_lunar_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r["id_lo"], r["id_hi"]): r
        for r in all_queries()["q_stream_ingest_dedup"].fn(spark, sf).collect()
    }
    d = load_table(spark, sf, "documents")
    batch = D.minhash_dedup_pairs(d, "doc_id", "text", threshold=0.3).collect()
    want = {
        (r["id_a"], r["id_b"]): max(r["id_a"] % 3, r["id_b"] % 3)
        for r in batch
    }
    assert set(got) == set(want)
    for k, day in want.items():
        assert got[k]["day_found"] == day
