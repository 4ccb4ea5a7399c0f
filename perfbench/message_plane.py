"""``message_plane``: one client of the message log, closed loop.

Each round runs seven ops in a seeded order: two ``publish_drain`` and one
of each read. Every read is faster than a ``publish_drain``, so the
median latency of a run is a read's (a ``compacted`` one when the reads
keep their usual order) and the 90th percentile is a ``publish_drain``'s.

- ``publish_drain``: publish a fresh batch of seeded messages with
  ``MessageLog.produce`` to the live topic, then drain the durable
  subscription from its persisted cursor (``MessageLog.subscribe`` +
  ``run_available_now`` + a ``foreachBatch`` sink). Latency is
  publish-to-delivery: from the produce call to the sink holding the
  batch's last message. Checked for exactly-once delivery.
- five reads of a fixed, time-partitioned topic built in set-up (five
  publish days, a sibling topic, an individual-ack ledger for one
  subscription): ``replay_time`` (publish-time range), ``replay_seek``
  (message id), ``compacted``, ``pending`` (unacked) and
  ``read_pattern``. Each read is materialised to Arrow on the client and
  checked afterwards against DuckDB reading the same parquet files.

A run measures whole rounds, so every kind weighs the same in every run.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np
import pyarrow as pa

from perfbench.datagen import MessageSource
from perfbench.trace import phases_ms
from perfbench.workload import Workload, count_files

# Sizes are set by the run budget, not by a traffic model: a fixed topic of
# 20k messages over 5 publish days (40 data files). The 30 days of the
# events fixture would lay out 240 files and make set-up and every read
# several times slower than a run can hold. Keys per message follow the
# ``events`` fixture (FIXTURES.md: 15,000 users per 1,000,000 events), the
# sibling topic is a tenth of the fixed one, and one publish carries one
# publish day of the fixed topic's traffic.
DAYS = 5
N_MESSAGES, N_KEYS = 20_000, 300
N_SIBLING, N_SIBLING_KEYS = 2_000, 30
MESSAGES_PER_OP = N_MESSAGES // DAYS
SPACING_US = DAYS * 86_400_000_000 // N_MESSAGES
LIVE_TOPIC, SUBSCRIPTION = "bench.live", "bench-sub"
TOPIC = "bench.replay"
SIBLING = "bench.replay-a"
# An assumption: the ack ledger's subscription has acked a random half.
ACK_SUBSCRIPTION, ACKED_SHARE = "sub-0", 0.5
PATTERNS = (r"^bench\.replay", r"^bench\.replay-")
READS = ("replay_time", "replay_seek", "compacted", "pending", "read_pattern")
KINDS = ("publish_drain", "publish_drain", *READS)
_START = np.datetime64("2024-03-01", "us")
_PROGRESS_KEYS = ("addBatch", "triggerExecution", "latestOffset", "queryPlanning", "walCommit")
_SCHEMA = pa.schema([
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("sequence_id", pa.int64()),
    ("key", pa.string()),
    ("value", pa.large_binary()),
    ("publish_time", pa.timestamp("us", tz="UTC")),
])


def _canon(tbl: pa.Table) -> pa.Table:
    return tbl.select(_SCHEMA.names).cast(_SCHEMA).sort_by(
        [("topic", "ascending"), ("sequence_id", "ascending")]
    )


class MessagePlane(Workload):
    name = "message_plane"
    warmup_ops = 2 * len(KINDS)
    round_seconds = 5.0
    round_ops = len(KINDS)

    def setup(self):
        from pulsar_lunar_spark.sources.log import MessageLog

        seed = self.ctx.seed
        self.log = MessageLog(self.spark, os.path.join(self.ctx.run_dir, "log"))
        self.rng = np.random.default_rng([seed, 0x2E91A4])
        self.live = MessageSource(seed, N_KEYS, SPACING_US)
        self.checkpoint = self.log.subscription_checkpoint(LIVE_TOPIC, SUBSCRIPTION)
        self.key_partition: dict[str, int] = {}
        self.reads: list[tuple[int, dict, pa.Table]] = []
        self._delivered: list[tuple[float, pa.Table]] = []
        self._phases: dict[str, float] = {}

        fixed = MessageSource(seed + 1, N_KEYS, SPACING_US)
        self._produce_fixture(TOPIC, fixed.batch(N_MESSAGES), True)
        side = MessageSource(seed + 2, N_SIBLING_KEYS, DAYS * 86_400_000_000 // N_SIBLING)
        self._produce_fixture(SIBLING, side.batch(N_SIBLING), False)
        seqs = np.arange(N_MESSAGES, dtype=np.int64)
        self.acked = seqs[self.rng.random(N_MESSAGES) < ACKED_SHARE]
        ids = self.spark.createDataFrame(pa.table({"sequence_id": self.acked}))
        self.log.ack(TOPIC, ACK_SUBSCRIPTION, self.log.read(TOPIC).join(ids, "sequence_id"))

    def _produce_fixture(self, topic, batch, time_partition):
        self.log.produce(
            self.spark.createDataFrame(batch),
            topic,
            payload_cols=list(MessageSource.PAYLOAD),
            key="user",
            event_time="event_time",
            sequence_id="seq",
            publish_time="publish_time",
            time_partition=time_partition,
        )

    def wrap(self, tracer):
        import pulsar_lunar_spark.functions.envelope as envelope
        from pulsar_lunar_spark.sources.log import MessageLog

        tracer.wrap_everywhere(envelope.to_envelope, "envelope.to_envelope")
        tracer.wrap_everywhere(envelope.decode_payload, "envelope.decode_payload")
        tracer.wrap(MessageLog, "register_schema", "log.register_schema")

    def plan(self):
        rng = self.rng
        while True:
            for kind in rng.permutation(KINDS):
                spec = {"kind": str(kind)}
                if kind == "replay_time":
                    lo = _START + np.timedelta64(int(rng.integers(0, DAYS * 24 - 2)), "h")
                    hi = lo + np.timedelta64(int(rng.integers(2, 25)), "h")
                    spec.update({"from": str(lo).replace("T", " "), "to": str(hi).replace("T", " ")})
                elif kind == "replay_seek":
                    spec.update(partition=int(rng.integers(0, 8)), seq=int(rng.integers(0, N_MESSAGES)))
                elif kind == "read_pattern":
                    spec["pattern"] = str(rng.choice(PATTERNS))
                yield spec

    # -- publish + drain ---------------------------------------------------
    def prepare(self, spec):
        if spec["kind"] != "publish_drain":
            return None
        batch = self.live.batch(MESSAGES_PER_OP)
        df = self.spark.createDataFrame(batch.drop(["publish_time"]))
        files = count_files(self.log.topic_path(LIVE_TOPIC)) if self.ctx.trace else None
        return batch, df, files

    def _sink(self, batch_df, _batch_id):
        tbl = batch_df.select(
            "message_id.partition", "sequence_id", "key", "payload.seq", "payload.amount"
        ).toArrow()
        self._delivered.append((time.perf_counter(), tbl))
        if self.ctx.tracer.active:
            self._phases = phases_ms(batch_df)

    def _publish_drain(self, prep):
        from pulsar_lunar_spark.streaming import ops

        tracer = self.ctx.tracer
        self._delivered, self._phases = [], {}
        t0 = time.perf_counter()
        with tracer.span("log.produce"):
            self.log.produce(
                prep[1],
                LIVE_TOPIC,
                payload_cols=list(MessageSource.PAYLOAD),
                key="user",
                event_time="event_time",
                sequence_id="seq",
            )
        with tracer.span("streaming.drain"):
            writer = self.log.subscribe(LIVE_TOPIC).writeStream.foreachBatch(self._sink)
            query = ops.run_available_now(writer, self.checkpoint)
            query.awaitTermination()
        last = max((t for t, _ in self._delivered), default=time.perf_counter())
        out = {"latency_s": last - t0, "delivered": [t for _, t in self._delivered]}
        if tracer.active:
            progress = [p.durationMs for p in query.recentProgress]
            out["streaming"] = {k: float(sum(d.get(k, 0) for d in progress)) for k in _PROGRESS_KEYS}
            out["streaming"]["batches"] = len(progress)
            out["phases"] = self._phases
        return out

    def _check_delivery(self, prep, out) -> bool:
        batch, _, files_before = prep
        if files_before is not None:
            out["files_added"] = count_files(self.log.topic_path(LIVE_TOPIC)) - files_before
        delivered = out.pop("delivered")
        if not delivered:
            return False  # an empty drain is a failed op
        got = pa.concat_tables(delivered).sort_by("sequence_id")
        want = batch.column("seq").to_numpy()
        if got.num_rows != len(want):
            return False  # short or duplicated delivery
        for col, ref in (("sequence_id", "seq"), ("seq", "seq"), ("amount", "amount")):
            if not np.array_equal(got.column(col).to_numpy(), batch.column(ref).to_numpy()):
                return False  # foreign message or corrupted payload
        keys = batch.column("user").to_pylist()
        if got.column("key").to_pylist() != keys:
            return False
        for key, part in zip(keys, got.column("partition").to_pylist()):
            if not 0 <= part < 8 or self.key_partition.setdefault(key, part) != part:
                return False  # a key must always route to the same partition
        return True

    # -- reads of the fixed topic --------------------------------------------
    def _read(self, spec):
        kind, log = spec["kind"], self.log
        if kind == "replay_time":
            return log.replay(TOPIC, from_publish_time=spec["from"], to_publish_time=spec["to"])
        if kind == "replay_seek":
            return log.replay(TOPIC, start_message_id=(spec["partition"], spec["seq"]))
        if kind == "compacted":
            return log.compacted(TOPIC)
        if kind == "pending":
            return log.pending(TOPIC, ACK_SUBSCRIPTION)
        return log.read_pattern(spec["pattern"])

    def run(self, spec, prep):
        if spec["kind"] == "publish_drain":
            return self._publish_drain(prep)
        tracer = self.ctx.tracer
        t0 = time.perf_counter()
        with tracer.span(f"log.{spec['kind']}"):
            df = self._read(spec).select(
                "topic", "message_id.partition", "sequence_id", "key", "value", "publish_time"
            )
            tbl = df.toArrow()
        out = {"latency_s": time.perf_counter() - t0, "rows": tbl.num_rows, "table": tbl}
        if tracer.active:
            out["phases"] = phases_ms(df)
        return out

    def check(self, spec, prep, out):
        if spec["kind"] == "publish_drain":
            return self._check_delivery(prep, out)
        self.reads.append((self.op_index, spec, out.pop("table")))
        return None  # checked by verify()

    def _topic_sql(self, topic):
        path = os.path.join(self.log.topic_path(topic), "**", "*.parquet")
        return (
            f"(SELECT topic, message_id.partition AS partition, sequence_id, key, "
            f"value, publish_time FROM read_parquet('{path}', hive_partitioning=true))"
        )

    def _oracle(self, con, spec) -> pa.Table:
        kind, base = spec["kind"], self._topic_sql(TOPIC)
        if kind == "replay_time":
            sql = (
                f"SELECT * FROM {base} WHERE publish_time >= TIMESTAMPTZ '{spec['from']}+00' "
                f"AND publish_time < TIMESTAMPTZ '{spec['to']}+00'"
            )
        elif kind == "replay_seek":
            sql = (
                f"SELECT * FROM {base} WHERE partition = {spec['partition']} "
                f"AND sequence_id > {spec['seq']}"
            )
        elif kind == "compacted":
            sql = (
                f"SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (PARTITION BY key "
                f"ORDER BY publish_time DESC, sequence_id DESC) AS rn FROM {base} "
                f"WHERE key IS NOT NULL) WHERE rn = 1"
            )
        elif kind == "pending":
            con.register("acked", pa.table({"sequence_id": self.acked}))
            sql = f"SELECT * FROM {base} WHERE sequence_id NOT IN (SELECT sequence_id FROM acked)"
        else:
            rx = re.compile(spec["pattern"])
            sql = " UNION ALL ".join(
                f"SELECT * FROM {self._topic_sql(t)}" for t in (TOPIC, SIBLING) if rx.search(t)
            )
        return con.sql(sql).arrow()

    def verify(self):
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads=2")
        con.execute("SET TimeZone='UTC'")
        out = {}
        for index, spec, tbl in self.reads:
            try:
                out[index] = _canon(tbl).equals(_canon(self._oracle(con, spec)))
            except Exception:
                out[index] = False
        con.close()
        return out

    def topic_files(self):
        return count_files(self.log.topic_path(LIVE_TOPIC))
