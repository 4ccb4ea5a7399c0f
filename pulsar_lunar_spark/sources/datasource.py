"""Custom PySpark DataSource (Spark 4 Python Data Source API): a
Pulsar-style message source, registered as ``format("pulsar_lunar")``.

Models the reference's producer demo (/root/reference/src/main.rs:28-73 —
connect, produce JSON messages onto a partitioned topic) as a first-class
Spark source emitting canonical envelope rows (SURVEY §1.4):

- **batch**: ``spark.read.format("pulsar_lunar").option("rows", N)`` —
  N deterministic messages across ``partitions`` input partitions (the
  partitioned-topic fan-out, discovery/mod.rs:70-94);
- **streaming**: ``spark.readStream.format(...)`` — a micro-batch source
  with REAL offset management (initialOffset / latestOffset / commit —
  the subscription-cursor protocol, PulsarApi.proto:297-353); the cursor
  resumes from the checkpoint across restarts.

Determinism: message i carries payload ``{"name": "koo-<i>", "color":
<cycle>}`` (the demo message, main.rs:59-73), key ``user-<i mod keys>``,
event_time/publish_time = epoch + i seconds — fully reproducible in SQL,
so the registry query over this source is oracle-checked.

Scale notes: partitions() splits the id range evenly — each Spark task
generates only its slice (no driver materialization); the stream reader
tracks a single numeric offset, exactly what a per-partition Pulsar
(ledger, entry) cursor reduces to for a linear log.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from pulsar_lunar_spark.functions.envelope import ENVELOPE_SCHEMA

_COLORS = ("green", "blue", "red", "yellow")
_EPOCH = 852076800  # 1997-01-01 00:00:00 UTC — inside the fixture date range


def _message(i: int, topic: str, n_keys: int, n_partitions: int):
    from datetime import datetime, timezone

    ts = datetime.fromtimestamp(_EPOCH + i, tz=timezone.utc)
    payload = json.dumps(
        {"name": f"koo-{i}", "color": _COLORS[i % len(_COLORS)]}, separators=(",", ":")
    ).encode("utf-8")
    part = i % n_partitions
    return (
        (i // 1000, i % 1000, part, -1),  # message_id: ledger/entry/partition/batch
        topic,
        f"user-{i % n_keys}",
        payload,
        {"lang": "en"},
        ts,
        ts,
        "pulsar-lunar-spark",
        i,
        None,
        0,
        None,
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _Opts:
    def __init__(self, options):
        self.topic = options.get("topic", "demo")
        self.rows = int(options.get("rows", 1000))
        self.partitions = int(options.get("partitions", 4))
        self.keys = int(options.get("keys", 16))


class _BatchReader(DataSourceReader):
    def __init__(self, opts: _Opts):
        self.o = opts

    def partitions(self):
        n, p = self.o.rows, self.o.partitions
        step = (n + p - 1) // p or 1
        return [_RangePartition(s, min(s + step, n)) for s in range(0, n, step)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield _message(i, self.o.topic, self.o.keys, self.o.partitions)


class _StreamReader(DataSourceStreamReader):
    """Micro-batch reader with a linear-log cursor: offset = next unread id."""

    def __init__(self, opts: _Opts):
        self.o = opts

    def initialOffset(self):
        return {"offset": 0}  # initialPosition=Earliest

    def latestOffset(self):
        # report the log's current end (GetLastMessageId,
        # PulsarApi.proto:648-658); Spark plans the micro-batch from the
        # checkpointed start offset up to here. The Python DataSource API
        # has no ReadLimit hook yet, so per-trigger pacing is the engine's
        # (availableNow drains [committed, end) in one batch).
        return {"offset": self.o.rows}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["offset"], end["offset"]
        p = self.o.partitions
        step = max((hi - lo + p - 1) // p, 1)
        return [_RangePartition(s, min(s + step, hi)) for s in range(lo, hi, step)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield _message(i, self.o.topic, self.o.keys, self.o.partitions)

    def commit(self, end: dict) -> None:
        # cursor acknowledgment (cumulative ack, PulsarApi.proto:479-507):
        # the checkpoint holds the committed offset; nothing to clean up
        pass


class _FileCommit(WriterCommitMessage):
    def __init__(self, filename: str, n_rows: int):
        self.filename = filename
        self.n_rows = n_rows


class _ProducerWriter(DataSourceWriter):
    """Batch writer: each task produces its partition as one JSONL file
    under a temp name; the driver-side commit() publishes the manifest —
    a file becomes part of the dataset only if its task committed AND the
    job committed (two-phase, the same contract a Pulsar transactional
    producer gives; uncommitted files are invisible to readers because
    readers go through the manifest)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("format('pulsar_lunar') write requires .option('path', ...)")

    def write(self, iterator: Iterator) -> "_FileCommit":  # executor-side
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(self.path, name), "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(recursive=True), default=str) + "\n")
                n += 1
        return _FileCommit(name, n)

    def commit(self, messages) -> None:  # driver-side, all tasks succeeded
        import os

        manifest = {
            "files": sorted(m.filename for m in messages if m is not None),
            "rows": sum(m.n_rows for m in messages if m is not None),
        }
        tmp = os.path.join(self.path, "_MANIFEST.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.path, "_MANIFEST"))  # atomic publish

    def abort(self, messages) -> None:  # driver-side, job failed
        import os

        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, m.filename))
                except OSError:
                    pass


class PulsarLunarDataSource(DataSource):
    """format("pulsar_lunar"): deterministic Pulsar-style message source."""

    @classmethod
    def name(cls) -> str:
        return "pulsar_lunar"

    def schema(self) -> StructType:
        return ENVELOPE_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _BatchReader(_Opts(self.options))

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _StreamReader(_Opts(self.options))

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _ProducerWriter(self.options)


def register(spark) -> None:
    """Idempotently register the source with a SparkSession."""
    spark.dataSource.register(PulsarLunarDataSource)
