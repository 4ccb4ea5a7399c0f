"""Custom Python DataSource (format('pulsar_lunar')): batch fan-out,
streaming offsets, checkpoint cursor resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulsar_lunar_spark.sources.datasource import register
from pulsar_lunar_spark.streaming.ops import run_available_now


@pytest.fixture(autouse=True)
def _register(spark):
    register(spark)


def test_batch_read_deterministic(spark):
    df = spark.read.format("pulsar_lunar").option("rows", 500).load()
    assert df.count() == 500
    assert df.select("key").distinct().count() == 16
    assert df.select(F.max("sequence_id")).head()[0] == 499
    row = df.filter(F.col("sequence_id") == 2).select(
        F.col("value").cast("string").alias("v"), "message_id.partition"
    ).head()
    assert row["v"] == '{"name":"koo-2","color":"red"}'
    assert row["partition"] == 2


def test_batch_partitions_split_range(spark):
    df = spark.read.format("pulsar_lunar").option("rows", 100).option("partitions", 8).load()
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 100


def test_stream_drains_and_resumes(spark, tmp_path):
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run(rows):
        stream = (
            spark.readStream.format("pulsar_lunar").option("rows", rows).load()
        )
        run_available_now(
            stream.select("sequence_id")
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append"),
            ck,
        )
        return (
            spark.read.parquet(out)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("sequence_id").alias("d"),
                F.max("sequence_id").alias("mx"),
            )
            .head()
        )

    first = run(300)
    assert (first["n"], first["d"], first["mx"]) == (300, 300, 299)
    # the "log" grew; a restarted query resumes from the committed cursor
    # and reads ONLY the new messages (no duplicates)
    second = run(450)
    assert (second["n"], second["d"], second["mx"]) == (450, 450, 449)


def test_writer_roundtrip_and_manifest(spark, tmp_path, _register):
    """The custom format's WRITE path: each task lands one JSONL file, the
    driver commit atomically publishes a _MANIFEST — rows outside the
    manifest are not part of the dataset (two-phase producer contract)."""
    import json
    import os

    out = str(tmp_path / "producer_out")
    df = spark.range(0, 257, 1, 5).selectExpr("id", "concat('k-', id % 7) AS key")
    df.write.format("pulsar_lunar").option("path", out).mode("append").save()

    with open(os.path.join(out, "_MANIFEST")) as f:
        manifest = json.load(f)
    assert manifest["rows"] == 257
    assert len(manifest["files"]) == 5
    rows = []
    for name in manifest["files"]:
        with open(os.path.join(out, name)) as f:
            rows += [json.loads(line) for line in f]
    assert sorted(r["id"] for r in rows) == list(range(257))
    # a stray file NOT in the manifest is invisible to manifest readers
    with open(os.path.join(out, "part-stray.jsonl"), "w") as f:
        f.write('{"id": 9999}\n')
    with open(os.path.join(out, "_MANIFEST")) as f:
        assert "part-stray" not in json.load(f)["files"]
