"""Tests for storage maintenance: small-file compaction and MERGE upsert."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators.maintenance import (
    compact_files,
    merge_upsert,
    plan_compaction,
)


def _parquet_files(path):
    return [
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def test_compaction_reduces_file_count(spark, tmp_path):
    path = str(tmp_path / "frag")
    spark.range(0, 10000).repartition(20).write.parquet(path)
    assert len(_parquet_files(path)) == 20
    n_now, n_target = plan_compaction(spark, path, target_bytes=10 * 1024 * 1024)
    assert n_now == 20 and n_target == 1
    n_new = compact_files(spark, path, target_bytes=10 * 1024 * 1024)
    assert n_new == 1 == len(_parquet_files(path))
    # no rows lost, values intact
    assert spark.read.parquet(path).count() == 10000
    assert spark.read.parquet(path).agg({"id": "sum"}).collect()[0][0] == sum(range(10000))


def test_compaction_noop_when_already_compact(spark, tmp_path):
    path = str(tmp_path / "ok")
    spark.range(0, 100).coalesce(1).write.parquet(path)
    assert compact_files(spark, path, target_bytes=128 * 1024 * 1024) == 1


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, name string, val long"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "b2", 21), (3, "c", 30)], "k long, name string, val long"
    )
    merge_upsert(spark, path, updates, key_cols=["k"])
    got = {r.k: (r.name, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 2: ("b2", 21), 3: ("c", 30)}


def test_merge_upsert_version_wins_over_side(spark, tmp_path):
    # a replayed (older) update must NOT clobber a newer target row
    path = str(tmp_path / "v")
    spark.createDataFrame(
        [(1, 5, "newer"), (2, 1, "old")], "k long, ver long, s string"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(1, 3, "stale-replay"), (2, 2, "fresh")], "k long, ver long, s string"
    )
    merge_upsert(spark, path, updates, key_cols=["k"], version_col="ver")
    got = {r.k: (r.ver, r.s) for r in spark.read.parquet(path).collect()}
    assert got == {1: (5, "newer"), 2: (2, "fresh")}


def test_merge_upsert_schema_mismatch_rejected(spark, tmp_path):
    path = str(tmp_path / "m")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    bad = spark.createDataFrame([(1, 2.0)], "k long, other double")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(spark, path, bad, key_cols=["k"])


def test_snapshot_time_travel(spark, tmp_path):
    from pulsar_lunar_spark.operators.maintenance import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    path = str(tmp_path / "versioned")
    assert write_snapshot(spark.range(10), path) == 0
    assert write_snapshot(spark.range(20), path) == 1
    assert write_snapshot(spark.range(30), path) == 2
    assert snapshot_versions(path) == [0, 1, 2]
    # time travel: old versions stay intact after new writes
    assert read_snapshot(spark, path, version=0).count() == 10
    assert read_snapshot(spark, path).count() == 30
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, path, version=3)


def test_incremental_agg_refresh_matches_full_recompute(spark, tmp_path):
    from pulsar_lunar_spark.operators.maintenance import incremental_agg_refresh

    path = str(tmp_path / "agg")
    b1 = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10)], "k string, v long"
    )
    b2 = spark.createDataFrame(
        [("a", 3), ("c", 7), ("c", 8)], "k string, v long"
    )
    incremental_agg_refresh(spark, path, b1, ["k"], sum_cols=("v",))
    incremental_agg_refresh(spark, path, b2, ["k"], sum_cols=("v",))
    got = {r.k: (r.n, r.v) for r in spark.read.parquet(path).collect()}
    full = {
        r.k: (r.n, r.v)
        for r in b1.unionByName(b2)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("v"))
        .collect()
    }
    assert got == full == {"a": (3, 6), "b": (1, 10), "c": (2, 15)}


def test_incremental_agg_refresh_schema_mismatch_rejected(spark, tmp_path):
    from pulsar_lunar_spark.operators.maintenance import incremental_agg_refresh

    path = str(tmp_path / "agg2")
    b1 = spark.createDataFrame([("a", 1)], "k string, v long")
    incremental_agg_refresh(spark, path, b1, ["k"], sum_cols=("v",))
    bad = spark.createDataFrame([("a", 1)], "k string, w long")
    with pytest.raises(ValueError, match="schema mismatch"):
        incremental_agg_refresh(spark, path, bad, ["k"], sum_cols=("w",))


def test_side_effect_queries_are_rerun_idempotent(spark, sf_dir):
    """Every registered query that mutates scratch state (CTAS, MERGE,
    snapshots, compaction, file fixtures, topic produces) must return the
    IDENTICAL result when invoked twice in one session — the bench and
    any retry-ing driver re-run query fns freely, so a second run must
    rebuild its fixtures from scratch, never double-apply."""
    from pulsar_lunar_spark.queries import all_queries

    qs = all_queries()
    for name in (
        "q_merge_upsert",
        "q_snapshot_timetravel",
        "q_compact_files",
        "q_catalog_ctas",
        "q_binary_source",
        "q_multi_topic_read",
        "q_file_provenance",
        # round 3 side-effecting queries
        "q_individual_ack",
        "q_topic_retention",
        "q_geo_replication",
        "q_stream_cdc_apply",
        "q_incremental_mv",
    ):
        first = [tuple(r) for r in qs[name].fn(spark, sf_dir).collect()]
        second = [tuple(r) for r in qs[name].fn(spark, sf_dir).collect()]
        assert first == second, name


def test_cdc_apply_upserts_deletes_and_replay(spark, tmp_path):
    """CDC apply: latest version wins per key, a winning tombstone removes
    the key, an out-of-order older change cannot overwrite applied state,
    and replaying a batch is a no-op (idempotent)."""
    from pulsar_lunar_spark.operators.maintenance import cdc_apply, cdc_live

    target = str(tmp_path / "cdc_target")

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, v long, ts long, op string"
        )

    def state():
        return {
            r["k"]: (r["v"], r["ts"])
            for r in cdc_live(spark, target).collect()
        }

    b1 = batch([(1, 10, 100, "u"), (2, 20, 100, "u"), (3, 30, 100, "u")])
    cdc_apply(spark, target, b1, ["k"], ["ts"], "op")
    assert state() == {1: (10, 100), 2: (20, 100), 3: (30, 100)}

    # upsert k=1, delete k=2, and an OLDER change for k=3 (must lose)
    b2 = batch([(1, 11, 200, "u"), (2, 0, 200, "d"), (3, 99, 50, "u")])
    cdc_apply(spark, target, b2, ["k"], ["ts"], "op")
    assert state() == {1: (11, 200), 3: (30, 100)}

    # replay the same batch: no change
    cdc_apply(spark, target, b2, ["k"], ["ts"], "op")
    assert state() == {1: (11, 200), 3: (30, 100)}

    # a STALE upsert redelivered after the delete must NOT resurrect the
    # key — the retained tombstone (ts=200) outranks it
    stale = batch([(2, 20, 100, "u")])
    cdc_apply(spark, target, stale, ["k"], ["ts"], "op")
    assert state() == {1: (11, 200), 3: (30, 100)}

    # a genuinely NEWER upsert does resurrect it
    b3 = batch([(2, 22, 300, "u")])
    cdc_apply(spark, target, b3, ["k"], ["ts"], "op")
    assert state() == {1: (11, 200), 2: (22, 300), 3: (30, 100)}


def test_cdc_apply_carries_unorderable_payload(spark, tmp_path):
    """Only (version_cols, side) is compared — a map-typed payload column
    (unorderable; max(struct(...)) over it fails analysis) must ride
    through cdc_apply via max_by untouched."""
    from pulsar_lunar_spark.operators.maintenance import cdc_apply, cdc_live

    target = str(tmp_path / "cdc_map_target")
    schema = "k long, props map<string,string>, ts long, op string"
    b1 = spark.createDataFrame(
        [(1, {"a": "1"}, 100, "u"), (2, {"b": "2"}, 100, "u")], schema
    )
    cdc_apply(spark, target, b1, ["k"], ["ts"], "op")
    b2 = spark.createDataFrame([(1, {"a": "9", "z": "3"}, 200, "u")], schema)
    cdc_apply(spark, target, b2, ["k"], ["ts"], "op")
    got = {r["k"]: dict(r["props"]) for r in cdc_live(spark, target).collect()}
    assert got == {1: {"a": "9", "z": "3"}, 2: {"b": "2"}}
