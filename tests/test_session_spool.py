"""Spool/scratch root selection: the SPARK_GRAFT_SPOOL_DIR cluster
override (r12, VERDICT r11 item 6) must be honored by every scratch
path the engine derives — on a real cluster executors cannot read the
driver's /dev/shm, so all spooled artifacts must be placeable on a
shared mount via one env var. Also the artifact store's build rules
(one build per key under racing threads, and only complete on-disk
writes are recorded), the per-call working directory rule (a query's
previous result survives its next call) and the in-place rewrite rule
(a failed replace_dir write leaves the target as it was)."""

from __future__ import annotations

import os

import pytest

from pulsar_lunar_spark.session import scratch_root, spool_base_dir


def test_spool_dir_override_honored(tmp_path, monkeypatch):
    custom = str(tmp_path / "shared-mount")
    os.makedirs(custom, exist_ok=True)
    monkeypatch.setenv("SPARK_GRAFT_SPOOL_DIR", custom)
    assert spool_base_dir() == custom
    p = scratch_root("pl_spool_test", "/root/testdata/sf0.001")
    assert p.startswith(custom + os.sep), p
    # per-(kind, dataset, process) layout is preserved under the override
    assert "pl_spool_test" in p and str(os.getpid()) in p


def test_spool_dir_default_is_local_tmpfs(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SPOOL_DIR", raising=False)
    base = spool_base_dir()
    assert base == "/dev/shm" or base == __import__("tempfile").gettempdir()
    assert scratch_root("pl_spool_test2").startswith(base + os.sep)


def _fake_session(app_id: str = "app-1"):
    from types import SimpleNamespace

    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_artifact_builds_once_under_racing_threads(tmp_path):
    # more threads than cores hammer one key with a short switch interval:
    # a lost check-then-build race would run the build twice
    import sys
    import threading
    import time

    from pulsar_lunar_spark.session import artifact

    spark, builds = _fake_session(), []

    def build():
        builds.append(1)
        time.sleep(0.01)
        return object()

    got = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(
                target=lambda: got.append(artifact(spark, str(tmp_path), "race", build))
            )
            for _ in range(4 * (os.cpu_count() or 2))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1 and len(got) == len(threads)
    assert all(v is got[0] for v in got)
    # the producer rule rebuilds; a new session (applicationId) is a new key
    assert artifact(spark, str(tmp_path), "race", build, rebuild=True) is not got[0]
    assert artifact(_fake_session("app-2"), str(tmp_path), "race", build) is not got[0]
    assert len(builds) == 3


def test_artifact_dir_records_only_complete_writes(tmp_path, monkeypatch):
    import shutil

    from pulsar_lunar_spark.session import artifact_dir

    monkeypatch.setenv("SPARK_GRAFT_SPOOL_DIR", str(tmp_path / "spool"))
    spark, sf = _fake_session(), str(tmp_path)

    def failing(path):
        os.makedirs(path)
        raise OSError("disk full")

    def write(path):
        os.makedirs(path)

    with pytest.raises(OSError):
        artifact_dir(spark, sf, "pl_dir_test", failing)
    first = artifact_dir(spark, sf, "pl_dir_test", write)
    assert artifact_dir(spark, sf, "pl_dir_test", failing) == first
    shutil.rmtree(first)  # a vanished slot rebuilds into a fresh one
    again = artifact_dir(spark, sf, "pl_dir_test", write)
    assert again != first and os.path.isdir(again)


def _tree(pattern: str) -> set[str]:
    import glob

    return {
        os.path.join(root, name)
        for top in glob.glob(pattern)
        for root, dirs, files in os.walk(top)
        for name in dirs + files
    }


def test_query_scratch_honors_spool_override(spark, sf_dir, tmp_path, monkeypatch):
    import tempfile

    from pulsar_lunar_spark.queries import all_queries

    monkeypatch.setenv("SPARK_GRAFT_SPOOL_DIR", str(tmp_path))
    legacy = os.path.join(tempfile.gettempdir(), "pulsar_lunar_*")
    before = _tree(legacy)
    specs = all_queries()
    for name in ("q_csv_roundtrip", "q_partitioned_prune", "q_merge_upsert"):
        specs[name].fn(spark, sf_dir).collect()
    assert _tree(legacy) <= before
    kinds = set(os.listdir(tmp_path))
    assert {"pl_formats_csv", "pl_partitioned", "pl_maint_merge_target"} <= kinds


def test_replace_dir_failed_write_leaves_target_untouched(tmp_path):
    from pulsar_lunar_spark.session import replace_dir
    from pulsar_lunar_spark.sources.log import MessageLog

    log = MessageLog(None, str(tmp_path))
    target = log.topic_path("events")
    os.makedirs(os.path.join(target, "__partition=0"))
    part = os.path.join(target, "__partition=0", "part-0.parquet")
    with open(part, "wb") as fh:
        fh.write(b"pristine bytes")

    def failing(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-0.parquet"), "wb") as fh:
            fh.write(b"half")
        raise OSError("disk full")

    with pytest.raises(OSError):
        replace_dir(target, failing)
    assert os.listdir(os.path.dirname(target)) == ["events"]
    assert log.topics() == ["events"]
    with open(part, "rb") as fh:
        assert fh.read() == b"pristine bytes"

    def write(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-0.parquet"), "wb") as fh:
            fh.write(b"new")

    replace_dir(target, write)
    assert os.listdir(os.path.dirname(target)) == ["events"]
    assert os.listdir(target) == ["part-0.parquet"]


@pytest.mark.parametrize(
    "name",
    [
        "q_partitioned_prune",
        "q_csv_roundtrip",
        "q_merge_upsert",
        "q_dlq_routing",
        "q_stream_session",
        "q_ann_topk",  # control: already on a per-call slot
    ],
)
def test_previous_result_survives_next_call(name, spark, sf_dir):
    from pulsar_lunar_spark.queries import all_queries

    fn = all_queries()[name].fn
    first = fn(spark, sf_dir)
    second = fn(spark, sf_dir)
    assert sorted(map(tuple, first.collect())) == sorted(map(tuple, second.collect()))


def test_warm_spool_read_submits_no_job(spark, sf_dir, no_job_submitted):
    from pulsar_lunar_spark.operators.graph import trade_edges

    cold = trade_edges(spark, sf_dir)
    with no_job_submitted("warm-spool"):
        warm = trade_edges(spark, sf_dir)
    assert warm.count() == cold.count() > 0


_EXIT_PROBE = """
import os, sys
sys.path.insert(0, {root!r})
from pulsar_lunar_spark.session import scratch_root
os.makedirs(scratch_root("pl_exit_kind"))
"""


@pytest.mark.parametrize("neighbour", [False, True])
def test_exit_removes_empty_kind_dir(neighbour, tmp_path):
    """At exit a process removes its own ``<root>/<kind>/<tag>`` and then
    the kind directory if that is empty; another process's tag under the
    same kind survives, and so does the kind directory holding it."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    kind = tmp_path / "pl_exit_kind"
    other = kind / "other-process-tag"
    if neighbour:
        other.mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_SPOOL_DIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", _EXIT_PROBE.format(root=root)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    if neighbour:
        assert os.listdir(kind) == ["other-process-tag"]
    else:
        assert not kind.exists()
