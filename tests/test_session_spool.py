"""Spool/scratch root selection: the SPARK_GRAFT_SPOOL_DIR cluster
override (r12, VERDICT r11 item 6) must be honored by every scratch
path the engine derives — on a real cluster executors cannot read the
driver's /dev/shm, so all spooled artifacts must be placeable on a
shared mount via one env var. Also the artifact store's build rules:
one build per key under racing threads, and only complete on-disk
writes are recorded."""

from __future__ import annotations

import os

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

    import pytest

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
