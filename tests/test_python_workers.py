"""Python workers and driver-held rows.

``get_spark`` starts local Python workers from
``pulsar_lunar_spark._daemon``, which takes the zip archives Spark puts
on the worker path (``pyspark.zip``, the py4j zip, the spark-core jar)
off ``sys.path`` before pyspark is imported, so the per-task
``importlib.invalidate_caches()`` no longer re-reads their central
directories. Rows the driver already holds enter Spark only through
``session.local_rows`` (an Arrow ``LocalRelation``: no job, no Python
worker)."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_task_sees_no_archive_on_its_path(spark):
    def worker_view(_rows):  # nested: pickled by value for the worker
        import os
        import sys
        import zipimport

        import pyspark

        yield (
            [p for p in sys.path if os.path.isfile(p)],
            [
                key
                for key, finder in sys.path_importer_cache.items()
                if isinstance(finder, zipimport.zipimporter)
            ],
            pyspark.__file__,
        )

    [(archives, zip_finders, pyspark_file)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(worker_view).collect()
    )
    assert archives == []
    assert zip_finders == []
    assert ".zip" not in pyspark_file and ".jar" not in pyspark_file, pyspark_file


_FALLBACK_PROBE = """
import importlib.util, sys, zipfile
from pulsar_lunar_spark import _daemon
archive = sys.argv[1]
zipfile.ZipFile(archive, "w").writestr("pl_zipped.py", "")
sys.path.append(archive)
before = list(sys.path)
_daemon.drop_archives()
assert sys.path == before[:-1], "the archive stayed on the path"
importlib.util.find_spec = lambda name: None  # pyspark only in archives
sys.path.append(archive)
_daemon.drop_archives()
assert sys.path == before, "the path was not restored"
import pl_zipped
"""


def test_archives_stay_when_pyspark_is_only_in_them(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _FALLBACK_PROBE, str(tmp_path / "mods.zip")],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


_CWD_PROBE = """
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from pulsar_lunar_spark.session import get_spark

spark = get_spark("pl-cwd-probe", cpus=1)

def double(batches):
    import os
    archives = sum(os.path.isfile(p) for p in sys.path)
    for pdf in batches:
        yield pd.DataFrame({{"y": pdf["id"] * 2, "archives": archives}})

rows = spark.range(3).mapInPandas(double, "y long, archives long").collect()
print(sorted(r.y for r in rows), {{r.archives for r in rows}})
spark.stop()
"""


def test_python_lane_runs_from_any_working_directory(tmp_path):
    drop = ("PYTHONPATH", "SPARK_GRAFT_ON_CLUSTER")
    env = {k: v for k, v in os.environ.items() if k not in drop}
    proc = subprocess.run(
        [sys.executable, "-c", _CWD_PROBE.format(root=ROOT)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the lane ran, and in a worker started from the cleaned daemon
    assert proc.stdout.split("\n")[-2] == "[0, 2, 4] {0}", proc.stdout[-2000:]


class _Builder:
    """Stands in for ``SparkSession.builder``: records the confs
    ``get_spark`` sets instead of starting a JVM."""

    def __init__(self):
        self.confs = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.confs["master"] = master
        return self

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        return self.confs


@pytest.mark.parametrize("on_cluster", [False, True])
def test_worker_daemon_is_local_master_only(on_cluster, monkeypatch):
    from types import SimpleNamespace

    import pulsar_lunar_spark.session as session

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Builder()))
    if on_cluster:
        monkeypatch.setenv("SPARK_GRAFT_ON_CLUSTER", "1")
    else:
        monkeypatch.delenv("SPARK_GRAFT_ON_CLUSTER", raising=False)
    confs = session.get_spark("pl-conf-probe", cpus=2)
    assert confs["spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs"] == "false"
    fs_confs = (
        "spark.driver.extraClassPath",
        "spark.hadoop.fs.file.impl",
        "spark.hadoop.fs.AbstractFileSystem.file.impl",
    )
    if on_cluster:
        assert "spark.python.daemon.module" not in confs
        assert "spark.executorEnv.PYTHONPATH" not in confs
        assert "master" not in confs
        assert not any(key in confs for key in fs_confs)
    else:
        assert confs["spark.python.daemon.module"] == "pulsar_lunar_spark._daemon"
        assert confs["spark.executorEnv.PYTHONPATH"] == ROOT
        assert confs["master"] == "local[2]"
        assert os.path.isfile(confs["spark.driver.extraClassPath"])
        assert confs["spark.hadoop.fs.file.impl"] == session._FS_CLASS
        assert confs["spark.hadoop.fs.AbstractFileSystem.file.impl"] == (
            session._FS_CLASS + "$Fs"
        )


_FORBIDDEN = re.compile(r"parallelize\(|createDataFrame\(")
_HOME = os.path.join("pulsar_lunar_spark", "session.py")


def test_driver_rows_enter_only_through_local_rows():
    """No ``parallelize(`` anywhere in the engine, and ``createDataFrame(``
    only inside ``session.local_rows``: both pickle driver rows through a
    Python task."""
    hits = []
    for root, _dirs, files in os.walk(os.path.join(ROOT, "pulsar_lunar_spark")):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, ROOT)
            if not name.endswith(".py"):
                continue
            with open(path, encoding="utf-8") as fh:
                for n, line in enumerate(fh, 1):
                    match = _FORBIDDEN.search(line)
                    if match and (rel != _HOME or match.group() == "parallelize("):
                        hits.append(f"{rel}:{n}: {line.strip()}")
    assert not hits, "\n".join(hits)


def test_local_rows_collect_runs_no_job(spark, no_job_submitted):
    import datetime as dt

    from pyspark.sql.types import StructType

    from pulsar_lunar_spark.session import local_rows

    rows = [(1, "a", 0.5, True, dt.date(2026, 1, 2)), (2, None, None, False, None)]
    ddl = "id long, s string, x double, ok boolean, d date"
    with no_job_submitted("local-rows"):
        df = local_rows(spark, rows, ddl)
        got = [tuple(r) for r in df.collect()]
    assert got == rows
    assert df.schema == StructType.fromDDL(ddl)
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_local_rows_empty_keeps_schema(spark):
    from pulsar_lunar_spark.session import local_rows

    df = local_rows(spark, [], "day_found long, id_a string, hamming long")
    assert df.collect() == []
    assert df.columns == ["day_found", "id_a", "hamming"]
    assert [t for _, t in df.dtypes] == ["bigint", "string", "bigint"]
