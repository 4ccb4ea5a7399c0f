"""The engine's write path: which writes leave a ``_SUCCESS`` marker, the
file layout of a topic append, and the local filesystem a local master
maps ``file:`` to (``jvm/NioLocalFileSystem.java``)."""

from __future__ import annotations

import ast
import os
import stat

import pytest
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators import maintenance as M
from pulsar_lunar_spark.session import _FS_CLASS, local_fs_jar, scoped_confs
from pulsar_lunar_spark.sources.log import MessageLog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _markers(path) -> list[str]:
    return [
        os.path.join(root, name)
        for root, _dirs, files in os.walk(path)
        for name in files
        if name in ("_SUCCESS", "._SUCCESS.crc")
    ]


def _data_files(path) -> list[str]:
    return [
        os.path.join(root, name)
        for root, _dirs, files in os.walk(path)
        for name in files
        if name.endswith(".parquet")
    ]


def _messages(spark, n: int, start: int = 0):
    return spark.range(start, start + n).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("u"), (F.col("id") % 300).cast("string")).alias("user"),
        F.timestamp_seconds(F.lit(1_770_000_000) + F.col("id") * 60).alias("ts"),
    )


def test_produce_and_ack_leave_no_success_marker(spark, tmp_path):
    ml = MessageLog(spark, str(tmp_path / "log"))
    for start in (0, 500):
        ml.produce(_messages(spark, 500, start), topic="t", payload_cols=["event_id"],
                   key="user", sequence_id="event_id")
    ml.ack("t", "s", ml.read("t").filter(F.col("sequence_id") % 3 == 0))
    assert _data_files(ml.topic_path("t")) and _data_files(ml.ack_path("t", "s"))
    assert _markers(tmp_path) == []
    assert ml.pending("t", "s").count() == 1000 - 334


def test_ingest_lane_appends_leave_no_success_marker(spark, sf_dir, tmp_path, monkeypatch):
    """The ingest-lane runner's day-topic produces, store appends and
    pair-sink appends, all under a spool root of the test's own."""
    from pulsar_lunar_spark.queries.llm18 import _ingest_lane
    from pulsar_lunar_spark.session import load_table

    monkeypatch.setenv("SPARK_GRAFT_SPOOL_DIR", str(tmp_path))
    out = _ingest_lane(
        spark,
        sf_dir,
        topic="docs_marker",
        source=lambda: load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(30),
        doc_id=F.col("doc_id"),
        stride=1,
        batch_rows=lambda docs, bid: docs.select(F.col("doc_id").alias("__id")),
        probe=lambda batch, full: batch.select(
            F.lit(0).cast("long").alias("day_found"),
            F.col("__id").alias("id_lo"),
            (F.col("__id") + 1).alias("id_hi"),
        ),
        result_ddl="day_found long, id_lo long, id_hi long",
        sort_keys=("id_lo",),
    )
    assert out.count() == 30
    stores = [p for p in _data_files(tmp_path) if f"{os.sep}store{os.sep}" in p]
    topics = [p for p in _data_files(tmp_path) if f"{os.sep}topics{os.sep}" in p]
    assert stores and topics
    assert _markers(tmp_path) == []


def test_write_snapshot_commits_with_a_marker(spark, tmp_path):
    """write_snapshot still asks for the marker, and snapshot_versions
    still hides a version directory that has none."""
    path = str(tmp_path / "snap")
    assert M.write_snapshot(spark.range(10), path) == 0
    assert M.write_snapshot(spark.range(4), path) == 1
    assert os.path.isfile(os.path.join(path, "v=1", "_SUCCESS"))
    # a crashed write: data files, no marker
    spark.range(3).write.parquet(os.path.join(path, "v=2"))
    assert _data_files(os.path.join(path, "v=2"))
    assert M.snapshot_versions(path) == [0, 1]
    assert M.read_snapshot(spark, path).count() == 4
    assert M.write_snapshot(spark.range(2), path) == 2


def _write_tasks(files) -> set[str]:
    # part-<task partition>-<uuid>.c000...: one prefix per writing task
    return {os.path.basename(p).split("-")[1] for p in files}


@pytest.mark.parametrize("small_partitions", [False, True], ids=["default", "small-aqe"])
@pytest.mark.parametrize("time_partition", [False, True], ids=["plain", "time"])
def test_produce_writes_one_file_per_partition_dir(
    spark, tmp_path, time_partition, small_partitions
):
    """Every produce writes exactly one data file into each partition
    directory it touches, whether AQE coalesces the shuffle into one
    write task or (under a small advisory size) keeps several."""
    ml = MessageLog(spark, str(tmp_path / "log"))
    confs = (
        {
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1",
        }
        if small_partitions
        else {}
    )
    path = ml.topic_path("t")
    seen: set[str] = set()
    for start in (0, 2000, 4000):
        with scoped_confs(spark, confs):
            ml.produce(_messages(spark, 2000, start), topic="t",
                       payload_cols=["event_id"], key="user",
                       sequence_id="event_id", publish_time="ts",
                       time_partition=time_partition)
        new = [p for p in _data_files(path) if p not in seen]
        seen.update(new)
        dirs = [os.path.dirname(p) for p in new]
        assert len(dirs) == len(set(dirs))
        depth = 2 if time_partition else 1
        assert all(
            os.path.relpath(d, path).count(os.sep) == depth - 1 for d in dirs
        )
        assert len({os.path.relpath(d, path).split(os.sep)[0] for d in dirs}) == 8
        assert (len(_write_tasks(new)) > 1) == small_partitions
    assert ml.read("t").count() == 6000


# -- the local filesystem shim ----------------------------------------------


def _jvm(spark):
    return spark.sparkContext._jvm


def _fs(spark, impl: str | None = None):
    jvm = _jvm(spark)
    conf = jvm.org.apache.hadoop.conf.Configuration(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    if impl is not None:
        conf.set("fs.file.impl", impl)
    return jvm.org.apache.hadoop.fs.FileSystem.newInstance(
        jvm.java.net.URI("file:///"), conf
    )


def _path(spark, p):
    return _jvm(spark).org.apache.hadoop.fs.Path(str(p))


def _perm(spark, symbolic: str):
    return _jvm(spark).org.apache.hadoop.fs.permission.FsPermission.valueOf(symbolic)


def test_shared_session_uses_the_shim(spark):
    jvm = _jvm(spark)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == _FS_CLASS
    assert fs.getRawFileSystem().getClass().getName() == _FS_CLASS + "$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == _FS_CLASS + "$Fs"


def _modes(root) -> dict[str, int]:
    return {
        os.path.relpath(os.path.join(r, n), root): stat.S_IMODE(
            os.lstat(os.path.join(r, n)).st_mode
        )
        for r, dirs, files in os.walk(root)
        for n in dirs + files
    }


def test_shim_mode_bits_match_stock_fs(spark, tmp_path):
    """Directories and files the shim creates, with default or explicit
    permissions, get the mode bits Hadoop's own local filesystem gives
    them; a Spark write through the session matches the stock defaults."""
    for name, fs in (
        ("shim", _fs(spark)),
        ("stock", _fs(spark, "org.apache.hadoop.fs.LocalFileSystem")),
    ):
        base = tmp_path / name
        fs.mkdirs(_path(spark, base / "d" / "e"))
        fs.mkdirs(_path(spark, base / "d750"), _perm(spark, "drwxr-x---"))
        fs.create(_path(spark, base / "d" / "f")).close()
        fs.create(_path(spark, base / "g"), _perm(spark, "-rw-r-----"), True,
                  4096, 1, 1 << 20, None).close()
        fs.create(_path(spark, base / "h")).close()
        fs.setPermission(_path(spark, base / "h"), _perm(spark, "-rw----r--"))
        fs.close()
    shim, stock = _modes(tmp_path / "shim"), _modes(tmp_path / "stock")
    assert shim == stock and len(shim) >= 9
    assert shim["g"] == 0o640 and shim["h"] == 0o604 and shim["d750"] == 0o750

    spark.range(5).select("id", (F.col("id") % 2).alias("p")).write.partitionBy(
        "p"
    ).parquet(str(tmp_path / "spark"))
    written = _modes(tmp_path / "spark")
    assert {m for p, m in written.items() if os.path.isdir(tmp_path / "spark" / p)} == {
        stock["d"]
    }
    assert {m for p, m in written.items() if os.path.isfile(tmp_path / "spark" / p)} == {
        stock["d/f"]
    }


def test_shim_sticky_mode_goes_through_hadoop(spark, tmp_path):
    """A mode above 0777 (java.nio cannot set it) goes through the stock
    implementation and keeps its sticky bit."""
    fs = _fs(spark)
    d = tmp_path / "sticky"
    fs.mkdirs(_path(spark, d))
    fs.setPermission(_path(spark, d), _perm(spark, "drwxrwxrwt"))
    fs.close()
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o1777


def test_shim_link_status_matches_stock_fs(spark, tmp_path):
    target = tmp_path / "target"
    target.write_text("x")
    (tmp_path / "dir").mkdir()
    os.symlink(target, tmp_path / "link")
    shim, stock = _fs(spark), _fs(spark, "org.apache.hadoop.fs.LocalFileSystem")
    for name in ("target", "dir", "link"):
        a = shim.getFileLinkStatus(_path(spark, tmp_path / name))
        b = stock.getFileLinkStatus(_path(spark, tmp_path / name))
        assert a.toString() == b.toString()
        assert a.isSymlink() == (name == "link")
    link = shim.getFileLinkStatus(_path(spark, tmp_path / "link"))
    assert link.getSymlink().toUri().getPath() == str(target)
    shim.close()
    stock.close()


def test_fs_jar_is_none_without_javac(tmp_path, monkeypatch, caplog):
    monkeypatch.setenv("HOME", str(tmp_path))
    monkeypatch.setenv("PATH", str(tmp_path))
    assert local_fs_jar() is None
    assert "no javac on PATH" in caplog.text


def test_fs_confs_are_empty_when_the_running_jvm_lacks_the_shim(spark, monkeypatch, caplog):
    """A JVM keeps the classpath it started with: when it cannot load
    the shim class, the session keeps the stock filesystem and says so."""
    from pulsar_lunar_spark import session as S

    monkeypatch.setattr(S, "_FS_CLASS", _FS_CLASS + "Missing")
    assert S._local_fs_confs() == {}
    assert "the running JVM was started without its jar" in caplog.text


# -- one rule for the job-success marker -------------------------------------

_MARKER = "marksuccessfuljobs"
_MARKER_HOMES = {
    (os.path.join("pulsar_lunar_spark", "session.py"), "get_spark"),
    (os.path.join("pulsar_lunar_spark", "operators", "maintenance.py"), "write_snapshot"),
}


def _marker_sites(rel: str, source: str) -> set[tuple[str, str | None]]:
    sites = set()

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and _MARKER in node.value:
            sites.add((rel, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(source), None)
    return sites


def test_success_marker_conf_has_one_rule():
    """``marksuccessfuljobs`` is set in two places only: the session
    default in ``get_spark`` and the opt-in of ``write_snapshot``."""
    sites = set()
    for root, dirs, files in os.walk(os.path.join(ROOT, "pulsar_lunar_spark")):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, ROOT)
            with open(path, encoding="utf-8") as fh:
                source = fh.read()
            if name.endswith(".py"):
                sites |= _marker_sites(rel, source)
            elif _MARKER in source:
                sites.add((rel, None))
    assert sites == _MARKER_HOMES
