"""SparkSession factory and table loaders.

Scale notes (100 TB design): every conf below is chosen so that the same
code runs unchanged on a 1000-executor cluster — AQE handles runtime
partition coalescing and skew joins, the broadcast threshold lets small
dimension tables (region/nation/supplier at any SF) broadcast instead of
shuffling, and Arrow keeps any pandas-UDF path vectorized. Nothing here
hand-schedules what Catalyst already optimizes.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# InferFiltersFromGenerate turns explode(col) into a `size(col) > 0` filter;
# when `col` aliases an expensive expression (the shingle HOF), filter
# pushdown substitutes the definition and sinks it BELOW the parallelizing
# exchange — the whole corpus's shingle transform then runs once on the
# scan's single input split (serial) and AGAIN after the exchange.  Measured
# on q_contamination at sf0.1: 4.4 s -> 0.94 s steady-state from excluding
# the rule.  Semantics are unaffected (Generate with outer=false already
# skips empty arrays); the inferred filter is purely an early-prune that
# never helps our plans (a derived shingle array is empty only for a
# document with no tokens, and such documents are rare).
_EXCLUDED_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)

# How long stopping a streaming query may wait for its running micro-batch
# (Spark's default, 0, waits forever). A drain stopped at its time limit
# (streaming.ops.run_available_now) must not hand the caller's thread to
# a hung foreachBatch body until that body returns.
_STREAM_STOP_TIMEOUT = "5s"


# The directory that holds the package, so a Python worker can import
# pulsar_lunar_spark._daemon whatever the driver's working directory is.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The local filesystem a local master uses for ``file:`` paths, and the
# FileContext binding of it (jvm/NioLocalFileSystem.java).
_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java"
)
_FS_CLASS = "pulsar_lunar_spark.jvm.NioLocalFileSystem"


def get_spark(app_name: str = "pulsar-lunar-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    On a real cluster the master/conf comes from spark-submit; the builder
    only *adds* analytics-friendly defaults, so it is cluster-safe.

    With a local master (``SPARK_GRAFT_ON_CLUSTER`` unset) the Python
    workers start from :mod:`pulsar_lunar_spark._daemon` instead of the
    stock ``pyspark.daemon``. Spark puts ``pyspark.zip``, the py4j zip
    and the spark-core jar on the worker path, and every Python task
    calls ``importlib.invalidate_caches()``, which re-reads the central
    directory of each zip on the path (a 1-task Python job: 150-260 ms
    with the archives, 85-125 ms without; local[2], 4-vCPU VM). The
    daemon drops those archives from the path when the same pyspark
    imports from a directory, as it does for the pip install the driver
    runs. The package's parent directory goes on the
    workers' ``PYTHONPATH`` so the daemon imports from any working
    directory. A cluster keeps the stock daemon: its workers' Python
    install is not the driver's to assume.

    Writes leave no ``_SUCCESS`` marker. Creating it truncates the
    previous append's ``._SUCCESS.crc``, and on ext4 truncating a
    recently written file waits for its writeback (about 80 ms per
    topic append). The one reader of the marker,
    :func:`pulsar_lunar_spark.operators.maintenance.write_snapshot`, asks
    for it per write.

    A local master also maps ``file:`` to
    ``pulsar_lunar_spark.jvm.NioLocalFileSystem`` (see
    :func:`local_fs_jar`): Hadoop's checksummed local filesystem, but
    permissions and link checks go through ``java.nio`` instead of a
    forked ``chmod``/``readlink`` (about 1 ms each, some 70 per topic
    append without the native hadoop library). When the jar cannot be
    built the session keeps Hadoop's stock local filesystem and one
    warning is logged.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.excludedRules", _EXCLUDED_RULES)
        .config("spark.sql.streaming.stopTimeout", _STREAM_STOP_TIMEOUT)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = (
            builder.master(f"local[{cpus}]")
            .config("spark.python.daemon.module", "pulsar_lunar_spark._daemon")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        )
        for key, value in _local_fs_confs().items():
            builder = builder.config(key, value)
    return builder.getOrCreate()


def _local_fs_unavailable(reason: str) -> None:
    import logging

    logging.getLogger(__name__).warning(
        "local filesystem shim unavailable (%s); using Hadoop's stock "
        "local filesystem",
        reason,
    )


def _local_fs_confs() -> dict[str, str]:
    """The confs that put the local filesystem shim under ``file:``, or
    none, with one logged warning, when its jar is missing or a running
    JVM cannot load it (a JVM keeps the classpath it started with, so a
    session built before the first ``get_spark`` keeps the stock
    filesystem)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    jar = local_fs_jar()
    if jar is None:
        return {}
    if SparkContext._jvm is not None:
        try:
            SparkContext._jvm.java.lang.Class.forName(_FS_CLASS)
        except Py4JError:
            _local_fs_unavailable("the running JVM was started without its jar")
            return {}
    return {
        "spark.driver.extraClassPath": jar,
        "spark.hadoop.fs.file.impl": _FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": _FS_CLASS + "$Fs",
    }


def local_fs_jar() -> str | None:
    """Path of the compiled ``jvm/NioLocalFileSystem.java``, or None.

    Built once with ``javac --release 17`` against Spark's Hadoop client
    jar (about 1-3 s) into ``~/.cache/pulsar_lunar_spark``, named by a
    digest of the source and that jar's file name, and written
    atomically, so concurrent builders and later sessions share one
    copy. None, with one logged warning, when the jar cannot be built:
    no Hadoop client jar, no ``javac`` on ``PATH``, an unwritable cache
    directory or a failed compile."""
    import glob
    import hashlib
    import shutil
    import subprocess
    import tempfile
    import zipfile

    from pyspark.find_spark_home import _find_spark_home

    hadoop = sorted(
        glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    )
    if not hadoop:
        return _local_fs_unavailable("no hadoop-client-api jar")
    with open(_FS_SOURCE, "rb") as fh:
        digest = hashlib.sha256(fh.read() + os.path.basename(hadoop[-1]).encode())
    cache = os.path.join(os.path.expanduser("~"), ".cache", "pulsar_lunar_spark")
    jar = os.path.join(cache, f"nio-local-fs-{digest.hexdigest()[:16]}.jar")
    if os.path.isfile(jar):
        return jar
    javac = shutil.which("javac")
    if javac is None:
        return _local_fs_unavailable("no javac on PATH")
    try:
        os.makedirs(cache, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=cache) as tmp:
            classes = os.path.join(tmp, "classes")
            subprocess.run(
                [javac, "--release", "17", "-cp", hadoop[-1], "-d", classes, _FS_SOURCE],
                check=True,
                capture_output=True,
                timeout=300,
            )
            part = os.path.join(tmp, "part.jar")
            with zipfile.ZipFile(part, "w") as zf:
                for root, _dirs, files in os.walk(classes):
                    for name in files:
                        path = os.path.join(root, name)
                        zf.write(path, os.path.relpath(path, classes))
            os.replace(part, jar)
    except (OSError, subprocess.SubprocessError) as exc:
        return _local_fs_unavailable(f"{type(exc).__name__}: {exc}")
    return jar


def _configure(spark: SparkSession) -> None:
    """Runtime-settable confs we depend on for oracle-exact semantics.

    Applied even when the caller (the verification driver) owns the
    session: UTC keeps timestamp collection deterministic vs DuckDB, and
    nanosAsLong lets Spark read parquet TIMESTAMP(NANOS) columns (read as
    raw nanos, re-typed in load_table the way DuckDB truncates to micros).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.optimizer.excludedRules", _EXCLUDED_RULES)
    # Analytics defaults that are runtime-settable: applied ONCE per session
    # so a session the CALLER owns (the verification driver, a notebook)
    # gets the same tuned behavior as get_spark() sessions — and never
    # re-applied, so a query that deliberately scopes a conf (the bloom /
    # DPP demos set autoBroadcastJoinThreshold=-1 around their own
    # load_table calls) is not clobbered mid-flight. Shuffle partitions are
    # sized to the machine instead of Spark's default 200 — at bench scale
    # 200 partitions means 200 sub-ms tasks per exchange, pure overhead.
    app_id = spark.sparkContext.applicationId
    if app_id not in _CONFIGURED_APPS:
        _CONFIGURED_APPS.add(app_id)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.conf.set("spark.sql.streaming.stopTimeout", _STREAM_STOP_TIMEOUT)
        try:
            if int(spark.conf.get("spark.sql.shuffle.partitions")) > 64:
                spark.conf.set(
                    "spark.sql.shuffle.partitions",
                    str(max(spark.sparkContext.defaultParallelism, 8)),
                )
        except Exception:
            pass
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf may be static on some builds; load_table still works


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (unsupported natively by
    Spark's vectorized reader — surfaced as long when nanosAsLong is on)."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        schema = pq.read_schema(path)
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


_SCRATCH_PATHS: set[str] = set()


def scratch_at_exit(path: str) -> str:
    """Register a scratch directory for best-effort removal at process
    exit. Per-process fixture caches live on tmpfs (/dev/shm) — RAM —
    so a harness that abandons its pid-tagged directories would fill
    memory across repeated pytest/driver/bench runs. Registering is
    idempotent; removal is ignore-errors (another process never shares
    a per-pid path). The parent (the ``<root>/<kind>`` directory of
    :func:`scratch_root`) goes too once it is empty; a directory another
    process still keeps its own tag in is not empty and stays."""
    import atexit

    if not _SCRATCH_PATHS:
        atexit.register(_remove_scratch)
    _SCRATCH_PATHS.add(path)
    return path


def _remove_scratch() -> None:
    import shutil

    for path in sorted(_SCRATCH_PATHS):
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(path))
        except OSError:
            pass


def spool_base_dir() -> str:
    """Root directory for every derived artifact the engine spools
    (fixture caches, artifact spools, streaming logs/stores/checkpoints).

    ``SPARK_GRAFT_SPOOL_DIR`` (r12, VERDICT r11 item 6) is the cluster
    lever: in local mode every executor IS the driver process, so
    driver-local tmpfs is readable by every task — but on a real cluster
    executors cannot read the driver's /dev/shm, so spool consumers
    (trade_edges, the KN model, the minhash pair table, the ingest
    stores) must land on storage all nodes mount (NFS/EFS/object-store
    FUSE). Point the override at that mount; see SCALE.md. Local
    default: /dev/shm (tmpfs), falling back to the system tempdir."""
    import os
    import tempfile

    override = os.environ.get("SPARK_GRAFT_SPOOL_DIR")
    if override:
        return override
    return "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()


def scratch_root(kind: str, sf_dir: str | None = None) -> str:
    """The per-(kind, dataset, process) scratch directory, registered
    for removal at process exit: ``$SPARK_GRAFT_SPOOL_DIR/<kind>/<tag>``
    when the override is set, else ``/dev/shm/<kind>/<tag>`` (falling
    back to the system tempdir when /dev/shm is unwritable). With
    :func:`scratch_dir` and :func:`artifact_dir` on top of it, this is
    the single home of the root selection, the tag and the exit cleanup
    of every engine working directory — fix them here, not at call
    sites.

    Root selection (incl. the ``SPARK_GRAFT_SPOOL_DIR`` cluster
    override) lives in :func:`spool_base_dir`."""
    import os

    root = spool_base_dir()
    parts = [root, kind]
    if sf_dir is not None:
        parts.append(sf_cache_tag(sf_dir))
    else:
        parts.append(str(os.getpid()))
    return scratch_at_exit(os.path.join(*parts))


def scratch_dir(kind: str, sf_dir: str | None = None) -> str:
    """A fresh per-call working directory (a checkpoint, a sink, a
    fixture copy, a small result spool): ``<scratch_root>/v-<n>``, not
    yet created. The one way engine code gets a directory of its own.

    Every call returns a new path, so a stream restarts from an empty
    checkpoint and a write never lands on a stale copy. The previous
    call's directory is kept (keep-last-2, :func:`versioned_slot`), so a
    DataFrame returned by the previous call still reads; older ones are
    deleted, and the whole root at process exit. ``kind`` names the
    directory in scratch listings; two different uses must not share
    one."""
    return versioned_slot(scratch_root(kind, sf_dir), "v")


def replace_dir(path: str, write) -> None:
    """Replace directory ``path`` (created if absent) with what
    ``write(tmp)`` puts into a fresh sibling ``tmp`` — the rewrite rule
    of every table maintenance step (compaction, MERGE, CDC apply,
    retention, ledger compaction).

    If ``write`` raises, ``tmp`` is removed and ``path`` is left as it
    was. Otherwise ``path`` is renamed aside, ``tmp`` is renamed into
    place and the old copy is deleted, so the live path is never
    deleted before its replacement is complete. Sibling names start
    with ``.``, which Spark's file listing skips, so a partitioned
    table's reader never sees a half-written partition."""
    import shutil
    import uuid

    parent, name = os.path.split(os.path.normpath(path))
    tmp = os.path.join(parent, f".{name}.__tmp_{uuid.uuid4().hex[:8]}")
    try:
        write(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if not os.path.exists(path):
        os.rename(tmp, path)
        return
    old = os.path.join(parent, f".{name}.__old_{uuid.uuid4().hex[:8]}")
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


_SLOT_COUNTERS: dict[tuple[str, str], int] = {}


def versioned_slot(root_dir: str, prefix: str, keep: int = 2) -> str:
    """A fresh ``<root_dir>/<prefix>-<n>`` output slot per call, pruning
    all but the newest ``keep`` siblings with the same prefix.

    For queries that spool a small result to tmpfs and return
    ``spark.read.parquet(slot)``: a FIXED slot with mode=overwrite would
    delete the very files a previously returned DataFrame still lists
    (collect after a later call => FileNotFoundException), while fully
    unbounded versioning accumulates RAM-backed copies across bench reps.
    keep=2 preserves the previous call's result (the common
    compare-two-runs shape) and bounds the footprint."""
    import os
    import shutil

    key = (root_dir, prefix)
    _SLOT_COUNTERS[key] = _SLOT_COUNTERS.get(key, 0) + 1
    n = _SLOT_COUNTERS[key]
    for old in range(1, n - keep + 1):
        shutil.rmtree(os.path.join(root_dir, f"{prefix}-{old}"), ignore_errors=True)
    return os.path.join(root_dir, f"{prefix}-{n}")


def sf_cache_tag(sf_dir: str) -> str:
    """Per-(dataset, process) tag for fixture-cache directory names.

    Keys on the RESOLVED path (an 8-hex digest of realpath), not just the
    basename: two different sf_dirs sharing a basename in one process must
    never silently reuse a topic produced from the other dataset. The
    basename stays in the tag for human-readable scratch listings; the pid
    isolates concurrent harnesses (same reasoning as scratch_at_exit)."""
    import hashlib
    import os

    real = os.path.realpath(sf_dir)
    digest = hashlib.sha256(real.encode()).hexdigest()[:8]
    return f"{os.path.basename(os.path.normpath(sf_dir)) or 'sf'}-{digest}-{os.getpid()}"


# The one store of derived data: key -> value (an analyzed table plan, a
# trained model, a cutoff constant, or the slot path of a spool or a
# produced topic). Registry guard only (dict mutations); each key builds
# under its OWN RLock, so cold builds of unrelated keys never serialize on
# each other (ADVICE r10). Same-key re-entry from the owning thread must
# not deadlock; cross-kind builds (a topic produce reads load_table, the
# clips topic's _day_topic produce reads _vdup_fixture) take a DIFFERENT
# key's lock — safe because the kind dependency graph is acyclic by
# construction.
_ARTIFACTS: dict[tuple, object] = {}
_ARTIFACTS_LOCK = threading.Lock()
_ARTIFACT_KEYLOCKS: dict[tuple, threading.RLock] = {}


def _dataset_stamp(sf_dir: str) -> str:
    """Content-identity stamp for a dataset dir: digest of every
    *.parquet entry's (name, mtime_ns, size). A dataset regenerated IN
    PLACE at the same path gets a new stamp, so artifacts keyed on it
    rebuild instead of silently serving stale derived data."""
    import hashlib

    real = os.path.realpath(sf_dir)
    parts = []
    try:
        for name in sorted(os.listdir(real)):
            if name.endswith(".parquet"):
                st = os.stat(os.path.join(real, name))
                parts.append(f"{name}:{st.st_mtime_ns}:{st.st_size}")
    except OSError:
        pass
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:12]


def _stored(spark: SparkSession, sf_dir: str, kind, build, stale):
    key = (
        spark.sparkContext.applicationId,
        os.path.realpath(sf_dir),
        _dataset_stamp(sf_dir),
        kind,
    )
    with _ARTIFACTS_LOCK:
        keylock = _ARTIFACT_KEYLOCKS.setdefault(key, threading.RLock())
    with keylock:
        if key not in _ARTIFACTS or stale(_ARTIFACTS[key]):
            _ARTIFACTS[key] = build()
        return _ARTIFACTS[key]


def artifact(spark: SparkSession, sf_dir: str, kind, build, *, rebuild: bool = False):
    """``build()``'s value, built ONCE per key (Spark applicationId,
    realpath(sf_dir), dataset content stamp, kind) and reused by every
    later call — the one cache of derived data in the engine. Every
    artifact is a deterministic function of the immutable input tables,
    so the key names everything the value depends on; ``kind`` must
    carry any further input that changes the output.

    The build runs under the key's own lock, so same-key racers wait for
    one build. ``rebuild=True`` is the producer rule: a query whose
    declared work IS building the artifact (training a model) passes it
    and always rebuilds, refreshing the value for consumers, which call
    with the default and reuse it.

    Consequences of the key: an artifact rebuilds when the dataset's
    content changes in place (new stamp), and also after a SparkSession
    restart in the same process (new applicationId) — never serving a
    plan bound to a dead context; for topics and fixtures the restart
    rebuild costs time only."""
    return _stored(spark, sf_dir, kind, build, lambda _value: rebuild)


def artifact_dir(spark: SparkSession, sf_dir: str, kind: str, write) -> str:
    """The on-disk form of :func:`artifact`: ``write(path)`` fills a
    fresh :func:`scratch_dir` and that path is returned to every later
    call with the same key.

    The path is recorded only after ``write`` returns, so a failed or
    interrupted write is never served; a fresh slot per build means a
    rebuild never deletes files an earlier returned DataFrame still
    lists; and a recorded directory that has since vanished rebuilds."""

    def build() -> str:
        path = scratch_dir(kind, sf_dir)
        write(path)
        return path

    return _stored(spark, sf_dir, kind, build, lambda path: not os.path.isdir(path))


def shared_spool(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    """A materialized fixture table: run ``build() -> DataFrame`` once per
    :func:`artifact` key, spool it to parquet, and hand every caller
    ``spark.read.parquet(path)`` — the `trade_edges` pattern (build an
    artifact once, run N operators over it; exactly the at-scale shape
    where the shared table is materialized, not a per-query subplan).

    The read itself is an artifact keyed on the spool path: a recorded
    directory never changes, so its footer-inference job runs once per
    slot and a warm call submits no job."""
    path = artifact_dir(
        spark, sf_dir, kind, lambda p: build().write.mode("overwrite").parquet(p)
    )
    return artifact(spark, sf_dir, ("spool", path), lambda: spark.read.parquet(path))


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set runtime ``confs`` for the body of a ``with`` block and restore
    each one (unset if it had no value) on the way out, also when the
    body raises. A query that tunes the optimizer for its own plan must
    run its action inside the block — Catalyst reads most confs when the
    action plans — and hand back a localized result (:func:`local_rows`)
    so no lazy tail re-plans under the restored values."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Rows the driver already holds (tuples or Rows in ``schema``'s
    column order; ``schema`` a DDL string or a ``StructType``) as a
    DataFrame — the one way engine code turns driver values into a
    table.

    The rows travel as one Arrow table and land in a ``LocalRelation``:
    collecting it runs no Spark job, and no Python worker ever unpickles
    them. ``createDataFrame`` of a plain list, or of a ``parallelize``d
    RDD, runs a Python task over the pickled rows instead."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


# Sessions (by applicationId) whose one-time analytics defaults have been
# applied — see _configure.
_CONFIGURED_APPS: set[str] = set()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table (see TESTDATA.md / FIXTURES.md).

    TIMESTAMP(NANOS) columns are converted to microsecond TimestampType by
    integer-dividing the raw nanos — identical to DuckDB's truncation, so
    oracle comparisons stay exact. The analyzed DataFrame is an
    :func:`artifact`: the footer read + file listing + analysis (~130 ms
    per call, measured warm) is paid once per table, not per query run.
    """
    _configure(spark)

    def build() -> DataFrame:
        path = os.path.join(sf_dir, f"{name}.parquet")
        df = spark.read.parquet(path)
        for c in _nanos_timestamp_cols(path):
            if c in df.columns and dict(df.dtypes).get(c) == "bigint":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        df = _normalize_timestamps(df)
        df.schema  # force analysis now so every consumer shares the resolved plan
        return df

    return artifact(spark, sf_dir, ("table", name), build)


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (identity under the UTC
    session tz) so the whole query surface sees exactly one timestamp type.

    Depending on whether `nanosAsLong` could be applied (it is a static conf
    on sessions the verification driver owns), parquet timestamps can surface
    as TIMESTAMP or TIMESTAMP_NTZ; functions like unix_micros reject NTZ.
    Normalizing once at load kills that class of bug for every query.
    """
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz:
        return df
    return df.select(
        *[
            F.col(c).cast("timestamp").alias(c) if c in ntz else F.col(c)
            for c in df.columns
        ]
    )


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a DataFrame UP to the cluster's parallelism —
    only when it currently has fewer partitions.

    CPU-bound per-row derivations (minhash/simhash signatures, language
    scoring, shingling) otherwise inherit the scan's split count; a small
    parquet file is one split, serializing the whole computation on one core
    (measured: the entire sf0.1 minhash pipeline on 1 of 32 cores). The
    shuffle moves only the raw input rows once and is skipped entirely when
    the source already has enough splits — at 100 TB the scan has thousands
    of splits and this is a no-op.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Load tables and register temp views (so spark.sql works too).

    ``names`` restricts to the views a query actually reads — each
    registration costs a driver-side parquet footer read + analysis pass,
    so registering all 10 tables to run a 2-table SQL statement triples
    the statement's wall clock at bench scale."""
    _configure(spark)
    out: dict[str, DataFrame] = {}
    for name in names if names is not None else TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
