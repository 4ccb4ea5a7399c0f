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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# InferFiltersFromGenerate turns explode(col) into a `size(col) > 0` filter;
# when `col` aliases an expensive expression (the shingle HOF), filter
# pushdown substitutes the definition and sinks it BELOW the parallelizing
# exchange — the whole corpus's shingle transform then runs once on the
# scan's single input split (serial) and AGAIN after the exchange.  Measured
# on q_contamination at sf0.1: 4.4 s -> 0.94 s steady-state from excluding
# the rule.  Semantics are unaffected (Generate with outer=false already
# skips empty arrays); the inferred filter is purely an early-prune that
# never helps our plans (derived arrays are non-empty by construction).
_EXCLUDED_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def get_spark(app_name: str = "pulsar-lunar-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    On a real cluster the master/conf comes from spark-submit; the builder
    only *adds* analytics-friendly defaults, so it is cluster-safe.
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
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


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
    a per-pid path)."""
    import atexit
    import shutil

    if not _SCRATCH_PATHS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in sorted(_SCRATCH_PATHS)]
        )
    _SCRATCH_PATHS.add(path)
    return path


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
    back to the system tempdir when /dev/shm is unwritable). The single
    home of the root-selection + scratch_at_exit + tag idiom that fixture
    caches share — fix root selection here, not at call sites.

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
# not deadlock; cross-kind builds (a topic produce reads load_table,
# _clips_topic reads _vdup_fixture) take a DIFFERENT key's lock — safe
# because the kind dependency graph is acyclic by construction.
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
    fresh ``versioned_slot`` under ``scratch_root(kind, sf_dir)`` and the
    slot path is returned to every later call with the same key.

    The path is recorded only after ``write`` returns, so a failed or
    interrupted write is never served; a fresh slot per build means a
    rebuild never deletes files an earlier returned DataFrame still
    lists; and a recorded directory that has since vanished rebuilds."""

    def build() -> str:
        path = versioned_slot(scratch_root(kind, sf_dir), "v")
        write(path)
        return path

    return _stored(spark, sf_dir, kind, build, lambda path: not os.path.isdir(path))


def shared_spool(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    """A materialized fixture table: run ``build() -> DataFrame`` once per
    :func:`artifact` key, spool it to parquet, and hand every caller
    ``spark.read.parquet(path)`` — the `trade_edges` pattern (build an
    artifact once, run N operators over it; exactly the at-scale shape
    where the shared table is materialized, not a per-query subplan)."""
    path = artifact_dir(
        spark, sf_dir, kind, lambda p: build().write.mode("overwrite").parquet(p)
    )
    return spark.read.parquet(path)


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
