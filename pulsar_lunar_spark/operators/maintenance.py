"""Table-maintenance operators for the 100 TB pipeline: small-file
compaction and keyed MERGE-style upsert over plain parquet.

A long-running ingest (micro-batched streaming sink, hourly mixture
drops) accretes thousands of KB-sized files; scan cost then becomes
file-open-bound, not byte-bound. Compaction rewrites a directory to
~target-sized files. Upsert gives the CDC/dedup-by-key write path that
table formats call MERGE INTO, built from a full-outer join + a
directory swap (session.replace_dir) — no Delta/Iceberg dependency,
same semantics for the "latest record per key wins" case (the
reference's compacted-topic model, ``readCompacted`` in
PulsarApi.proto:317-319, applied to storage instead of a broker).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.session import replace_dir


def plan_compaction(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> tuple[int, int]:
    """Return (current_file_count, target_file_count) for a parquet dir.

    Target = ceil(total_bytes / target_bytes) — the partition count a
    compaction rewrite should coalesce to (128 MB default ≈ one HDFS/S3
    block per file, the scan-friendly size).
    """
    total = 0
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n += 1
    return n, max(1, -(-total // target_bytes))


def compact_files(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> int:
    """Rewrite a parquet directory to ~target_bytes files; returns the new
    file count. Uses coalesce (no shuffle — merges existing splits) and an
    tmp-dir swap (session.replace_dir) so readers never observe a
    half-written table.
    """
    n_now, n_target = plan_compaction(spark, path, target_bytes)
    if n_now <= n_target:
        return n_now
    replace_dir(
        path,
        spark.read.parquet(path).coalesce(n_target).write.mode("overwrite").parquet,
    )
    return sum(
        1
        for _root, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str | None = None,
) -> None:
    """MERGE INTO for plain parquet: rows in ``updates`` replace target
    rows with the same key; unmatched update rows are inserted.

    With ``version_col``, the higher version wins regardless of side
    (idempotent under replayed/out-of-order batches — the log-compaction
    guarantee). Implemented as union + one per-key max-struct aggregate:
    the target is hash-partitioned by key once; at scale, pre-bucketing
    the target by the key makes the rewrite shuffle-free
    (partitioning.write_bucketed). The rewrite replaces the directory
    through session.replace_dir.
    """
    target = spark.read.parquet(target_path)
    cols = target.columns
    if set(cols) != set(updates.columns):
        raise ValueError(f"schema mismatch: {cols} vs {updates.columns}")
    # precedence: updates > target; encode as (version, side) struct max
    side_tag = F.lit(1)
    ver = F.col(version_col) if version_col else F.lit(0)
    tagged = target.select(*cols).withColumn("__pri", F.struct(ver.alias("v"), F.lit(0).alias("s"))).unionByName(
        updates.select(*cols).withColumn("__pri", F.struct(ver.alias("v"), side_tag.alias("s")))
    )
    payload = [c for c in cols if c not in key_cols]
    merged = (
        tagged.groupBy(*key_cols)
        .agg(
            F.max(
                F.struct(F.col("__pri"), *[F.col(c) for c in payload])
            ).alias("__win")
        )
        .select(*key_cols, *[F.col(f"__win.{c}").alias(c) for c in payload])
    )
    replace_dir(target_path, merged.select(*cols).write.mode("overwrite").parquet)


def cdc_apply(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    key_cols: list[str],
    version_cols: list[str],
    op_col: str = "op",
) -> None:
    """Apply a CDC change batch — upserts (``op='u'``) AND deletes
    (``op='d'``) — to a keyed parquet table: the foreachBatch half of a
    streaming MERGE (what table formats spell ``WHEN MATCHED AND s.op='d'
    THEN DELETE``).

    Per key, the row with the highest (version_cols..., source-side)
    wins; only that comparator is ordered (the payload is carried via
    max_by, so payload columns may be any type, ordered or not), and
    comparator ties resolve arbitrarily — include a unique sequence id
    in ``version_cols`` for full determinism, as every real change
    stream can. Winning deletes are retained as TOMBSTONES (the stored table
    keeps the ``op`` column): without them, a stale upsert redelivered
    in a LATER batch would find no row to lose to and silently resurrect
    a deleted key — the classic CDC tombstone hazard. With them, version
    precedence makes the apply idempotent under replayed batches and
    correct under out-of-order delivery across batches. Read the serving
    view through :func:`cdc_live` (filters tombstones out). Tombstones
    are kept: expiring those older than the source's maximum redelivery
    horizon (the age-based GC Kafka compaction applies to its null
    records) is not implemented.

    One union + per-key max-struct aggregate + session.replace_dir; at
    scale, bucketing the target by the key makes the rewrite
    shuffle-free on the target side."""
    cols = changes.columns
    for c in key_cols + version_cols + [op_col]:
        if c not in cols:
            raise ValueError(f"changes missing column {c!r}")
    exists = os.path.isdir(target_path) and any(
        f.endswith(".parquet")
        for _r, _d, fs in os.walk(target_path)
        for f in fs
    )
    src = changes.withColumn("__side", F.lit(1))
    if exists:
        target = spark.read.parquet(target_path).withColumn("__side", F.lit(0))
        src = target.select(*cols, "__side").unionByName(src.select(*cols, "__side"))
    payload = [c for c in cols if c not in key_cols]
    # max_by: ONLY (version_cols, __side) is compared — the payload rides
    # as the VALUE, so unorderable payload types (maps) are fine. Ties on
    # the full comparator are resolved arbitrarily; real change streams
    # carry a unique sequence id — include it in version_cols (exactly the
    # tiebreak contract compacted_latest_by_key documents).
    ord_struct = F.struct(*[F.col(c) for c in version_cols], F.col("__side"))
    merged = (
        src.groupBy(*key_cols)
        .agg(
            F.max_by(F.struct(*[F.col(c) for c in payload]), ord_struct).alias(
                "__win"
            )
        )
        .select(
            *key_cols,
            *[F.col(f"__win.{c}").alias(c) for c in payload],
        )
    )
    replace_dir(target_path, merged.select(*cols).write.mode("overwrite").parquet)


def cdc_live(spark: SparkSession, target_path: str, op_col: str = "op") -> DataFrame:
    """The serving view of a cdc_apply target: every live key (tombstones
    filtered out, the op column dropped)."""
    return spark.read.parquet(target_path).filter(F.col(op_col) != "d").drop(op_col)


# ---------------------------------------------------------------------------
# Snapshot versioning: time travel over plain parquet
# ---------------------------------------------------------------------------

def snapshot_versions(path: str) -> list[int]:
    """Committed snapshot versions under `path` (dirs named v=<n> that
    contain a _SUCCESS marker — a crashed write never becomes visible)."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        if name.startswith("v=") and os.path.exists(
            os.path.join(path, name, "_SUCCESS")
        ):
            out.append(int(name[2:]))
    return sorted(out)


def write_snapshot(df: DataFrame, path: str) -> int:
    """Append a new immutable snapshot (version = max committed + 1) and
    return its number. Readers of older versions are never disturbed —
    the multi-version storage model (time travel) that table formats
    provide, built on directory-per-version parquet: the commit point is
    the atomic appearance of _SUCCESS, so concurrent readers either see
    the version fully or not at all. The write asks for the marker
    itself: ``get_spark`` sessions write none by default."""
    vs = snapshot_versions(path)
    v = (vs[-1] + 1) if vs else 0
    (
        df.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
        .parquet(os.path.join(path, f"v={v}"))
    )
    return v


def read_snapshot(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Read a table AS OF a snapshot version (time travel); latest when
    version is None."""
    vs = snapshot_versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in {vs}")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


# ---------------------------------------------------------------------------
# Incremental aggregate refresh (materialized-view maintenance)
# ---------------------------------------------------------------------------

def incremental_agg_refresh(
    spark: SparkSession,
    agg_path: str,
    delta: DataFrame,
    key_cols: list[str],
    count_col: str = "n",
    sum_cols: tuple[str, ...] = (),
) -> None:
    """Refresh a persisted per-key (count, sums) aggregate with a delta.

    The materialized-view maintenance identity for distributive
    aggregates: AGG(base ∪ delta) = AGG(AGG(base) ∪ AGG(delta)), so a
    refresh costs O(delta + |agg|) — never a rescan of the base fact
    table. The delta is pre-aggregated, unioned with the stored state,
    re-summed per key, and swapped in through session.replace_dir
    (readers see old or new, never half).

    `sum_cols` must be integral columns (exact addition — the identity
    only survives reorder for associative-exact arithmetic). AVG is
    served as sum/count at read time; MIN/MAX refresh the same way;
    non-distributive aggs (median, distinct) need sketches instead
    (see q_hll_distinct / q_approx_quantile).
    """
    delta_agg = delta.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias(count_col),
        *[F.sum(c).cast("long").alias(c) for c in sum_cols],
    )
    if os.path.isdir(agg_path):
        base = spark.read.parquet(agg_path)
        if set(base.columns) != set(delta_agg.columns):
            raise ValueError(
                f"schema mismatch: stored {sorted(base.columns)} vs "
                f"delta {sorted(delta_agg.columns)}"
            )
        merged = (
            base.unionByName(delta_agg)
            .groupBy(*key_cols)
            .agg(
                F.sum(count_col).alias(count_col),
                *[F.sum(c).alias(c) for c in sum_cols],
            )
        )
    else:
        merged = delta_agg
    replace_dir(agg_path, merged.write.mode("overwrite").parquet)
