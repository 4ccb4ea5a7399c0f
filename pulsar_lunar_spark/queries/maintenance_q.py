"""Driver-checked wrappers for the table-maintenance operators
(operators/maintenance.py): MERGE upsert, snapshot time travel, and
small-file compaction were previously pytest-only "side-effect ops";
these queries run the real mutation against a scratch copy and emit
aggregates a DuckDB oracle replicates analytically from the source
tables — so the CDC write path, the multi-version read path, and the
compaction rewrite all get value-exact correctness rows.

Each query rebuilds a fresh scratch directory (session.scratch_dir)
from the parquet sources on every invocation, so re-runs are
deterministic and the previous call's result stays readable.
Integer-cents payloads throughout (FLOOR(price*100) — floor of a double
is engine-exact both sides).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators import maintenance as M
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import load_table, scratch_dir


_PRICE_C = "CAST(FLOOR(o_totalprice * 100) AS BIGINT)"

_MERGE_ORACLE = f"""
WITH target AS (
    SELECT o_orderkey AS k, {_PRICE_C} AS price_c, 1 AS ver
    FROM orders WHERE o_orderkey % 4 = 0
), updates AS (
    SELECT o_orderkey AS k, {_PRICE_C} + 7 AS price_c, 2 AS ver
    FROM orders WHERE o_orderkey % 6 = 0
), merged AS (
    SELECT k,
           ARG_MAX(price_c, ver * 10 + side) AS price_c,
           ARG_MAX(ver, ver * 10 + side) AS ver
    FROM (
        SELECT k, price_c, ver, 0 AS side FROM target
        UNION ALL
        SELECT k, price_c, ver, 1 AS side FROM updates
    ) GROUP BY k
)
SELECT ver, COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS sum_keys,
       CAST(SUM(price_c) AS BIGINT) AS sum_price_c
FROM merged GROUP BY ver ORDER BY ver
"""


@register("q_merge_upsert", oracle=_MERGE_ORACLE, tags=("maintenance", "merge", "cdc"))
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on plain parquet (the CDC write path,
    maintenance.merge_upsert): target = orders multiples of 4 at version
    1; updates = multiples of 6 at version 2 with a +7-cent price bump.
    Keys in both (multiples of 12) must take the update, disjoint update
    keys insert, untouched target rows survive — the per-version
    count/key/price sums over the POST-MERGE files prove all three.

    The merge is union + one per-key max-struct aggregate (single hash
    shuffle on the key; shuffle-free when the target is pre-bucketed via
    partitioning.write_bucketed) and commits through session.replace_dir."""
    o = load_table(spark, sf_dir, "orders")
    price_c = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    path = scratch_dir("pl_maint_merge_target", sf_dir)
    target = o.filter(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_orderkey").alias("k"),
        price_c.alias("price_c"),
        F.lit(1).alias("ver"),
    )
    target.write.mode("overwrite").parquet(path)
    updates = o.filter(F.col("o_orderkey") % 6 == 0).select(
        F.col("o_orderkey").alias("k"),
        (price_c + 7).alias("price_c"),
        F.lit(2).alias("ver"),
    )
    M.merge_upsert(spark, path, updates, key_cols=["k"], version_col="ver")
    merged = spark.read.parquet(path)
    return (
        merged.groupBy("ver")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("k").cast("bigint").alias("sum_keys"),
            F.sum("price_c").cast("bigint").alias("sum_price_c"),
        )
        .orderBy("ver")
    )


_TRAVEL_ORACLE = f"""
WITH v0 AS (
    SELECT o_orderkey AS k, {_PRICE_C} AS price_c
    FROM orders WHERE o_orderkey % 3 = 0
), v1 AS (
    SELECT o_orderkey AS k, {_PRICE_C} AS price_c
    FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
)
SELECT 0 AS version, COUNT(*) AS n_rows, CAST(SUM(price_c) AS BIGINT) AS sum_price_c
FROM v0
UNION ALL
SELECT 1, COUNT(*), CAST(SUM(price_c) AS BIGINT) FROM v1
ORDER BY version
"""


@register(
    "q_snapshot_timetravel",
    oracle=_TRAVEL_ORACLE,
    tags=("maintenance", "timetravel", "snapshot"),
)
def q_snapshot_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (maintenance.write/read_snapshot): commit
    version 0 (orders multiples of 3), then version 1 with multiples of 5
    deleted; reading AS OF version 0 must still see every pre-delete row
    bit-exact while the latest read sees the deletion — the
    directory-per-version model with _SUCCESS as the atomic commit point.
    Emits per-version counts + exact cent sums from the re-read files."""
    o = load_table(spark, sf_dir, "orders")
    price_c = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    base = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"), price_c.alias("price_c")
    )
    path = scratch_dir("pl_maint_travel", sf_dir)
    M.write_snapshot(base, path)
    M.write_snapshot(base.filter(F.col("k") % 5 != 0), path)
    v0 = M.read_snapshot(spark, path, version=0)
    latest = M.read_snapshot(spark, path)
    agg = lambda df, v: df.agg(  # noqa: E731
        F.lit(v).alias("version"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price_c").cast("bigint").alias("sum_price_c"),
    ).select("version", "n_rows", "sum_price_c")
    return agg(v0, 0).unionAll(agg(latest, 1)).orderBy("version")


_COMPACT_ORACLE = f"""
SELECT COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       CAST(SUM({_PRICE_C}) AS BIGINT) AS sum_price_c,
       TRUE AS compacted_ok
FROM orders WHERE o_orderkey % 2 = 0
"""


@register(
    "q_compact_files", oracle=_COMPACT_ORACLE, tags=("maintenance", "compaction")
)
def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (maintenance.compact_files): write the even
    orders as 32 deliberately tiny files, compact to ~4, and prove (a)
    integrity — row count / key sum / cent sum over the rewritten files
    match the source exactly — and (b) the file count actually dropped to
    the plan target (compacted_ok). The rewrite is coalesce-based (merges
    splits, no shuffle) through session.replace_dir, the scan-health
    chore a 100 TB ingest runs behind every streaming sink."""
    o = load_table(spark, sf_dir, "orders")
    path = scratch_dir("pl_maint_compact", sf_dir)
    even = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    even.repartition(32).write.mode("overwrite").parquet(path)
    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_after = M.compact_files(spark, path, target_bytes=max(1, total // 4))
    back = spark.read.parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("sum_keys"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_price_c"),
        F.lit(n_after <= 8).alias("compacted_ok"),
    )
