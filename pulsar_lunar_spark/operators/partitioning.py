"""Partitioning strategies for 100 TB joins: bucketed (shuffle-free) joins
and salted (skew-proof) joins.

The reference's data plane shards by key hash at produce time
(/root/reference/src/entity/producer.rs:295-312 partition routing;
src/PulsarApi.proto:286-295 Key_Shared hash ranges). These helpers apply
the same idea to the analytic layer:

- **Bucketing** = hash-sharding persisted at write time. Two tables
  bucketed by the same key/count join with ZERO exchanges — at 100 TB that
  deletes the dominant cost of every fact-fact join that repeats per day.
- **Salting** = splitting a hot key into N synthetic sub-keys so one
  reducer doesn't receive the whole key's data. AQE's skew-join handles
  sort-merge skew automatically; explicit salting is the portable fallback
  (e.g. for aggregations, or broadcast-ineligible hot keys).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) by join key.

    Spark records bucketing in the catalog; a later equi-join between two
    tables bucketed by the same columns into the same bucket count is
    planned WITHOUT an Exchange on either side (SortMergeJoin reads
    co-located buckets). At 100 TB, bucket so each bucket is ~128-512 MB.
    With ``path`` the table is EXTERNAL (data at the given location, e.g.
    a per-process scratch dir); bucketing metadata is still recorded.
    """
    w = df.write.format(fmt).mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed catalog tables — plans with no shuffle.

    Verify with .explain(): no Exchange above either scan (asserted in
    tests/test_partitioning.py).
    """
    return spark.table(left_table).join(spark.table(right_table), list(on), how)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: split every key of the big side into n_salts
    sub-keys; replicate the small side n_salts times so every sub-key finds
    its match. The hot key's rows spread over n_salts reducers instead
    of one.

    Cost model: small side shuffles n_salts×(its size) — use only when the
    small side is modest but above the broadcast threshold, or when a hot
    key would otherwise dominate a reducer (the #1 practical cause of
    10×-slower-than-expected joins at scale). For dimension-sized small
    sides prefer F.broadcast; for SMJ skew AQE's skewJoin handles it.
    """
    b = big.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = b.join(s, [key, "__salt"], how)
    return out.drop("__salt")


# ---------------------------------------------------------------------------
# Z-order clustering key (multi-column data-skipping layout)
# ---------------------------------------------------------------------------

def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton/Z-order interleave of the low `bits` bits of two non-negative
    integer keys -> one BIGINT clustering key.

    Writing a table sorted by this key co-locates rows that are close in
    EITHER dimension, so parquet row-group min/max stats prune scans
    filtered on x OR y — the standard multi-column data-skipping layout
    (Delta/Iceberg OPTIMIZE ZORDER BY). Pure bit arithmetic, codegen'd in
    the scan projection; the only cost at write time is the global sort.
    Disjoint bit positions mean `+` == `|`, which keeps the same expression
    valid SQL in any oracle dialect (see zorder_sql).
    """
    xl, yl = x.cast("long"), y.cast("long")
    term = F.lit(0).cast("long")
    for i in range(bits):
        term = term + F.shiftleft(F.shiftright(xl, i).bitwiseAND(1), 2 * i)
        term = term + F.shiftleft(F.shiftright(yl, i).bitwiseAND(1), 2 * i + 1)
    return term


def zorder_sql(x: str, y: str, bits: int = 16) -> str:
    """ANSI-ish SQL twin of zorder_key (DuckDB / any dialect with >> & <<):
    the identical unrolled bit-interleave expression, for oracle checks."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def stable_row_ids(df: DataFrame, order_col: str, n_ranges: int = 8) -> DataFrame:
    """Globally contiguous, deterministic row ids 0..n-1 in `order_col`
    order — WITHOUT a single-node global sort.

    Plan: range-repartition on the order column (sampled boundaries →
    n_ranges roughly equal shards), sort within each partition, count rows
    per partition (tiny driver collect, O(n_ranges)), then enumerate each
    partition locally adding its exclusive-prefix-sum offset. This is the
    zipWithIndex pattern expressed on DataFrames: total shuffle is one
    range exchange; nothing ever funnels through one task, so it holds at
    100 TB where ROW_NUMBER() OVER (ORDER BY ...) (one giant partition)
    does not. The partitioned/sorted stage is localCheckpoint-ed so the
    count pass and the enumerate pass see the SAME materialized partitions
    (range boundaries are sampled — never recompute them twice).

    Returns df's columns plus `row_id BIGINT`.
    """
    import pandas as pd

    part = (
        df.repartitionByRange(n_ranges, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["__pid"]: r["n"]
        for r in part.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in part.schema.fields if f.name != "__pid"
    ) + ", row_id long"

    def enumerate_part(batches):
        seen = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            off = offsets[int(pdf["__pid"].iloc[0])]
            out = pdf.drop(columns=["__pid"])
            out["row_id"] = range(off + seen, off + seen + len(pdf))
            seen += len(pdf)
            yield out

    return part.mapInPandas(enumerate_part, out_schema)


def sharded_group_cumsum(
    df: DataFrame,
    group_col: str,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "cum",
    n_ranges: int = 8,
) -> DataFrame:
    """Inclusive per-group cumulative sum of `value_col` in `order_cols`
    order — WITHOUT a per-group single-partition sort.

    The plain form, ``SUM(v) OVER (PARTITION BY group ORDER BY ...)``,
    funnels EVERY row of a group through one task; when groups are a
    small dimension (data sources, languages) a single group is the
    whole corpus slice, so at 100 TB the window sort is the bottleneck
    (the caveat documented on q_token_budget_mix). This is the
    zipWithIndex pattern generalized from `stable_row_ids` to keyed
    running sums:

    1. range-repartition on (group, *order), localCheckpoint once —
       each group's rows are totally ordered ACROSS shards, split over
       up to n_ranges of them, and the two consumers below read the
       SAME materialized shards (range boundaries are sampled — never
       recompute them twice);
    2. per-(shard, group) LOCAL running sum: a window partitioned by
       (shard id, group) — every shard-slice is its own window
       partition, so the sort parallelism is the shard x group grid,
       not the group count;
    3. per-(shard, group) subtotals aggregate into exclusive prefix
       OFFSETS via a window over the tiny grid table (n_ranges *
       n_groups rows — bounded by the grid, not data volume), broadcast
       back, and added to the local running sums.

    Everything is JVM-side (no Arrow round-trip — a first mapInPandas
    form measured 35 s vs this form's 25.5 s at 25 M rows, the gap
    being pure Arrow serde); the
    data-bearing cost is one range exchange + one (shard, group) hash
    exchange + shard-local sorts. Use this form when groups are few and
    huge (the regime where `SUM OVER (PARTITION BY group)` funnels a
    whole group through one task); a high-cardinality group column
    needs no sharding in the first place.

    `order_cols` must totally order rows WITHIN a group (ties would get
    frame-dependent sums — same caveat as the plain window form).

    Returns df's columns plus `out_col BIGINT` (value_col must be
    integral; sums are exact int64). Value-identical to the window form
    — locked by tests/test_partitioning.py against both a crafted frame
    and the q_token_budget_mix fill.
    """
    from pyspark.sql import Window

    reserved = {"__pid", "__loc", "__off", "__opid", "__ogrp", out_col}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"sharded_group_cumsum: input columns collide with internal/"
            f"output names: {sorted(clash)}"
        )
    part = (
        df.repartitionByRange(
            n_ranges, F.col(group_col), *[F.col(c) for c in order_cols]
        )
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_local = (
        Window.partitionBy("__pid", group_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = part.withColumn("__loc", F.sum(value_col).over(w_local).cast("long"))
    # exclusive prefix sum of shard subtotals per group, in shard order —
    # a window over the (shard x group) grid, never over data
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        part.groupBy("__pid", group_col)
        .agg(F.sum(value_col).cast("long").alias("__sub"))
        .select(
            F.col("__pid").alias("__opid"),
            F.col(group_col).alias("__ogrp"),
            F.coalesce(F.sum("__sub").over(w_off), F.lit(0))
            .cast("long")
            .alias("__off"),
        )
    )
    # eqNullSafe on the group key: the window form treats NULL as its own
    # partition, so a plain equi-join would silently DROP null-group rows
    # and break the documented value-identity.
    return (
        loc.join(
            F.broadcast(offs),
            (F.col("__pid") == F.col("__opid"))
            & F.col(group_col).eqNullSafe(F.col("__ogrp")),
        )
        .withColumn(out_col, (F.col("__loc") + F.col("__off")).cast("long"))
        .drop("__pid", "__loc", "__off", "__opid", "__ogrp")
    )
