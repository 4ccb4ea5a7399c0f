"""Scale-strategy tests: bucketed joins plan without exchanges; salted
joins distribute hot keys and return exactly the unsalted result."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators.partitioning import salted_join, write_bucketed
from pulsar_lunar_spark.plans.inspect import plan_text
from pulsar_lunar_spark.session import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(o, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        8,
        sort_cols=["o_orderkey"],
    )
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed_tables):
    lt, rt = bucketed_tables
    # disable broadcast so the bucketed SMJ path is what gets planned (at
    # 100 TB both sides are facts and broadcast is off the table anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(lt).join(spark.table(rt), ["o_orderkey"])
        txt = plan_text(joined)
        assert "Exchange" not in txt, txt
        # and it is still a correct join
        want = (
            load_table(spark, sf_dir, "lineitem").count()
        )  # every lineitem has an order
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_query_plan_is_shuffle_free_below_smj(spark, sf_dir):
    """q_bucketed_join's internal plan: the SortMergeJoin consumes the
    bucketed scans directly — the only exchanges are the priority
    aggregate and the output sort, never the join inputs."""
    from pulsar_lunar_spark.plans.inspect import executed_plan_text
    from pulsar_lunar_spark.queries.pipeline import (
        _BUCKET_CONFS,
        _bucketed_fixture,
        _bucketed_join_df,
    )

    # fixture first: consumes session._configure's once-per-session conf
    # writes so the scoped override below cannot be clobbered (this test
    # must pass when run ALONE in a fresh session, not only mid-suite)
    _bucketed_fixture(spark, sf_dir)
    prev = {k: spark.conf.get(k, None) for k in _BUCKET_CONFS}
    for k, v in _BUCKET_CONFS.items():
        spark.conf.set(k, v)
    try:
        txt = executed_plan_text(_bucketed_join_df(spark, sf_dir))
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin" in txt, txt
    # join inputs come straight from bucketed scans: the join subtree is
    # below every exchange, so the plan has at most the agg + sort pair
    import re

    shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", txt)) + txt.count(
        "Exchange SinglePartition"
    )
    assert shuffles <= 2, txt
    assert "Bucketed: true" in txt, txt


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(o, "l_orderkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
    ).head()
    salted = salted_join(li, o, "l_orderkey", n_salts=8).agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
    ).head()
    assert plain["n"] == salted["n"]
    assert plain["q"] == salted["q"]


def test_salt_distributes_rows(spark, sf_dir):
    """A single hot key's rows land in multiple salted sub-keys."""
    li = load_table(spark, sf_dir, "lineitem").limit(1000)
    hot = li.withColumn("k", F.lit(1))  # everything is one key
    o = hot.select("k").distinct()
    out = salted_join(
        hot.select("k", "l_quantity"),
        o,
        "k",
        n_salts=8,
    )
    assert out.count() == 1000
    # peek at the salt spread pre-drop: recompute the salt column
    spread = (
        hot.withColumn("__salt", (F.rand(seed=42) * 8).cast("int"))
        .groupBy("__salt")
        .count()
    )
    assert spread.count() >= 4  # rows spread over at least half the salts


def test_sharded_group_cumsum_matches_window(spark, sf_dir):
    """The window-free per-group running sum must equal the plain
    SUM() OVER (PARTITION BY group ORDER BY ...) form exactly — per-row,
    including groups that span multiple range shards."""
    from pyspark.sql import Window

    from pulsar_lunar_spark.operators.partitioning import sharded_group_cumsum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("v")
    )
    got = {
        (r.source, r.doc_id): r.cum
        for r in sharded_group_cumsum(
            d, "source", ["doc_id"], "v", n_ranges=8
        ).collect()
    }
    want = {
        (r.source, r.doc_id): r.cum
        for r in d.select(
            "source",
            "doc_id",
            F.sum("v")
            .over(Window.partitionBy("source").orderBy("doc_id"))
            .alias("cum"),
        ).collect()
    }
    assert got == want


def test_budget_fill_sharded_identical(spark, sf_dir):
    """q_token_budget_mix rebuilt on sharded_group_cumsum instead of the
    per-source window yields the identical fill — the documented at-scale
    swap is real, not a docstring promise."""
    from pulsar_lunar_spark.operators import corpus as C
    from pulsar_lunar_spark.operators.dedup import normalize_text
    from pulsar_lunar_spark.operators.partitioning import sharded_group_cumsum
    from pulsar_lunar_spark.queries import all_queries
    from pulsar_lunar_spark.queries.llm10 import _MIX_BUDGET_TOKENS

    d = load_table(spark, sf_dir, "documents")
    words = F.split(normalize_text(F.col("text")), " ")
    t = d.select(
        "doc_id",
        "source",
        F.size(words).cast("long").alias("n_tokens"),
        C.md5_int(
            F.concat(F.lit("mix-"), F.col("doc_id").cast("string")), hex_chars=15
        ).alias("priority"),
    )
    w = (
        t.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            "source",
            "n_docs",
            F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000)
            .cast("long")
            .alias("w_milli"),
        )
    )
    total_w = w.agg(F.sum("w_milli").alias("__tw"))
    q = w.crossJoin(F.broadcast(total_w)).select(
        "source",
        "n_docs",
        "w_milli",
        F.expr(f"({_MIX_BUDGET_TOKENS}L * w_milli) div __tw")
        .cast("long")
        .alias("quota_tokens"),
    )
    cum = sharded_group_cumsum(
        t, "source", ["priority", "doc_id"], "n_tokens", out_col="cum_tokens"
    )
    sharded = (
        q.join(cum, "source", "left")
        .groupBy("source", "n_docs", "w_milli", "quota_tokens")
        .agg(
            F.count(F.when(F.col("cum_tokens") <= F.col("quota_tokens"), 1))
            .cast("long")
            .alias("n_selected"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("cum_tokens") <= F.col("quota_tokens"),
                        F.col("n_tokens"),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tokens_selected"),
        )
    )
    want = {
        r.source: r.asDict()
        for r in all_queries()["q_token_budget_mix"].fn(spark, sf_dir).collect()
    }
    got = {r.source: r.asDict() for r in sharded.collect()}
    assert got == want


def test_sharded_group_cumsum_keeps_null_groups(spark):
    """The window form treats NULL as its own partition; the sharded form
    must not silently drop null-group rows through its offsets join."""
    from pyspark.sql import Window

    from pulsar_lunar_spark.operators.partitioning import sharded_group_cumsum

    df = spark.createDataFrame(
        [(None, 1, 10), (None, 2, 5), ("a", 1, 7)], "g string, o long, v long"
    )
    got = {
        (r.g, r.o): r.cum
        for r in sharded_group_cumsum(df, "g", ["o"], "v", n_ranges=3).collect()
    }
    want = {
        (r.g, r.o): r.cum
        for r in df.select(
            "g", "o",
            F.sum("v").over(Window.partitionBy("g").orderBy("o")).alias("cum"),
        ).collect()
    }
    assert got == want and len(got) == 3
