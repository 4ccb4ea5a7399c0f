"""Second relational batch: TPC-H-shaped pushdown showcases, subqueries,
posexplode, percentiles, deterministic hash sampling, union-by-name,
intersect/except-all (SURVEY §2B rows not covered in batch 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.session import load_table, local_rows
from pulsar_lunar_spark.queries.registry import register


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("filter", "agg", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+sum — every predicate is parquet-pushdown
    eligible; the whole query is one scan, zero shuffles (global agg only)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("join", "agg", "conditional"),
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional counting."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q14_promo_share",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
    """,
    tags=("join", "agg"),
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: broadcast-joined dimension + conditional revenue
    share (part is a dimension — broadcast, no shuffle of lineitem)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0.0)
    return li.join(p, li.l_partkey == p.p_partkey).agg(
        F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct")
    )


@register(
    "q19_disjunctive",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 30)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 40)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 50)
    """,
    tags=("join", "filter"),
)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive predicates across join
    sides (tests CNF conversion / partial pushdown)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    j = li.join(p, li.l_partkey == p.p_partkey)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 30))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & q.between(10, 40))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & q.between(20, 50))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_scalar_subquery",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 4) AS totalprice
    FROM orders
    WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders)
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
    tags=("subquery",),
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate (planned as a broadcast of one row)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("pl_orders_ss")
    return spark.sql(
        """
        SELECT o_orderkey, ROUND(o_totalprice, 4) AS totalprice
        FROM pl_orders_ss
        WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM pl_orders_ss)
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 50
        """
    )


@register(
    "q_correlated_subquery",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE c_acctbal > (SELECT 3 * AVG(c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c_custkey
    """,
    tags=("subquery",),
)
def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (decorrelated by Catalyst into an
    aggregate + join — no per-row re-execution)."""
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("pl_customer_cs")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM pl_customer_cs c
        WHERE c_acctbal > (SELECT 3 * AVG(c_acctbal) FROM pl_customer_cs c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey
        """
    )


@register(
    "q_posexplode",
    oracle="""
    SELECT doc_id, u.pos, u.word
    FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(STRING_SPLIT(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g'), ' '),
                                     (w, i) -> {'pos': i - 1, 'word': w})) AS u
        FROM documents
        WHERE doc_id <= 10
    )
    ORDER BY doc_id, u.pos
    """,
    tags=("array", "explode"),
)
def q_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: word position index (lateral view)."""
    from pulsar_lunar_spark.operators.dedup import normalize_text

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 10)
    words = F.split(normalize_text(F.col("text")), " ")
    return (
        d.select("doc_id", F.posexplode(words).alias("pos", "word"))
        .orderBy("doc_id", "pos")
    )


@register(
    "q_percentiles",
    oracle="""
    SELECT c_mktsegment,
           ROUND(QUANTILE_CONT(c_acctbal, 0.5), 4)  AS p50,
           ROUND(QUANTILE_CONT(c_acctbal, 0.9), 4)  AS p90,
           ROUND(MEDIAN(c_acctbal), 4)              AS med
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("agg", "percentile"),
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles / median (linear interpolation — same definition as
    QUANTILE_CONT). approx_percentile is the scale path (see q_approx_stats)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(c_acctbal, 0.9)"), 4).alias("p90"),
            F.round(F.median("c_acctbal"), 4).alias("med"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q_approx_stats",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
           TRUE AS approx_cd_ok,
           TRUE AS approx_p50_ok
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg", "approx"),
)
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB path for distinct counts/quantiles:
    approx_count_distinct (HLL++, rsd=2%) and approx_percentile (KLL-style).

    The sketch values themselves are engine-specific, so the oracle checks
    (a) the exact countDistinct and (b) booleans asserting each sketch lands
    within a generous error bound (10% of exact for HLL++ at rsd 2%;
    approx_percentile bracketed by the exact p25..p75 range).  The DuckDB
    side emits literal TRUE for the flags — a sketch outside bounds turns
    the row red.  Tight error-bound assertions live in pytest.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_custkey", "o_totalprice")
    # the sketch's OWN guarantee is a rank bound, so verify it as a rank
    # bound: count rows <= the sketch's median and check the fraction lands
    # in [0.49, 0.51] — cheap hash-agg passes, no sort-based exact
    # percentile (which cost 4.8s at sf0.1 under countDistinct's Expand).
    # exact distinct is the TWO-LEVEL form (dedup agg then count) so no
    # Expand ever multiplies the sketch aggregates' input; both sketches
    # share one Expand-free pass
    cd = (
        o.select("o_orderstatus", "o_custkey")
        .groupBy("o_orderstatus", "o_custkey")
        .agg(F.lit(1))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("exact_custs"))
    )
    p50 = o.groupBy("o_orderstatus").agg(
        F.expr("approx_percentile(o_totalprice, 0.5, 1000)").alias("_approx_p50"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("_approx_cd"),
    )
    ranked = (
        o.join(F.broadcast(p50), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("_approx_p50"), 1).otherwise(0)
            ).alias("_rank_p50"),
            # constant per group after the broadcast join — carried through
            F.first("_approx_cd").alias("_approx_cd"),
        )
        .join(F.broadcast(cd), "o_orderstatus")
    )
    return ranked.select(
        "o_orderstatus",
        "exact_custs",
        (
            F.abs(F.col("_approx_cd") - F.col("exact_custs"))
            <= F.greatest(F.lit(1), F.col("exact_custs") * 0.10)
        ).alias("approx_cd_ok"),
        (
            (F.col("_rank_p50") >= F.floor(F.col("_n") * 0.49))
            & (F.col("_rank_p50") <= F.ceil(F.col("_n") * 0.51) + 1)
        ).alias("approx_p50_ok"),
    ).orderBy("o_orderstatus")


@register(
    "q_hash_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
    ORDER BY doc_id
    """,
    tags=("sample",),
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 sample via md5 prefix — the reproducible sampling
    discipline for pipelines (rand(seed) is partitioning-dependent; a key
    hash is stable across engines, partitionings and reruns)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "q_union_by_name",
    oracle="""
    SELECT k, src, ROUND(bal, 4) AS bal FROM (
        SELECT c_custkey AS k, 'cust' AS src, c_acctbal AS bal FROM customer WHERE c_custkey <= 20
        UNION ALL BY NAME
        SELECT s_acctbal AS bal, 'supp' AS src, s_suppkey AS k FROM supplier
    )
    ORDER BY src, k
    """,
    tags=("setop",),
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName: position-independent column alignment."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 20).select(
        F.col("c_custkey").alias("k"), F.lit("cust").alias("src"), F.col("c_acctbal").alias("bal")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_acctbal").alias("bal"), F.lit("supp").alias("src"), F.col("s_suppkey").alias("k")
    )
    return (
        c.unionByName(s)
        .select("k", "src", F.round("bal", 4).alias("bal"))
        .orderBy("src", "k")
    )


@register(
    "q_intersect_except_all",
    oracle="""
    WITH a AS (SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 5000),
         b AS (SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT 'intersect_all' AS op, k, COUNT(*) AS n
    FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k
    UNION ALL
    SELECT 'except_all' AS op, k, COUNT(*) AS n
    FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k
    ORDER BY op, k
    """,
    tags=("setop",),
)
def q_intersect_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersectAll / exceptAll (bag semantics, multiplicity-preserving)."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_nationkey").alias("k"))
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_nationkey").alias("k"))
    ia = (
        a.intersectAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "k", "n")
    )
    ea = (
        a.exceptAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "k", "n")
    )
    return ia.unionByName(ea).orderBy("op", "k")


@register(
    "q_inline_values_join",
    oracle="""
    SELECT r_name, CAST(mult AS DOUBLE) AS mult, COUNT(*) AS n_nations
    FROM nation
    JOIN region ON n_regionkey = r_regionkey
    JOIN (VALUES ('ASIA', 2.0), ('EUROPE', 1.5), ('AMERICA', 1.0)) m(rname, mult)
      ON r_name = m.rname
    GROUP BY r_name, mult
    ORDER BY r_name
    """,
    tags=("join", "values"),
)
def q_inline_values_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline literal lookup table joined broadcast-style (config/dimension
    seeding pattern — session.local_rows + broadcast)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    m = F.broadcast(
        local_rows(
            spark,
            [("ASIA", 2.0), ("EUROPE", 1.5), ("AMERICA", 1.0)],
            "rname string, mult double",
        )
    )
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .join(m, F.col("r_name") == m.rname)
        .groupBy("r_name", "mult")
        .agg(F.count(F.lit(1)).alias("n_nations"))
        .orderBy("r_name")
    )
