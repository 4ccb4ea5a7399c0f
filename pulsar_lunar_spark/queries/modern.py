"""Modern Spark SQL surface (Spark 4 additions): XML serde, CSV serde,
VARIANT semi-structured type, LATERAL correlated subqueries, Python UDTF.

These extend the payload-serde story (the reference's app-defined
serialize/deserialize layer, /root/reference/src/message/serde.rs:6-28):
to_xml/from_xml and to_csv/from_csv are alternative envelope payload
codecs alongside the JSON path; VARIANT is the schema-on-read form of the
same decode. Round-trip queries prove serde identity, so the oracle is a
plain projection of the source fields — the same golden-roundtrip pattern
as the reference's codec tests (src/message/codec.rs:254-324).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import load_table, local_rows, tables


@register(
    "q_xml_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, CAST(n_regionkey AS INT) AS n_regionkey
    FROM nation ORDER BY n_nationkey
    """,
    tags=("format", "xml", "serde"),
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML payload serde identity: struct -> to_xml -> from_xml(schema) ->
    fields must equal the input (the XML twin of the envelope JSON codec).
    The XML string itself is never emitted — only the decoded fields — so
    the oracle is the plain projection."""
    n = load_table(spark, sf_dir, "nation")
    xml = F.to_xml(F.struct("n_nationkey", "n_name", "n_regionkey"))
    parsed = F.from_xml(
        xml, "STRUCT<n_nationkey: INT, n_name: STRING, n_regionkey: INT>"
    )
    return n.select(
        parsed.getField("n_nationkey").alias("n_nationkey"),
        parsed.getField("n_name").alias("n_name"),
        parsed.getField("n_regionkey").alias("n_regionkey"),
    ).orderBy("n_nationkey")


@register(
    "q_csv_funcs",
    oracle="""
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 4) AS o_totalprice
    FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey
    """,
    tags=("format", "csv", "serde"),
)
def q_csv_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV payload serde identity: struct -> to_csv -> from_csv(schema) ->
    fields equal the input (delimited flat-record codec for the envelope)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    csv = F.to_csv(F.struct("o_orderkey", "o_orderstatus", "o_totalprice"))
    parsed = F.from_csv(
        csv, "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"
    )
    return o.select(
        parsed.getField("o_orderkey").alias("o_orderkey"),
        parsed.getField("o_orderstatus").alias("o_orderstatus"),
        F.round(parsed.getField("o_totalprice"), 4).alias("o_totalprice"),
    ).orderBy("o_orderkey")


@register(
    "q_variant_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_variant,
           json_extract_string(props, '$.k') AS k_string
    FROM events WHERE event_id <= 150 ORDER BY event_id
    """,
    tags=("function", "json", "variant"),
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured decode: parse_json -> variant_get with typed
    extraction paths — schema-on-read over the same props payload the
    from_json path decodes with a declared schema."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 150)
    v = F.parse_json(F.col("props"))
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_variant"),
        F.variant_get(v, "$.k", "string").alias("k_string"),
    ).orderBy("event_id")


_LATERAL_SQL = """
SELECT n.n_name, t.c_name, ROUND(t.c_acctbal, 4) AS c_acctbal
FROM nation n,
     LATERAL (
         SELECT c_name, c_acctbal
         FROM customer
         WHERE c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_name
         LIMIT 2
     ) t
ORDER BY n.n_name, c_acctbal DESC, c_name
"""


@register(
    "q_lateral_topk",
    oracle=_LATERAL_SQL,
    tags=("sql", "lateral", "topk"),
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (SQL surface): per-nation top-2
    customers by balance — the same SQL text runs on both engines.
    Catalyst rewrites the lateral into a window/join, so the physical plan
    is the WindowGroupLimit shape, not a per-row re-execution."""
    tables(spark, sf_dir, names=("customer", "nation"))
    return spark.sql(_LATERAL_SQL)


_RECURSIVE_SPARK = """
WITH RECURSIVE chain(orderkey, anc, depth) AS (
    SELECT o_orderkey, o_orderkey, 0 FROM orders WHERE o_orderkey <= 2000
    UNION ALL
    SELECT orderkey, anc DIV 10, depth + 1 FROM chain WHERE anc >= 10
)
SELECT depth, COUNT(*) AS n_orders, CAST(SUM(anc) AS BIGINT) AS sum_anc
FROM chain GROUP BY depth ORDER BY depth
"""


@register(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE chain(orderkey, anc, depth) AS (
        SELECT o_orderkey, o_orderkey, 0 FROM orders WHERE o_orderkey <= 2000
        UNION ALL
        SELECT orderkey, anc // 10, depth + 1 FROM chain WHERE anc >= 10
    )
    SELECT depth, COUNT(*) AS n_orders, CAST(SUM(anc) AS BIGINT) AS sum_anc
    FROM chain GROUP BY depth ORDER BY depth
    """,
    tags=("sql", "recursive", "iteration"),
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): variable-depth ancestor walk
    (parent(k) = k DIV 10, a digits-deep hierarchy derived from orderkeys),
    aggregated into a per-depth distribution.

    Spark executes the recursion as bounded iterative unions (guarded by
    spark.sql.cteRecursionLevelLimit, default 100 — depth here is
    log10(max key) ≈ 7 at any SF); each step is an ordinary shuffle-free
    projection + filter over the previous frontier, so the pattern scales
    with frontier size, not iteration count. DuckDB's `//` floors and
    Spark's DIV truncates — identical on the all-positive keys, recorded in
    COVERAGE.md's gotcha list."""
    tables(spark, sf_dir, names=("orders",))
    return spark.sql(_RECURSIVE_SPARK)


_PIPE_SPARK = """
FROM lineitem
|> WHERE l_shipdate <= DATE '1998-09-02'
|> AGGREGATE CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
             COUNT(*) AS n_rows
   GROUP BY l_returnflag
|> SELECT l_returnflag, sum_qty, n_rows, sum_qty DIV n_rows AS avg_qty_floor
|> ORDER BY l_returnflag
|> LIMIT 10
"""


@register(
    "q_sql_pipe",
    oracle="""
    SELECT l_returnflag, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           COUNT(*) AS n_rows,
           CAST(SUM(l_quantity) AS BIGINT) // COUNT(*) AS avg_qty_floor
    FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag ORDER BY l_returnflag LIMIT 10
    """,
    tags=("sql", "pipe"),
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators): WHERE -> AGGREGATE ->
    SELECT -> ORDER BY -> LIMIT chained as pipeline stages. Pure surface
    syntax — Catalyst lowers it to the identical aggregate plan as the
    standard-SQL oracle (filter pushed to the scan, partial agg, top-level
    sort under a limit), so there is no perf delta to the classic form."""
    tables(spark, sf_dir, names=("lineitem",))
    return spark.sql(_PIPE_SPARK)


_COLLATION_SPARK = """
WITH m AS (
    SELECT CASE WHEN p_partkey % 2 = 0 THEN UPPER(p_type)
                ELSE LOWER(p_type) END AS t
    FROM part
)
SELECT LOWER(t COLLATE UTF8_LCASE) AS type_ci,
       COUNT(*) AS n,
       COUNT(DISTINCT t COLLATE UTF8_LCASE) AS n_ci_variants,
       COUNT(DISTINCT t) AS n_raw_variants
FROM m GROUP BY t COLLATE UTF8_LCASE
ORDER BY type_ci
"""


@register(
    "q_collation",
    oracle="""
    WITH m AS (
        SELECT CASE WHEN p_partkey % 2 = 0 THEN UPPER(p_type)
                    ELSE LOWER(p_type) END AS t
        FROM part
    )
    SELECT LOWER(t) AS type_ci,
           COUNT(*) AS n,
           COUNT(DISTINCT LOWER(t)) AS n_ci_variants,
           COUNT(DISTINCT t) AS n_raw_variants
    FROM m GROUP BY LOWER(t)
    ORDER BY type_ci
    """,
    tags=("sql", "collation", "string"),
)
def q_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4 COLLATE): group and count-distinct under
    UTF8_LCASE over a deterministically case-mixed derivation of p_type
    (even keys upper, odd lower). The collation-aware group key hashes and
    compares case-insensitively inside the JVM aggregate — no lower()
    normalization pass — and the emitted key is re-lowered so the output
    is deterministic regardless of which variant each engine surfaces.
    Oracle is the LOWER()-normalized twin."""
    tables(spark, sf_dir, names=("part",))
    return spark.sql(_COLLATION_SPARK)


_GROUP_BY_ALL_SQL = """
SELECT p_brand, p_type, COUNT(*) AS n, CAST(SUM(p_size) AS BIGINT) AS sum_size
FROM part GROUP BY ALL ORDER BY ALL LIMIT 50
"""


@register(
    "q_group_by_all",
    oracle=_GROUP_BY_ALL_SQL,
    tags=("sql", "groupby"),
)
def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 4 convenience syntax, shared
    with DuckDB — the same SQL text runs on both engines): all
    non-aggregate select items become the grouping key, and ORDER BY ALL
    sorts left-to-right, so the LIMIT is total-order deterministic."""
    tables(spark, sf_dir, names=("part",))
    return spark.sql(_GROUP_BY_ALL_SQL)


_BITMAP_SPARK = """
WITH b AS (
    SELECT o_orderpriority, bitmap_bucket_number(o_custkey) AS bucket,
           bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS bm
    FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, CAST(SUM(bitmap_count(bm)) AS BIGINT) AS n_distinct_cust
FROM b GROUP BY 1 ORDER BY 1
"""


@register(
    "q_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_distinct_cust
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    tags=("agg", "bitmap", "distinct"),
)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-rollup exact distinct (Spark 4 bitmap_construct_agg /
    bitmap_count): ids land as bits in fixed 4 KB bucket bitmaps —
    (group, bucket) cells are mergeable partial states, and the rollup
    sums bit counts per group. EXACT (unlike HLL, q_hll_distinct) yet
    still O(id-range/8) bytes per cell instead of shuffling every id —
    the roaring-bitmap pattern warehouses use for billion-row distinct
    rollups; at 100 TB the cell layer is a reusable materialized rollup.
    Oracle: plain COUNT(DISTINCT), value-equal by construction."""
    tables(spark, sf_dir, names=("orders",))
    return spark.sql(_BITMAP_SPARK)


@register(
    "q_try_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE 10.0 / (o_orderkey % 3) END AS safe_div,
           CASE WHEN o_orderkey = 0 THEN 9223372036854775807
                ELSE NULL END AS safe_add,
           TRY_CAST(o_orderpriority AS INTEGER) AS safe_cast
    FROM orders WHERE o_orderkey <= 50 ORDER BY o_orderkey
    """,
    tags=("function", "try", "null-safety"),
)
def q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe SQL arithmetic (try_divide / try_add / try_cast):
    division by zero, BIGINT overflow, and a non-numeric cast each yield
    NULL instead of failing the job — the per-row error-tolerance contract
    a 100 TB batch needs (one poison row must not kill a stage). The
    oracle proves each NULL lands exactly where the guarded expression
    says it must."""
    tables(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        SELECT o_orderkey,
               try_divide(10, o_orderkey % 3) AS safe_div,
               try_add(9223372036854775807, o_orderkey) AS safe_add,
               try_cast(o_orderpriority AS INT) AS safe_cast
        FROM orders WHERE o_orderkey <= 50 ORDER BY o_orderkey
        """
    )


@register(
    "q_sql_udf",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(FLOOR(c.c_acctbal * 100) / 100 * 1.1), 4) AS taxed_balance,
           COUNT(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_nationkey < 10
    GROUP BY n.n_name ORDER BY n.n_name
    """,
    tags=("sql", "udf", "sql-function"),
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions (Spark 4 CREATE FUNCTION ... RETURN): a
    scalar SQL UDF (declarative expression — inlined by Catalyst into the
    plan, full codegen, unlike Python UDFs) and a parameterized SQL table
    function used as a FROM-clause relation. The oracle inlines both
    bodies, so a hash match proves the function registry resolves to
    exactly the declared expressions."""
    tables(spark, sf_dir, names=("customer", "nation"))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION taxed(b DOUBLE) RETURNS DOUBLE "
        "RETURN FLOOR(b * 100) / 100 * 1.1"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION nations_below(k INT) "
        "RETURNS TABLE(n_nationkey INT, n_name STRING) "
        "RETURN SELECT CAST(n_nationkey AS INT), n_name FROM nation WHERE n_nationkey < k"
    )
    return spark.sql(
        """
        SELECT n.n_name,
               ROUND(SUM(taxed(c.c_acctbal)), 4) AS taxed_balance,
               COUNT(*) AS n_customers
        FROM customer c JOIN nations_below(10) n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY n.n_name
        """
    )


@register(
    "q_sql_variables",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE o_orderkey % 10 < 3
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("sql", "variables"),
)
def q_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE VARIABLE / SET VAR): a
    typed variable declared, reassigned, and referenced inside a query —
    the session-scripting surface for parameterized jobs (the SQL-native
    twin of q_sql_parameterized's named-parameter binding). Constant-
    folded at plan time, so the filter still pushes to the scan."""
    tables(spark, sf_dir, names=("orders",))
    spark.sql("DECLARE OR REPLACE VARIABLE key_mod_cutoff INT DEFAULT 1")
    spark.sql("SET VAR key_mod_cutoff = 3")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        WHERE o_orderkey % 10 < key_mod_cutoff
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


@register(
    "q_pandas_api",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("api", "pandas-on-spark"),
)
def q_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas API on Spark (pyspark.pandas): the drop-in pandas dialect a
    data-science user writes — groupby/agg on a pandas-shaped frame —
    executing as the SAME distributed Catalyst plan (pandas_api() is a
    zero-copy view over the DataFrame; to_spark() hands the logical plan
    back). Coverage for the third user-facing API alongside DataFrame
    and SQL; no driver-side materialization anywhere."""
    o = load_table(spark, sf_dir, "orders")
    pdf = o.select("o_orderpriority", "o_orderkey").pandas_api()
    g = pdf.groupby("o_orderpriority", as_index=False).agg(
        n=("o_orderkey", "count"), key_sum=("o_orderkey", "sum")
    )
    return (
        g.to_spark()
        .select(
            "o_orderpriority",
            F.col("n").cast("bigint").alias("n"),
            F.col("key_sum").cast("bigint").alias("key_sum"),
        )
        .orderBy("o_orderpriority")
    )


_SCRIPT_SPARK = """
BEGIN
  DECLARE k INT DEFAULT 0;
  DECLARE n_high BIGINT DEFAULT 0;
  DECLARE n_low BIGINT DEFAULT 0;
  DECLARE classes_seen INT DEFAULT 0;
  WHILE k < 5 DO
    IF k % 2 = 0 THEN
      SET n_high = n_high + (SELECT COUNT(*) FROM orders
                             WHERE o_orderkey % 5 = k AND o_totalprice >= 100000);
    ELSE
      SET n_low = n_low + (SELECT COUNT(*) FROM orders
                           WHERE o_orderkey % 5 = k AND o_totalprice < 100000);
    END IF;
    SET classes_seen = classes_seen + 1;
    SET k = k + 1;
  END WHILE;
  SELECT classes_seen, n_high, n_low;
END
"""


@register(
    "q_sql_scripting",
    oracle="""
    SELECT 5 AS classes_seen,
           CAST(COUNT(*) FILTER ((o_orderkey % 5) IN (0, 2, 4)
                                 AND o_totalprice >= 100000)
                AS BIGINT) AS n_high,
           CAST(COUNT(*) FILTER ((o_orderkey % 5) IN (1, 3)
                                 AND o_totalprice < 100000)
                AS BIGINT) AS n_low
    FROM orders
    """,
    tags=("sql", "scripting"),
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN...END procedural blocks): DECLARE'd
    accumulators, a WHILE loop over modulo classes, IF/ELSE branching, and
    SET assignments fed by scalar-subquery probes — the stored-procedure-
    style control flow for multi-step SQL jobs. The oracle collapses the
    loop analytically: the even-k iterations union to the predicate
    `o_orderkey % 5 IN (0,2,4)` and the odd-k ones to `IN (1,3)`, so two
    filtered counts must equal the script's accumulators exactly."""
    tables(spark, sf_dir, names=("orders",))
    return spark.sql(_SCRIPT_SPARK)


@register(
    "q_catalog_ctas",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           TRUE AS table_listed, TRUE AS dropped
    FROM nation WHERE n_nationkey < 10 OR n_nationkey >= 20
    """,
    tags=("catalog", "ddl", "ctas"),
)
def q_catalog_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed-table DDL lifecycle (the catalog surface a warehouse user
    drives daily): CREATE TABLE ... USING PARQUET AS SELECT, INSERT INTO
    appending a second slice, a catalog-visibility check, an aggregate
    over the MANAGED files, and DROP TABLE. The result is materialized
    eagerly before the drop (a lazy plan over a dropped table would fail
    at collect — that ordering is part of the contract being exercised).
    The oracle aggregates the same two slices straight from parquet, so
    the hash proves CTAS + INSERT wrote exactly one copy of each."""
    tables(spark, sf_dir, names=("nation",))
    spark.sql("DROP TABLE IF EXISTS pl_ctas_nation")
    spark.sql(
        "CREATE TABLE pl_ctas_nation USING PARQUET AS "
        "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey < 10"
    )
    spark.sql(
        "INSERT INTO pl_ctas_nation "
        "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey >= 20"
    )
    listed = spark.catalog.tableExists("pl_ctas_nation")
    row = spark.sql(
        "SELECT COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum "
        "FROM pl_ctas_nation"
    ).head()
    spark.sql("DROP TABLE pl_ctas_nation")
    dropped = not spark.catalog.tableExists("pl_ctas_nation")
    return local_rows(
        spark,
        [(row["n_rows"], row["key_sum"], listed, dropped)],
        "n_rows long, key_sum long, table_listed boolean, dropped boolean",
    )


@udtf(returnType="word string, pos int")
class _SplitWords:
    """Python UDTF (table function): one input string -> one row per word.
    The UDTF surface is the declared row-expanding escape hatch; kept on a
    25-row dimension table (interpreter-speed, same policy as q_python_udf).
    """

    def eval(self, name: str):
        if name is None:
            return
        for i, w in enumerate(name.split("_")):
            yield (w, i)


@register(
    "q_udtf_split",
    oracle="""
    SELECT n_name, UNNEST(STRING_SPLIT(n_name, '_')) AS word,
           CAST(GENERATE_SUBSCRIPTS(STRING_SPLIT(n_name, '_'), 1) - 1 AS INT) AS pos
    FROM nation ORDER BY n_name, pos
    """,
    tags=("udf", "udtf"),
)
def q_udtf_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF invoked as a lateral table function over nation names
    (words split on '_'); the oracle is the UNNEST twin."""
    tables(spark, sf_dir, names=("nation",))
    spark.udtf.register("split_words", _SplitWords)
    return spark.sql(
        """
        SELECT n.n_name, s.word, s.pos
        FROM nation n, LATERAL split_words(n.n_name) s
        ORDER BY n.n_name, s.pos
        """
    )


@udtf(returnType="n_regionkey bigint, n_nations bigint, first_name string")
class _RegionSummary:
    """Python UDTF with a TABLE argument (Spark 4): one instance per
    PARTITION BY value, eval() folds the partition's rows, terminate()
    emits the summary — the per-group stateful table-processing surface
    (the UDTF twin of applyInPandas)."""

    def __init__(self):
        self._key = None
        self._n = 0
        self._min = None

    def eval(self, row):
        self._key = row["n_regionkey"]
        self._n += 1
        nm = row["n_name"]
        self._min = nm if self._min is None or nm < self._min else self._min

    def terminate(self):
        if self._key is not None:
            yield (int(self._key), self._n, self._min)


@register(
    "q_udtf_table_arg",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           MIN(n_name) AS first_name
    FROM nation GROUP BY 1 ORDER BY n_regionkey
    """,
    tags=("udf", "udtf", "table-argument", "spark4"),
)
def q_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF invoked with a TABLE(...) argument and PARTITION BY
    (Spark 4): the engine routes each n_regionkey partition's rows
    through one UDTF instance — eval() folds, terminate() emits — the
    SQL-native per-group stateful processing surface. Kept on the 25-row
    nation dimension (interpreter-speed, the q_python_udf policy); at
    scale the same shape partitions by the group key exactly like
    applyInPandas. Oracle: the plain GROUP BY twin."""
    tables(spark, sf_dir, names=("nation",))
    spark.udtf.register("region_summary", _RegionSummary)
    return spark.sql(
        """
        SELECT * FROM region_summary(TABLE(nation) PARTITION BY n_regionkey)
        ORDER BY n_regionkey
        """
    )
