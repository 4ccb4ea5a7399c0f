"""Source/sink format coverage: CSV, JSON(lines), ORC round-trips through
real Spark writers/readers (SURVEY §2B scans/sinks row).

Each query writes a dimension table out in the target format (into a
fresh session.scratch_dir per call, so re-runs are idempotent and the
previous call's result stays readable), reads it back with an explicit
schema, and aggregates the re-read data joined against parquet-sourced
facts. The oracle aggregates the same tables straight from parquet, so
a hash match proves the format round-trip is lossless *through the
declared schema* (CSV/JSON carry no native types — the explicit read
schema is the contract, exactly like a
Pulsar topic schema, /root/reference/src/PulsarApi.proto:25-50).

Scale notes: format conversion is a per-partition streaming rewrite (no
shuffle); the roundtripped table is then a broadcast dimension — the fact
side never leaves parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import load_table, scratch_dir

_NATION_AGG_ORACLE = """
SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_nations,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def _nation_roundtrip(spark: SparkSession, sf_dir: str, fmt: str, **read_opts) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    path = scratch_dir(f"pl_formats_{fmt}", sf_dir)
    nation.write.mode("overwrite").format(fmt).options(**read_opts).save(path)
    back = (
        spark.read.format(fmt)
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .options(**read_opts)
        .load(path)
    )
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        back.join(region, back.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("r_name")
    )


@register("q_csv_roundtrip", oracle=_NATION_AGG_ORACLE, tags=("format", "csv", "sink", "source"))
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → CSV (header) → read with explicit schema → join/agg; hash
    match vs parquet-direct proves the CSV writer/reader are lossless for
    the declared types."""
    return _nation_roundtrip(spark, sf_dir, "csv", header="true")


@register("q_json_roundtrip", oracle=_NATION_AGG_ORACLE, tags=("format", "json", "sink", "source"))
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → JSON-lines → read with explicit schema → join/agg (the
    reference's payload serde is JSON, /root/reference/src/main.rs:65-73)."""
    return _nation_roundtrip(spark, sf_dir, "json")


@register("q_orc_roundtrip", oracle=_NATION_AGG_ORACLE, tags=("format", "orc", "sink", "source"))
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → ORC → read → join/agg (typed columnar alternative path)."""
    return _nation_roundtrip(spark, sf_dir, "orc")


@register(
    "q_text_roundtrip",
    oracle="""
    SELECT text AS value, LENGTH(text) AS n_chars
    FROM documents WHERE doc_id < 50
    ORDER BY value, n_chars
    """,
    tags=("format", "text", "sink", "source"),
)
def q_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → line-delimited text files → read back → per-line
    stats. The untyped single-column format is the reference's raw
    String/None schema type (/root/reference/src/PulsarApi.proto:26-43):
    payload bytes with no structure, schema applied by the consumer."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    path = scratch_dir("pl_formats_text", sf_dir)
    docs.select(F.col("text").alias("value")).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.select(
        "value", F.length("value").alias("n_chars")
    ).orderBy("value", "n_chars")


@register(
    "q_xml_source_roundtrip",
    oracle=_NATION_AGG_ORACLE,
    tags=("format", "xml", "sink", "source"),
)
def q_xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → XML files (Spark 4 native XML data source, rowTag
    records) → read with explicit schema → join/agg. The file-level twin
    of q_xml_roundtrip's to_xml/from_xml column serde: same lossless
    contract, but through the writer/reader path a 100 TB XML feed would
    use (per-partition streaming rewrite, no shuffle)."""
    return _nation_roundtrip(spark, sf_dir, "xml", rowTag="nation")


@register(
    "q_binary_source",
    oracle="""
    SELECT doc_id, OCTET_LENGTH(ENCODE(text)) AS n_bytes,
           MD5(text) AS content_md5
    FROM documents WHERE doc_id < 40 ORDER BY doc_id
    """,
    tags=("format", "binary", "source", "multimodal"),
)
def q_binary_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile ingestion — the opaque-blob scan a multimodal pipeline
    starts from (one row per object: path / length / content bytes, the
    content column feeding the decode UDFs in operators/multimodal.py).
    Fixture: 40 bounded per-doc files written from documents.text (UTF-8
    bytes, a fresh directory per call); the read path under test parses
    the id from the file path and must recover byte length + md5 exactly — the
    same (path, bytes) contract as an object-store image/audio bucket.
    At scale the binaryFile source lists and splits by file, so the scan
    parallelizes per object with no shuffle."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    path = scratch_dir("pl_formats_binary_docs", sf_dir)
    os.makedirs(path)
    # bounded fixture build (40 rows) — the operator under test is the read
    for r in d.select("doc_id", "text").collect():
        with open(os.path.join(path, f"{r.doc_id}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    back = spark.read.format("binaryFile").load(path)
    return back.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    ).orderBy("doc_id")


@register(
    "q_file_provenance",
    oracle="""
    SELECT 4 AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS all_attributed, TRUE AS files_nonempty
    FROM orders WHERE o_orderkey % 9 = 0
    """,
    tags=("format", "provenance", "lineage"),
)
def q_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level file provenance (input_file_name — the lineage column a
    100 TB ingest uses to trace a bad row back to its source object):
    a 4-file dataset is written, re-read, and every row attributed to its
    file. The checks: exactly 4 distinct files observed, every row
    carries a non-empty attribution, no file is empty, and the
    count/key-sum over the attributed rows equal the source exactly —
    i.e. attribution neither drops nor duplicates rows. (Verified
    manually: per-file counts/sums also hash-match DuckDB's
    read_parquet(filename=true) on the same directory; per-file rows
    stay out of the registered result only because the scratch path is
    process-scoped while oracle SQL is static.)"""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 9 == 0)
    path = scratch_dir("pl_formats_provenance", sf_dir)
    o.select("o_orderkey").repartition(4).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path).select(
        F.input_file_name().alias("f"), "o_orderkey"
    )
    per_file = back.groupBy("f").agg(F.count(F.lit(1)).alias("n"))
    return (
        back.agg(
            F.countDistinct("f").cast("int").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            (F.count_if(F.length("f") > 0) == F.count(F.lit(1))).alias(
                "all_attributed"
            ),
        )
        .crossJoin(
            F.broadcast(
                per_file.agg((F.min("n") > 0).alias("files_nonempty"))
            )
        )
        .select("n_files", "n_rows", "key_sum", "all_attributed", "files_nonempty")
    )


@register(
    "q_corrupt_records",
    oracle="""
    SELECT CASE WHEN doc_id % 7 = 0 THEN '__corrupt__' ELSE lang END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
    tags=("format", "json", "corrupt-records"),
)
def q_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE corrupt-record policy — the malformed-input contract a
    100 TB JSON ingest needs: every 7th document is written as a
    deliberately truncated JSON line; the PERMISSIVE read lands broken
    lines in _corrupt_record (typed columns null) instead of failing the
    job, and the counts per (lang | __corrupt__) bucket must match the
    oracle's analytic split exactly — proving malformed rows are neither
    dropped nor double-counted."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    path = scratch_dir("pl_formats_json_corrupt", sf_dir)
    line = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"), F.lit(", TRUNC")),
    ).otherwise(F.to_json(F.struct("doc_id", "lang")))
    d.select(line.alias("value")).write.mode("overwrite").text(path)
    back = (
        spark.read.schema("doc_id LONG, lang STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return (
        back.select(
            F.when(F.col("_corrupt_record").isNull(), F.col("lang"))
            .otherwise(F.lit("__corrupt__"))
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("bucket")
    )


@register(
    "q_schema_evolution",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_name,
           CAST(SUM(CASE WHEN n_nationkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_region,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    """,
    tags=("format", "parquet", "schema-evolution"),
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift across parquet batches — years of a 100 TB table never
    share one schema: an old batch (even keys) has columns (n_nationkey,
    n_name), a new batch (odd keys) has (n_nationkey, n_regionkey); a
    mergeSchema read unions them, null-filling each batch's missing
    column. Non-null counts per column must equal the oracle's analytic
    even/odd split and the key sum proves no row was lost or duplicated."""
    nation = load_table(spark, sf_dir, "nation")
    base = scratch_dir("pl_formats_parquet_evolved", sf_dir)
    nation.filter(F.col("n_nationkey") % 2 == 0).select("n_nationkey", "n_name").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "batch=old"))
    nation.filter(F.col("n_nationkey") % 2 == 1).select(
        "n_nationkey", "n_regionkey"
    ).write.mode("overwrite").parquet(os.path.join(base, "batch=new"))
    merged = spark.read.option("mergeSchema", "true").option("basePath", base).parquet(
        os.path.join(base, "batch=old"), os.path.join(base, "batch=new")
    )
    return merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.count("n_name").cast("bigint").alias("n_with_name"),
        F.count("n_regionkey").cast("bigint").alias("n_with_region"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
    )
