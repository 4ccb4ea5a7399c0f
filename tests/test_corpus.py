"""Corpus-pipeline operator tests: repetition stats on crafted strings,
connected-components correctness vs a known graph, deterministic sampling,
BM25/TF-IDF sanity. The end-to-end oracle checks live in test_parity.py
(q_quality_gopher, q_dedup_cluster, q_sample_stratified, q_tfidf_terms,
q_bm25_search, q_contamination)."""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators import corpus as C
from pulsar_lunar_spark.operators.dedup import normalize_text


def _repetition_counts_jvm(col: Column) -> dict[str, Column]:
    """Reference for the q_quality_gopher Arrow lane: the integer Gopher
    repetition counters of one document as JVM HOF expressions.

    Returned counters are INTEGERS so callers can aggregate them as sums
    and take ratios-of-sums afterwards — order-independent, so corpus
    aggregates hash-match a sequential oracle exactly (doubles averaged
    across partitions would not).

    - total_words / distinct_words: duplicate-word mass = 1 - distinct/total
    - top_word_count: occurrences of the single most frequent word
      (Gopher's "top word share" numerator)
    - total_2grams / distinct_2grams: duplicate-2gram mass
    """
    words = F.split(normalize_text(col), " ")
    total = F.size(words)
    uniq = F.array_distinct(words)
    # top word count = longest run in the sorted array: one O(n) fold with a
    # (prev, run, best) accumulator instead of the O(distinct·n)
    # filter-per-distinct-word form (HOF lambdas evaluate interpreted, so
    # the asymptotic term dominates; measured ~3x on the corpus scan).
    top = F.aggregate(
        F.array_sort(words),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc.getField("best"),
                F.when(w == acc.getField("prev"), acc.getField("run") + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda acc: acc.getField("best"),
    )
    grams2 = F.transform(
        F.sequence(F.lit(0), total - 2),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, 2)),
    )
    grams2 = F.when(total >= 2, grams2).otherwise(F.array().cast("array<string>"))
    return {
        "total_words": total,
        "distinct_words": F.size(uniq),
        "top_word_count": top,
        "total_2grams": F.size(grams2),
        "distinct_2grams": F.size(F.array_distinct(grams2)),
    }


def _repetition_counts_arrow(col: Column) -> dict[str, Column]:
    """The q_quality_gopher counting lane over ``col``, as named columns."""
    from pulsar_lunar_spark.queries.llm3 import _repetition_counts_arrow as lane

    c = lane(F.split(normalize_text(col), " "))
    return {
        k: c.getField(k)
        for k in (
            "total_words",
            "distinct_words",
            "top_word_count",
            "total_2grams",
            "distinct_2grams",
        )
    }


def test_repetition_counts_crafted(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a b"),      # 4 words, 2 distinct, top=3, 3 2grams ("a a" x2, "a b"), 2 distinct
            (2, "x y z"),        # no repetition
            (3, "solo"),         # 1 word: zero 2grams
        ],
        "id int, text string",
    )
    cnt = _repetition_counts_arrow(F.col("text"))
    rows = {
        r["id"]: r
        for r in df.select("id", *[v.alias(k) for k, v in cnt.items()]).collect()
    }
    assert rows[1]["total_words"] == 4
    assert rows[1]["distinct_words"] == 2
    assert rows[1]["top_word_count"] == 3
    assert rows[1]["total_2grams"] == 3
    assert rows[1]["distinct_2grams"] == 2
    assert rows[2]["distinct_words"] == 3 and rows[2]["top_word_count"] == 1
    assert rows[3]["total_2grams"] == 0 and rows[3]["distinct_2grams"] == 0


def test_repetition_counts_arrow_matches_jvm_twin(spark, sf_dir):
    """The r12 Arrow counting lane (llm3._repetition_counts_arrow) must
    produce the exact integers of the JVM HOF twin on the real corpus —
    the value-identity pin for the q_quality_gopher rewrite. A NULL and
    an empty text row ride along: NULL degrades the same way in both."""
    from pulsar_lunar_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edge = spark.createDataFrame([(-1, None), (-2, "")], docs.schema)
    d = docs.unionByName(edge)
    jvm = d.select(
        "doc_id",
        *[v.alias(k) for k, v in _repetition_counts_jvm(F.col("text")).items()],
    )
    arrow = d.select(
        "doc_id",
        *[v.alias(k) for k, v in _repetition_counts_arrow(F.col("text")).items()],
    )
    jvm_rows = {r["doc_id"]: tuple(r)[1:] for r in jvm.collect()}
    arrow_rows = {r["doc_id"]: tuple(r)[1:] for r in arrow.collect()}
    assert jvm_rows[-1] == (None, None, None, 0, 0)
    assert jvm_rows == arrow_rows


def test_connected_components_known_graph(spark):
    # components: {1,2,3,4} (chain), {5,6}, {7} isolated
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "node long")
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 6)], "src long, dst long"
    )
    got = {
        (r["node"], r["component"])
        for r in C.connected_components(nodes, edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5), (7, 7)}


def test_connected_components_long_chain_converges(spark):
    # worst case for min-label propagation: one long path; label must walk
    # the full diameter within max_iterations
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    comp = C.connected_components(nodes, edges, max_iterations=n)
    assert {r["component"] for r in comp.collect()} == {0}


def test_connected_components_raises_when_not_converged(spark):
    # a diameter-5 chain cannot finish min-label propagation in 2
    # iterations; returning split components would silently corrupt any
    # per-cluster statistic built on top, so the operator must refuse
    import pytest

    n = 6
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        C.connected_components(nodes, edges, max_iterations=2)
    with pytest.raises(ValueError, match="max_iterations"):
        C.connected_components(nodes, edges, max_iterations=0)


def test_sample_flag_deterministic_and_stratified(spark):
    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    keep = C.sample_flag(F.col("doc_id"), "29")
    a = df.filter(keep).count()
    b = df.filter(keep).count()
    assert a == b  # repeatable, no rand stream
    # '29' hex prefix ≈ 41/256 ≈ 16%: allow wide tolerance on 2000 ids
    assert 0.10 < a / 2000 < 0.22


def test_bm25_prefers_term_dense_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "spark spark spark filler filler"),
            (2, "spark filler filler filler filler"),
            (3, "filler filler filler filler filler"),
        ],
        "doc_id long, text string",
    )
    got = {r["__id"]: r["bm25"] for r in C.bm25_scores(df, "doc_id", "text", ["spark"]).collect()}
    assert 3 not in got  # no hit, no row
    assert got[1] > got[2] > 0


def test_tfidf_rare_term_outweighs_common(spark):
    df = spark.createDataFrame(
        [
            (1, "g1", "common rare"),
            (2, "g1", "common common"),
            (3, "g2", "common common"),
        ],
        "doc_id long, grp string, text string",
    )
    out = {
        (r["grp"], r["term"]): (r["tf"], r["df"], r["tfidf"])
        for r in C.tfidf_terms(df, "doc_id", "text", "grp", min_len=1).collect()
    }
    tf, dfreq, tfidf = out[("g1", "rare")]
    assert (tf, dfreq) == (1, 1)
    assert math.isclose(tfidf, math.log(4 / 2), rel_tol=1e-12)
    # 'common' appears in all 3 docs -> idf = ln(4/4) = 0
    assert out[("g1", "common")][2] == 0.0


def test_contamination_hits_inverted_index(spark):
    sh = spark.createDataFrame(
        [
            (1, ["a b c", "b c d"]),
            (2, ["x y z"]),
        ],
        "__id long, __sh array<string>",
    )
    corp = spark.createDataFrame(
        [
            (10, ["b c d", "q r s"]),  # overlaps bench 1
            (11, ["q r s"]),           # clean
        ],
        "__id long, __sh array<string>",
    )
    got = {
        (r["bench_id"], r["n_contaminated"])
        for r in C.contamination_counts(corp, sh).collect()
    }
    assert got == {(1, 1)}


def test_cc_star_matches_min_label_known_graph(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "node long")
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 6)], "src long, dst long"
    )
    got = {
        (r["node"], r["component"])
        for r in C.connected_components_star(nodes, edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5), (7, 7)}


def test_cc_star_deep_chain_beats_min_label_budget(spark):
    # a 200-hop chain: min-label needs 200 rounds (raises at 20); star
    # contraction converges in O(log^2 n) — well under its default 50
    import pytest

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        C.connected_components(nodes, edges)  # default 20 iterations
    comp = C.connected_components_star(nodes, edges)
    assert {r["component"] for r in comp.collect()} == {0}


def test_cc_star_empty_and_isolated(spark):
    nodes = spark.createDataFrame([(7,), (9,)], "node long")
    edges = spark.createDataFrame([], "src long, dst long")
    got = {
        (r["node"], r["component"])
        for r in C.connected_components_star(nodes, edges).collect()
    }
    assert got == {(7, 7), (9, 9)}


def test_cc_converges_at_exact_diameter_budget(spark):
    # diameter == max_iterations must RETURN (the final pass finishes the
    # propagation); only genuinely-still-moving labels may raise
    n = 6  # path 0-1-2-3-4-5: diameter 5
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    comp = C.connected_components(nodes, edges, max_iterations=n - 1)
    assert {r["component"] for r in comp.collect()} == {0}
