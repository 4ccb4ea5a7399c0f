"""Corpus-pipeline operator tests: repetition stats on crafted strings,
connected-components correctness vs a known graph, deterministic sampling,
BM25/TF-IDF sanity. The end-to-end oracle checks live in test_parity.py
(q_quality_gopher, q_dedup_cluster, q_sample_stratified, q_tfidf_terms,
q_bm25_search, q_contamination)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pulsar_lunar_spark.operators import corpus as C


def test_repetition_counts_crafted(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a b"),      # 4 words, 2 distinct, top=3, 3 2grams ("a a" x2, "a b"), 2 distinct
            (2, "x y z"),        # no repetition
            (3, "solo"),         # 1 word: zero 2grams
        ],
        "id int, text string",
    )
    cnt = C.repetition_counts(F.col("text"))
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
    from pulsar_lunar_spark.operators.dedup import normalize_text
    from pulsar_lunar_spark.queries.llm3 import _repetition_counts_arrow
    from pulsar_lunar_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edge = spark.createDataFrame([(-1, None), (-2, "")], docs.schema)
    d = docs.unionByName(edge)
    cnt = C.repetition_counts(F.col("text"))
    jvm = d.select(
        "doc_id", *[v.alias(k) for k, v in cnt.items()]
    )
    words = F.split(normalize_text(F.col("text")), " ")
    arrow = d.select(
        "doc_id", _repetition_counts_arrow(words).alias("__c")
    ).select("doc_id", "__c.*")
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
    got = {(r["bench_id"], r["corpus_id"]) for r in C.contamination_hits(corp, sh).collect()}
    assert got == {(1, 10)}


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
