"""Property-based tests (hypothesis): serde round-trips and estimator
bounds hold for arbitrary inputs, not just the fixture corpus.

Spark jobs are expensive per example, so each property batches ALL
hypothesis examples into ONE DataFrame and runs a single job (the same
discipline the engine itself preaches: vectorize, don't loop)."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pulsar_lunar_spark.functions.envelope import decode_payload, to_envelope

# JSON-serde-safe text: printable unicode (no surrogates); Spark's to_json
# escapes everything else.
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=80
)
_payloads = st.lists(
    st.tuples(st.integers(min_value=0, max_value=2**62), _text,
              st.floats(allow_nan=False, allow_infinity=False, width=32)),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[0],
)

_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("txt", StringType()),
        StructField("val", DoubleType()),
    ]
)


@settings(max_examples=20, deadline=None)
@given(_payloads)
def test_envelope_roundtrip_property(spark, rows):
    """For ANY typed rows: rows -> envelope bytes -> decode == identity."""
    df = spark.createDataFrame(rows, schema=_SCHEMA)
    env = to_envelope(
        df, topic="prop", payload_cols=["id", "txt", "val"], key="id", sequence_id="id"
    )
    back = decode_payload(env, _SCHEMA, keep_envelope=False)
    got = {(r["id"], r["txt"], r["val"]) for r in back.collect()}
    want = {(r["id"], r["txt"], r["val"]) for r in df.collect()}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60),
        min_size=2,
        max_size=6,
    )
)
def test_minhash_estimates_jaccard(spark, shingle_sets):
    """MinHash signature agreement estimates Jaccard within binomial error
    (128 hashes -> se = sqrt(j(1-j)/128) <= 0.045; assert 5 sigma)."""
    import random as _r

    from pulsar_lunar_spark.operators.dedup import (
        _MERSENNE_31,
        _hash_coefficients,
    )

    coef = _hash_coefficients(128, 42)

    def sig(s):
        base = [hash(("x", v)) % _MERSENNE_31 for v in s]
        return [min((a * h + b) % _MERSENNE_31 for h in base) for a, b in coef]

    sigs = [sig(s) for s in shingle_sets]
    for i in range(len(shingle_sets)):
        for j in range(i + 1, len(shingle_sets)):
            a, b = shingle_sets[i], shingle_sets[j]
            true_j = len(a & b) / len(a | b)
            est = sum(x == y for x, y in zip(sigs[i], sigs[j])) / 128.0
            assert abs(est - true_j) <= 5 * math.sqrt(max(true_j * (1 - true_j), 0.01) / 128)


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=20),
    n=st.integers(min_value=1, max_value=6),
    usec=st.integers(min_value=1000, max_value=2_000_000),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_avi_roundtrip_property(w, h, n, usec, seed):
    """encode_avi -> decode_avi is the identity on arbitrary frame stacks
    (any dims incl. padded odd widths, any frame count, any frame rate).
    Pure-python codec — no Spark job, so per-example cost is micro."""
    import numpy as np

    from pulsar_lunar_spark.operators.multimodal import decode_avi, encode_avi

    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(n, h, w), dtype=np.uint8)
    w2, h2, usec2, out = decode_avi(encode_avi(frames, usec_per_frame=usec))
    assert (w2, h2, usec2, len(out)) == (w, h, usec, n)
    for f in range(n):
        assert np.array_equal(out[f], frames[f])


@settings(max_examples=8, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=500), max_size=60),
    st.sets(st.integers(min_value=0, max_value=500), max_size=60),
)
def test_ack_bitset_property(spark, tmp_path_factory, acked1, acked2):
    """For ANY two ack subsets applied in sequence: pending == produced
    minus (acked1 ∪ acked2) — the BitSet ledger is exactly set union,
    regardless of block boundaries, ordering, or overlap."""
    from pulsar_lunar_spark.sources.log import MessageLog

    produced = set(range(0, 501, 7)) | {63, 64, 65, 127, 128}  # block edges
    root = tmp_path_factory.mktemp("ackprop")
    ml = MessageLog(spark, str(root))
    df = spark.createDataFrame(
        [(i, f"u{i % 5}") for i in sorted(produced)], "event_id long, user string"
    )
    ml.produce(df, topic="t", payload_cols=["event_id"], key="user",
               sequence_id="event_id")
    env = ml.read("t")
    for sub in (acked1, acked2):
        ids = sorted(sub & produced)
        if ids:
            ml.ack("t", "s", env.filter(F.col("sequence_id").isin(ids)))
    got = sorted(r["sequence_id"] for r in ml.pending("t", "s").collect())
    assert got == sorted(produced - acked1 - acked2)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=12).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_containment_pairs_property(spark, docs):
    """For ANY small corpus: containment_pairs matches the brute-force
    python computation of Broder containment over distinct 3-shingles
    (with the same short-text fallback and df cap disabled)."""
    from pulsar_lunar_spark.operators.dedup import containment_pairs

    def norm(t):
        return " ".join(t.split())

    def sh(t):
        w = norm(t).split(" ")
        if len(w) >= 3:
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
        return {norm(t)}

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["a_id"], r["b_id"]): (r["overlap"], r["size_a"], r["containment_ppm"])
        for r in containment_pairs(df, "doc_id", "text", df_cap=10**6).collect()
    }
    want = {}
    for i, ti in rows:
        for j, tj in rows:
            if i == j:
                continue
            ov = len(sh(ti) & sh(tj))
            if ov:
                want[(i, j)] = (ov, len(sh(ti)), (1000000 * ov) // len(sh(ti)))
    assert got == want


@given(
    st.lists(
        st.integers(min_value=20, max_value=47),  # word counts incl. tail windows
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=12, deadline=None)
def test_span_corruption_reconstruction_property(spark, word_counts):
    """For arbitrary document lengths (complete-window boundaries, partial
    tails, minimum length): splicing target spans over their sentinels in
    the input reproduces the original text exactly, spans never overlap,
    and n_spans == n_words div 10. One Spark job per example batch."""
    from pulsar_lunar_spark.queries.llm9 import _SC_SPAN, _SC_WINDOW

    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(n)))
        for i, n in enumerate(word_counts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # replicate the registered query's transform on the synthetic frame
    from pulsar_lunar_spark.operators import text as T

    words = F.split(T.normalize_text(F.col("text")), " ")
    sized = (
        df.select("doc_id", words.alias("__w"))
        .filter(F.size("__w") >= 2 * _SC_WINDOW)
        .select(
            "doc_id", "__w",
            F.size("__w").alias("__n"),
            (F.size("__w") / _SC_WINDOW).cast("long").alias("__nwin"),
        )
    )
    starts = F.expr(
        f"""transform(sequence(0, int(__nwin) - 1), k ->
            k * {_SC_WINDOW}
            + int(cast(conv(substring(md5(concat(cast(doc_id as string),
                                             ':', cast(k as string))), 1, 6),
                        16, 10) as bigint) % {_SC_WINDOW - _SC_SPAN + 1})
            + 1)"""
    )
    marked = sized.select("doc_id", "__w", "__n", "__nwin", starts.alias("__s"))
    input_text = F.expr(
        f"""array_join(filter(transform(sequence(1, int(__n)), i ->
            CASE
                WHEN (i - 1) div {_SC_WINDOW} >= __nwin THEN element_at(__w, i)
                WHEN i = element_at(__s, int((i - 1) div {_SC_WINDOW}) + 1)
                    THEN concat('<X_', cast((i - 1) div {_SC_WINDOW} as string), '>')
                WHEN i > element_at(__s, int((i - 1) div {_SC_WINDOW}) + 1)
                     AND i < element_at(__s, int((i - 1) div {_SC_WINDOW}) + 1)
                             + {_SC_SPAN}
                    THEN NULL
                ELSE element_at(__w, i)
            END), x -> x IS NOT NULL), ' ')"""
    )
    target_text = F.expr(
        f"""array_join(transform(sequence(0, int(__nwin) - 1), k ->
            concat('<X_', cast(k as string), '> ',
                   element_at(__w, element_at(__s, k + 1)), ' ',
                   element_at(__w, element_at(__s, k + 1) + 1), ' ',
                   element_at(__w, element_at(__s, k + 1) + 2))), ' ')"""
    )
    out = marked.select(
        "doc_id",
        F.col("__nwin").cast("long").alias("n_spans"),
        input_text.alias("input_text"),
        target_text.alias("target_text"),
    ).collect()
    originals = dict(rows)
    assert len(out) == len(rows)
    for r in out:
        n_words = len(originals[r["doc_id"]].split(" "))
        assert r["n_spans"] == n_words // _SC_WINDOW
        spans = {}
        toks = r["target_text"].split(" ")
        for j in range(0, len(toks), _SC_SPAN + 1):
            assert toks[j] not in spans  # sentinels unique => no overlap
            spans[toks[j]] = toks[j + 1 : j + _SC_SPAN + 1]
        rebuilt = []
        for t in r["input_text"].split(" "):
            rebuilt.extend(spans[t] if t in spans else [t])
        assert " ".join(rebuilt) == originals[r["doc_id"]]


# --- round-7 graph + reweighting operators -------------------------------

_edge_lists = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda t: t[0] != t[1]),
    min_size=1,
    max_size=40,
).map(lambda es: sorted({(min(a, b), max(a, b)) for a, b in es}))


@settings(max_examples=10, deadline=None)
@given(_edge_lists)
def test_triangle_forms_match_bruteforce_property(spark, edges):
    """For ANY undirected graph: the edge-iterator triangle count equals
    brute force, and orientation emits exactly one row per edge."""
    from pulsar_lunar_spark.operators import graph as G

    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    nodes = sorted(nbrs)
    want = sum(
        1
        for i, u in enumerate(nodes)
        for v in nodes[i + 1 :]
        if v in nbrs[u]
        for w in nodes
        if w > v and w in nbrs[u] and w in nbrs[v]
    )
    edf = spark.createDataFrame(edges, ["src", "dst"])
    oriented = G.orient_edges(edf)
    rows = oriented.collect()
    assert len(rows) == len(edges)
    assert {(min(r.a, r.b), max(r.a, r.b)) for r in rows} == set(edges)
    it = G.triangle_count_adjacency(G.oriented_adjacency(oriented)).collect()[0]
    assert it.n_triangles == want
    assert it.n_edges == len(edges)


@settings(max_examples=10, deadline=None)
@given(_edge_lists)
def test_softdedup_weights_match_unionfind_property(spark, pairs):
    """For ANY pair list: weight_ppm == 1e6 // component size under a
    python union-find reference, for every doc appearing in a pair."""
    from pulsar_lunar_spark.operators.dedup import softdedup_weights

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    sizes: dict[int, int] = {}
    for n in list(parent):
        sizes[find(n)] = sizes.get(find(n), 0) + 1
    want = {n: 1_000_000 // sizes[find(n)] for n in parent}

    pdf = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r.doc_id: r.weight_ppm for r in softdedup_weights(pdf).collect()}
    assert got == want


_cumsum_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # group (few, huge regime)
        st.integers(min_value=0, max_value=50),     # order key (ties allowed
                                                    # ACROSS groups, unique
                                                    # within via uniqueness)
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: (t[0], t[1]),  # total order within each group
)


@settings(max_examples=15, deadline=None)
@given(_cumsum_rows)
def test_sharded_group_cumsum_property(spark, rows):
    """For ANY (group, order, value) frame with a per-group total order:
    the range-sharded running sum equals the plain window form row for
    row — including negative values, single-row groups, and n_ranges
    larger than the row count."""
    from pyspark.sql import Window

    from pulsar_lunar_spark.operators.partitioning import sharded_group_cumsum

    df = spark.createDataFrame(rows, "g long, o long, v long")
    got = {
        (r.g, r.o): r.cum
        for r in sharded_group_cumsum(df, "g", ["o"], "v", n_ranges=4).collect()
    }
    want = {
        (r.g, r.o): r.cum
        for r in df.select(
            "g", "o",
            F.sum("v").over(Window.partitionBy("g").orderBy("o")).alias("cum"),
        ).collect()
    }
    assert got == want


_graph_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ),
    min_size=0,
    max_size=25,
)


@settings(max_examples=15, deadline=None)
@given(_graph_edges)
def test_cc_star_equals_min_label_property(spark, raw_edges):
    """For ANY small random graph (self-loops, duplicates, both
    directions): star contraction and min-label propagation produce the
    same (node, component) labeling."""
    from pulsar_lunar_spark.operators import corpus as C

    nodes = spark.createDataFrame([(i,) for i in range(16)], "node long")
    edges = spark.createDataFrame(
        raw_edges or [(0, 0)], "src long, dst long"  # empty-list guard
    )
    star = {
        (r.node, r.component)
        for r in C.connected_components_star(nodes, edges).collect()
    }
    minl = {
        (r.node, r.component)
        for r in C.connected_components(nodes, edges, max_iterations=32).collect()
    }
    assert star == minl
