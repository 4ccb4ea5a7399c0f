"""Embedding similarity search (SURVEY §2B north star).

- Column math (``dot`` / ``l2_norm`` / ``cosine``): JVM zip_with +
  aggregate folds over array<double>, for one-row-per-pair expressions.
- ANN via random-hyperplane LSH: ``ann_cosine_scored`` computes the
  sign-bit bucket flag and the query cosine for every vector in one
  Arrow GEMM pass.
- Matrix-shaped work (near-dup pairs within blocks, k-NN and
  hard-negative joins for a bounded query batch) runs as Arrow-batched
  BLAS: one GEMM per batch or block, local top-k before the shuffle.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns (JVM fold, in-order sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _random_hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def _plane_battery(dim: int, n_planes: int, n_tables: int, seed: int):
    """The shared LSH battery: all tables' hyperplanes stacked as ONE
    (n_tables*n_planes) x dim numpy matrix plus the per-table bit weights.
    The query side and the corpus side of ann_cosine_scored both derive
    their buckets from THIS function, so a plane dot within an ulp of
    zero flips (or not) the same way on both sides."""
    import numpy as np

    planes_mat = np.array(
        [
            plane
            for t in range(n_tables)
            for plane in _random_hyperplanes(dim, n_planes, seed + 1000 * t)
        ]
    )  # (n_tables*n_planes) x dim
    weights = 1 << np.arange(n_planes)
    return planes_mat, weights


def _signs_to_buckets(signs, weights, n_planes: int, n_tables: int):
    """Per-table bucket ids from a (rows x n_tables*n_planes) sign matrix
    -> (rows x n_tables) int matrix."""
    import numpy as np

    return np.stack(
        [
            (signs[:, t * n_planes : (t + 1) * n_planes] * weights).sum(axis=1)
            for t in range(n_tables)
        ],
        axis=1,
    )


def _batch_in_query_bucket(vm, planes_mat, weights, qbuckets, n_planes: int, n_tables: int):
    """One GEMM sign-bucket battery for an Arrow batch: True where the row
    shares a bucket with the query in >= 1 table."""
    import numpy as np

    signs = (vm @ planes_mat.T) >= 0  # batch x (tables*planes)
    buckets = _signs_to_buckets(signs, weights, n_planes, n_tables)
    return (buckets == qbuckets[None, :]).any(axis=1)


def ann_cosine_scored(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    id_col: str = "vec_id",
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
) -> DataFrame:
    """ONE Arrow pass over the corpus: (id, in-query-bucket flag, cosine).

    The shared scan for ANN-vs-exact recall evaluation — the bucket
    battery AND the query cosine come out of the same numpy batch (the
    GEMM already touched every vector), so a caller comparing the
    LSH-filtered top-k against the brute-force top-k materializes this
    tiny 3-column table once instead of running two full corpus passes."""
    import numpy as np
    import pandas as pd

    dim = len(query)
    planes_mat, weights = _plane_battery(dim, n_planes, n_tables, seed)
    qarr = np.asarray([float(x) for x in query])
    qnorm = math.sqrt(float(qarr @ qarr)) or 1.0
    qbuckets = _signs_to_buckets(
        ((planes_mat @ qarr) >= 0)[None, :], weights, n_planes, n_tables
    )[0]

    @F.pandas_udf("struct<keep:boolean,cos:double>", F.PandasUDFType.SCALAR)
    def _score(v):
        vm = np.array(v.tolist(), dtype=np.float64)  # batch x dim
        keep = _batch_in_query_bucket(
            vm, planes_mat, weights, qbuckets, n_planes, n_tables
        )
        dots = vm @ qarr
        norms = np.sqrt((vm * vm).sum(axis=1))
        norms[norms == 0.0] = 1.0
        return pd.DataFrame({"keep": keep, "cos": dots / (norms * qnorm)})

    return df.select(
        F.col(id_col), _score(_as_double(F.col(vec_col))).alias("__s")
    ).select(
        id_col,
        F.col("__s.keep").alias("in_bucket"),
        F.round(F.col("__s.cos"), 6).alias("cosine_sim"),
    )


def blocked_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.40,
    emit_block: bool = False,
) -> DataFrame:
    """All pairs (id_a < id_b) within each block whose cosine >= threshold —
    the semantic near-dup primitive, computed as one GEMM per block.
    With ``emit_block`` the grouping key rides along in the output, so a
    per-block consumer (drop counts per cell) needs no join back.

    Per-pair HOF expressions (zip_with+aggregate) evaluate interpreted per
    element — O(block² · dim) scalar ops. This instead ships each block to a
    vectorized Arrow batch and does normalized X·Xᵀ in one BLAS call, then
    emits the upper-triangle hits: ~200× faster at dim=64 and identical
    results (float64 both ways).

    Scale: groupBy(block) shards cells across executors; memory per task is
    O(block²) for the score matrix, so size blocks (coarse-cluster cells) to
    ~10-50k vectors — the same budget an IVF cell targets. Cost is
    O(Σ block²·dim) FLOPs in BLAS, not O(n²) scalar ops.
    """
    import pandas as pd

    schema = "id_a long, id_b long, cosine_sim double"
    if emit_block:
        btype = df.schema[block_col].dataType.simpleString()
        schema = f"{block_col} {btype}, " + schema

    def pairs(key, pdf):
        import numpy as np

        ids = pdf[id_col].to_numpy()
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0.0] = 1.0
        xn = x / norms[:, None]
        sims = xn @ xn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        hit = sims[iu, ju] >= threshold
        ia, ib, cs = ids[iu[hit]], ids[ju[hit]], sims[iu, ju][hit]
        swap = ia > ib
        ia2 = np.where(swap, ib, ia)
        ib2 = np.where(swap, ia, ib)
        out = pd.DataFrame({"id_a": ia2, "id_b": ib2, "cosine_sim": cs})
        if emit_block:
            out.insert(0, block_col, key[0])
        return out

    src = df.select(F.col(id_col), F.col(block_col), _as_double(F.col(vec_col)).alias(vec_col))
    return src.groupBy(block_col).applyInPandas(pairs, schema)


def blocked_cross_modal_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    side_col: str = "side",
    threshold: float = 0.40,
) -> DataFrame:
    """Cross-modal near-dup pairs within coarse blocks — the image↔text
    pair-dedup primitive for multimodal training corpora: rows carry a
    binary ``side_col`` (0 = one embedding tower, e.g. image; 1 = the
    other, e.g. text), and each block computes ONE normalized rectangular
    GEMM between its two sides (A·Bᵀ, |A|x|B| scores), emitting only
    cross-side pairs with cosine >= threshold as (id_a side-0, id_b
    side-1, cosine_sim). Same-side duplicates are q_dedup_embedding's
    job; this finds captions re-used across images, frames re-used across
    transcripts, etc.

    Scale shape is identical to :func:`blocked_cosine_pairs` (one
    groupBy(block) exchange, Arrow+BLAS per cell, O(|A|·|B|) per-block
    score memory — size blocks like IVF cells), except the score matrix
    is rectangular and no triangle masking is needed.
    """
    import pandas as pd

    schema = "id_a long, id_b long, cosine_sim double"

    def pairs(key, pdf):
        import numpy as np

        out_empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        a_pdf = pdf[pdf[side_col] == 0]
        b_pdf = pdf[pdf[side_col] == 1]
        if a_pdf.empty or b_pdf.empty:
            return out_empty

        def norm_mat(p):
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in p[vec_col]])
            n = np.linalg.norm(x, axis=1)
            n[n == 0.0] = 1.0
            return x / n[:, None]

        sims = norm_mat(a_pdf) @ norm_mat(b_pdf).T
        ai, bi = np.nonzero(sims >= threshold)
        return pd.DataFrame(
            {
                "id_a": a_pdf[id_col].to_numpy()[ai],
                "id_b": b_pdf[id_col].to_numpy()[bi],
                "cosine_sim": sims[ai, bi],
            }
        )

    src = df.select(
        F.col(id_col),
        F.col(block_col),
        F.col(side_col),
        _as_double(F.col(vec_col)).alias(vec_col),
    )
    return src.groupBy(block_col).applyInPandas(pairs, schema)


def knn_join_gemm(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Top-k corpus neighbors for a SMALL query batch, GEMM-shaped.

    The query matrix (collected to the driver — valid for the "score a
    batch of prompts" shape, like ann_cosine_scored's query vector) is closed
    over by an Arrow-batched mapInPandas; each corpus partition computes
    normalized C·Qᵀ in one BLAS call and keeps only its LOCAL top-k rows
    per query, so the shuffle into the global top-k window carries
    O(partitions · |Q| · k) rows — never the full 5·n score table. Same
    result as the broadcast cross-join + window top-k form the tests keep
    as its reference (value-identity via exceptAll); ~3 HOF folds per pair
    become one fused BLAS op: 1.4 s -> ~0.3 s at sf0.1.
    """
    import pandas as pd

    qrows = queries.select(F.col(query_id), _as_double(F.col(query_vec))).collect()
    if not qrows:
        # an empty batch would make np.asarray(qmat) 1-D and raise an
        # opaque axis error inside every executor task — fail at the
        # driver with the actual cause instead
        raise ValueError("knn_join_gemm: the query batch is empty")
    q_ids = [int(r[0]) for r in qrows]
    qmat = [[float(x) for x in r[1]] for r in qrows]
    schema = f"{query_id} long, {corpus_id} long, cosine_sim double"

    def topk_batches(batches):
        import numpy as np

        qm = np.asarray(qmat, dtype=np.float64)
        qn = np.linalg.norm(qm, axis=1)
        qn[qn == 0.0] = 1.0
        qu = qm / qn[:, None]
        qid = np.asarray(q_ids)
        frames = []
        for pdf in batches:
            ids = pdf[corpus_id].to_numpy()
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[corpus_vec]])
            norms = np.linalg.norm(x, axis=1)
            norms[norms == 0.0] = 1.0
            sims = (x / norms[:, None]) @ qu.T  # (batch, |Q|)
            frames.append(
                pd.DataFrame(
                    {
                        query_id: np.repeat(qid, len(ids)),
                        corpus_id: np.tile(ids, len(qid)),
                        "cosine_sim": np.round(sims.T.ravel(), 6),
                    }
                )
            )
        if not frames:
            return
        allp = pd.concat(frames, ignore_index=True)
        allp = allp.sort_values(
            [query_id, "cosine_sim", corpus_id], ascending=[True, False, True]
        )
        yield allp.groupby(query_id, sort=False).head(k)

    local = corpus.select(F.col(corpus_id), _as_double(F.col(corpus_vec)).alias(corpus_vec))
    scored = local.mapInPandas(topk_batches, schema)
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine_sim"), F.asc(corpus_id))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def hard_negative_join_gemm(
    anchors: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    anchor_id: str = "anchor_id",
    anchor_vec: str = "av",
    anchor_label: str = "a_label",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    corpus_label: str = "label",
    same_label: bool = False,
) -> DataFrame:
    """Per-anchor top-k most-similar DIFFERENT-label corpus rows — the
    hard-negative mining primitive for contrastive training, in the
    knn_join_gemm Arrow lane. With ``same_label=True`` the mask flips:
    top-k most-similar SAME-label rows (excluding self) — positive-pair
    mining for the same contrastive objective.

    The anchor batch (a bounded, declared driver fetch — same contract as
    knn_join_gemm's query batch) is closed over by a mapInPandas; each
    corpus partition computes normalized C·Aᵀ in ONE BLAS call, masks
    same-label and self pairs to -inf inside the numpy batch, and emits
    only its LOCAL top-k per anchor — the shuffle into the global top-k
    window carries O(partitions · |A| · k) rows. Scores are rounded to 6
    BEFORE ranking (the float-ranking discipline), tie-break on corpus id.

    Residual cross-engine boundary risk (ADVICE r6, documented rather than
    "fixed"): np.round here is half-to-even while the DuckDB oracles use
    ROUND (half-away-from-zero) over a DIFFERENT FP operation order
    (inner/(norm*norm) vs normalize-then-dot) — a cosine landing exactly
    on a 1e-6 rounding boundary could round, and therefore rank,
    differently across engines. Swapping np.round for floor(x*1e6+0.5)
    would NOT close this (it differs from ROUND on negative boundaries
    and the op-order difference remains), so the discipline is: ranks and
    tie-breaks are integer/id-based, boundary landings are measure-zero
    on real embeddings, and all three test scales are hash-verified.

    This replaces the literal-battery form: |A|·dim unrolled codegen terms
    fall off the whole-stage-codegen cliff past ~512 terms (BASELINE.md
    round-2 negative result) — matrix-shaped batteries belong in
    Arrow+BLAS.
    """
    import pandas as pd

    arows = anchors.select(
        F.col(anchor_id), F.col(anchor_label), _as_double(F.col(anchor_vec))
    ).collect()
    if not arows:
        # same guard as knn_join_gemm: an empty anchor frame would raise
        # an opaque 1-D-array error inside every executor task
        raise ValueError("hard_negative_join_gemm: the anchor batch is empty")
    a_ids = [int(r[0]) for r in arows]
    a_labels = [int(r[1]) for r in arows]
    amat = [[float(x) for x in r[2]] for r in arows]
    schema = f"{anchor_id} long, {corpus_id} long, {corpus_label} int, cosine_sim double"

    def topk_batches(batches):
        import numpy as np

        am = np.asarray(amat, dtype=np.float64)
        an = np.linalg.norm(am, axis=1)
        an[an == 0.0] = 1.0
        au = am / an[:, None]
        aid = np.asarray(a_ids, dtype=np.int64)
        alab = np.asarray(a_labels, dtype=np.int64)
        frames = []
        for pdf in batches:
            ids = pdf[corpus_id].to_numpy(dtype=np.int64)
            labs = pdf[corpus_label].to_numpy(dtype=np.int64)
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[corpus_vec]])
            norms = np.linalg.norm(x, axis=1)
            norms[norms == 0.0] = 1.0
            sims = np.round((x / norms[:, None]) @ au.T, 6)  # (batch, |A|)
            if same_label:
                sims[labs[:, None] != alab[None, :]] = -np.inf
            else:
                sims[labs[:, None] == alab[None, :]] = -np.inf
            sims[ids[:, None] == aid[None, :]] = -np.inf
            frames.append(
                pd.DataFrame(
                    {
                        anchor_id: np.repeat(aid, len(ids)),
                        corpus_id: np.tile(ids, len(aid)),
                        corpus_label: np.tile(labs, len(aid)).astype(np.int32),
                        "cosine_sim": sims.T.ravel(),
                    }
                )
            )
        if not frames:
            return
        allp = pd.concat(frames, ignore_index=True)
        allp = allp[np.isfinite(allp["cosine_sim"])]
        allp = allp.sort_values(
            [anchor_id, "cosine_sim", corpus_id], ascending=[True, False, True]
        )
        yield allp.groupby(anchor_id, sort=False).head(k)

    local = corpus.select(
        F.col(corpus_id), F.col(corpus_label), _as_double(F.col(corpus_vec)).alias(corpus_vec)
    )
    scored = local.mapInPandas(topk_batches, schema)
    w = Window.partitionBy(anchor_id).orderBy(F.desc("cosine_sim"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )
