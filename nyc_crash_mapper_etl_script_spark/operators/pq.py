"""Product-quantization (PQ) approximate nearest neighbor.

The compression rung past the int8 scalar quantizer
(:func:`..operators.similarity.quantize_embeddings`): a d-dim vector is
split into ``m`` contiguous segments of ``d/m`` dims and each segment
is replaced by the id of its nearest codebook entry (``ksub`` entries
per segment).  Storage per vector drops from ``4d`` bytes (float32) to
``m`` bytes (``ksub <= 256``) -- 64x at d=64/m=4 -- which is what
keeps a 100 TB embedding corpus resident: the PQ codes fit where the
float vectors never could, and the float vectors are read only by the
exact-refine step over ``k * overscan`` survivors per query.

Query-time scoring is asymmetric distance computation (ADC): the query
vector stays exact; its dot product against every codebook entry of
every segment is a tiny per-query lookup table (``m * ksub`` doubles),
and a corpus vector's approximate dot product is ``m`` table lookups
over its codes.  In the Spark plan the LUTs are array columns on the
broadcast query side and each lookup is an ``element_at`` -- the whole
candidate stage is codegen'd Column arithmetic over the codes table;
no UDF, no float-vector I/O.

Determinism rules (shared with the IVF/LSH family so every path is
oracle-replayable in ANSI SQL):

 - codebooks are either pure-LCG (``pq_codebooks``, seed-stable and
   inlineable as SQL literals) or Lloyd-trained on an md5-hash-ordered
   sample (``pq_train`` -- same recipe as
   ``similarity.kmeans_centroids``);
 - encode picks argmin of round-6 scores with first-index (lowest
   code) tie-break;
 - both ranking stages order by round-6 values with vec_id tie-breaks.

Reference parity: the reference has no ANN (its nearest analog is the
per-intersection radius scan, main.py:561-580); this module is part of
the training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.functions.vectors import cosine, dot

__all__ = ["pq_codebooks", "pq_train", "pq_encode", "pq_topk"]


def pq_codebooks(
    dim: int, m: int, ksub: int, seed: int = 42, scale: float = 0.5
) -> list[list[list[float]]]:
    """Deterministic pseudo-random codebooks: ``m`` segments, ``ksub``
    centroids each, components uniform in [-scale, scale] from the
    same pure-python LCG as ``similarity._hyperplanes`` -- identical
    every run, so the exact floats can be inlined into a SQL twin."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    state = seed & 0x7FFFFFFF
    books: list[list[list[float]]] = []
    for _ in range(m):
        book = []
        for _ in range(ksub):
            v = []
            for _ in range(dsub):
                state = (1103515245 * state + 12345) % (1 << 31)
                v.append((state / float(1 << 31) * 2.0 - 1.0) * scale)
            book.append(v)
        books.append(book)
    return books


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int,
    ksub: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 4096,
    iters: int = 10,
) -> list[list[list[float]]]:
    """Lloyd-trained codebooks (the production path): per-segment
    k-means over an md5-hash-ordered sample.  Deterministic like
    ``similarity.kmeans_centroids`` -- the sample is hash-ordered (no
    ``random()``), init is the first ``ksub`` sample segments, argmin
    ties break to the lowest code, and an emptied cell keeps its
    centroid.  The sample fits the driver; the returned codebooks
    broadcast into the encode plan as literals, so training cost is
    O(sample) regardless of corpus size."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    rows = (
        corpus.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_size)
        .select(F.col(vec_col).alias("v"))
        .collect()
    )
    X = np.array([list(r["v"]) for r in rows], dtype=np.float64)
    if X.shape[0] < ksub:
        raise ValueError(f"sample {X.shape[0]} smaller than ksub {ksub}")
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[:ksub].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # first min -> lowest code
            newC = C.copy()
            for c in range(ksub):
                members = S[assign == c]
                if len(members):
                    newC[c] = members.mean(axis=0)
            if np.allclose(newC, C, atol=1e-12):
                break
            C = newC
        books.append([[float(x) for x in row] for row in C])
    return books


def _seg(vec: Column, j: int, dsub: int) -> Column:
    return F.slice(vec, j * dsub + 1, dsub)


def _lit_vec(v: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def _encode_exprs(vec: Column, codebooks: list[list[list[float]]]) -> list[Column]:
    """1-based nearest-code per segment.  Squared L2 to centroid c is
    ``dot(s,s) - 2*dot(s,c) + dot(c,c)``; the first term is constant
    across c, so argmin runs over ``round(-2*dot(s,c) + cc, 6)`` --
    cc is a compile-time literal, and round-6 makes the argmin (and
    its first-index tie-break) engine-independent."""
    dsub = len(codebooks[0][0])
    codes = []
    for j, book in enumerate(codebooks):
        s = _seg(vec, j, dsub)
        scores = F.array(
            *[
                F.round(
                    F.lit(-2.0) * dot(s, _lit_vec(c))
                    + F.lit(float(sum(x * x for x in c))),
                    6,
                )
                for c in book
            ]
        )
        codes.append(F.array_position(scores, F.array_min(scores)).cast("int"))
    return codes


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>, 1-based) for every vector: pure Column
    arithmetic (round-6 scores, first-min code), codegen'd and
    replayable as its SQL twin.  One narrow projection: no shuffle, no
    join -- encoding 100 TB is embarrassingly parallel scan work."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    codes = F.array(*_encode_exprs(v, codebooks))
    return df.select(F.col(id_col), codes.alias("codes"))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    overscan: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Two-stage PQ-ADC ANN.

    Stage 1 (candidates) touches ONLY the codes table: the broadcast
    query side carries per-segment LUTs (``lut_j[c] = round(dot(q_seg_j,
    codebook_j[c]), 6)``) and the reconstructed-norm table is a literal
    (``cc_j[c] = dot(c, c)``), so a corpus row's approximate cosine is
    ``m`` ``element_at`` lookups for the dot plus ``m`` for the norm --
    all codegen, reading m bytes per vector instead of 4d.  Stage 2
    joins the ``k * overscan`` survivors back to the float vectors for
    exact cosine.  Both rankings use round-6 + vec_id tie-breaks."""
    from nyc_crash_mapper_etl_script_spark.functions.partitioning import (
        ensure_parallelism,
    )

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    corpus = ensure_parallelism(corpus)  # single-file corpora: spread the scan
    codes = pq_encode(corpus, codebooks, id_col, vec_col)

    qv = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    lut_cols = []
    for j, book in enumerate(codebooks):
        s = _seg(qv, j, dsub)
        lut_cols.append(
            F.array(*[F.round(dot(s, _lit_vec(c)), 6) for c in book]).alias(
                f"__lut{j}"
            )
        )
    qx = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.sqrt(dot(qv, qv)).alias("__qnorm"),
        *lut_cols,
    )

    cc_lits = [
        F.array(*[F.lit(float(sum(x * x for x in c))) for c in book])
        for book in codebooks
    ]
    adc = F.lit(0.0)
    rnorm2 = F.lit(0.0)
    for j in range(m):
        cj = F.element_at(F.col("codes"), j + 1)
        adc = adc + F.element_at(F.col(f"__lut{j}"), cj)
        rnorm2 = rnorm2 + F.element_at(cc_lits[j], cj)
    approx = F.round(
        adc
        / F.when(
            (rnorm2 > 0) & (F.col("__qnorm") > 0), F.sqrt(rnorm2) * F.col("__qnorm")
        ),
        6,
    )
    cand_scored = codes.join(F.broadcast(qx)).select(
        "query_id", F.col(id_col).alias("vec_id"), approx.alias("approx")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc_nulls_last(), F.col("vec_id").asc()
    )
    cand = (
        cand_scored.withColumn("__r", F.row_number().over(wq))
        .where(F.col("__r") <= k * overscan)
        .select("query_id", "vec_id")
    )
    refined = (
        cand.join(
            corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")),
            "vec_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.col(query_vec_col).alias("__qv"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("__v"), F.col("__qv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )
