"""Approximate-nearest-neighbor similarity search over an
``array<float>`` embedding column (north-star extension).

 - brute-force cosine top-k: the exact baseline.  One broadcast of
   the query set, one codegen pass over the corpus, per-query top-k
   via window rank (shuffles only (queries x corpus-partition) score
   rows after a cheap threshold prune).
 - LSH-bucketed (random hyperplanes): the scale path.  Deterministic
   seeded hyperplanes -> sign-bit bucket key; probing only the
   query's bucket turns a full-corpus scan into a bucket scan.  At
   100 TB the corpus is written bucketed (bucketBy on the key) so a
   query probe is a partition-pruned read, not a join.
 - embedding near-duplicate pairs: corpus self-join within buckets,
   verified by exact cosine >= threshold.
"""

from __future__ import annotations

import math

import pandas as pd  # noqa: F401 -- resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nyc_crash_mapper_etl_script_spark.functions.materialize import (
    share_corpus_subtree,
)
from nyc_crash_mapper_etl_script_spark.functions.partitioning import (
    ensure_parallelism,
)
from nyc_crash_mapper_etl_script_spark.functions.vectors import cosine, dot
from nyc_crash_mapper_etl_script_spark.functions.vectors import norm as vnorm


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Exact cosine top-k per query.  Queries are broadcast (query
    sets are small); ranking is a per-query window over scored rows.
    """
    corpus = ensure_parallelism(corpus)  # single-file corpora: spread the scan
    scored = corpus.alias("c").join(F.broadcast(queries.alias("q"))).select(
        F.col(f"q.{query_id_col}").alias("query_id"),
        F.col(f"c.{id_col}").alias("vec_id"),
        # rounded BEFORE ranking: both engines (and the DuckDB oracle
        # twin) then rank identical values, with the id tie-break
        # resolving rounding-induced ties deterministically
        F.round(cosine(F.col(f"c.{vec_col}"), F.col(f"q.{query_vec_col}")), 6).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-python LCG,
    no numpy dependency in the plan; same planes every run)."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(num_planes):
        v = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            v.append(state / float(1 << 31) * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket key: bit p set when dot(vec, plane_p) > 0."""
    key = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(x)) for x in plane])
        key = key + F.when(dot(vec, plane_col) > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return key


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    seed: int = 42,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing the
    query's hyperplane bucket.  Recall < 1.0 by construction; scale
    path for corpora where brute force is a full scan per query.

    ``probe_hamming=1`` is MULTI-PROBE LSH: each query also probes
    the num_planes buckets one sign-bit away (a near neighbor that
    straddles exactly one hyperplane lands there), trading
    (num_planes+1)x more bucket probes for a big recall jump --
    strictly cheaper than adding tables, because the corpus side is
    untouched and the probe list is a tiny query-side explode.  A
    corpus vector lives in exactly one bucket, so the probe fan-out
    introduces no duplicate (query, vec) pairs."""
    from nyc_crash_mapper_etl_script_spark.functions.scratch import reserve

    reserve(corpus, "__bucket")
    reserve(queries, "__bucket")
    planes = _hyperplanes(dim, num_planes, seed)
    c = ensure_parallelism(corpus).withColumn(
        "__bucket", lsh_bucket(F.col(vec_col), planes)
    )
    q = queries.withColumn("__bucket", lsh_bucket(F.col(query_vec_col), planes))
    if probe_hamming >= 1:
        probe_list = F.array(
            F.col("__bucket"),
            *[
                F.col("__bucket").bitwiseXOR(F.lit(1 << p).cast("long"))
                for p in range(num_planes)
            ],
        )
        q = q.withColumn("__bucket", F.explode(probe_list))
    scored = c.alias("c").join(
        F.broadcast(q.alias("q")), F.col("c.__bucket") == F.col("q.__bucket")
    ).select(
        F.col(f"q.{query_id_col}").alias("query_id"),
        F.col(f"c.{id_col}").alias("vec_id"),
        # rounded before ranking (see brute_force_topk)
        F.round(cosine(F.col(f"c.{vec_col}"), F.col(f"q.{query_vec_col}")), 6).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate vector pairs (a < b, cosine >= threshold) via
    bucket blocking + exact verify.  High-cosine pairs land in the
    same bucket with probability (1 - theta/pi)^planes; for dedup
    recall, union several plane seeds at 100 TB.

    A degenerate bucket (e.g. every all-zero vector hashes to the
    same code) stays memory-safe: the sort-merge self-join streams
    candidates with spill-to-disk per-key buffering instead of
    collecting the bucket into an array, so task memory is bounded
    even when the candidate count is quadratic."""
    planes = _hyperplanes(dim, num_planes, seed)
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def _md5_order(id_col: str) -> Column:
    """The one centroid-sampling order: md5 hex of the id as a string,
    the form DuckDB's ``md5(CAST(id AS VARCHAR))`` reproduces."""
    return F.md5(F.col(id_col).cast("string"))


def select_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF coarse quantizer: n_cells corpus vectors
    chosen by the md5 hex string of the id (a seeded spread sample --
    the k-means step of classical IVF traded for reproducibility; at
    100 TB train k-means on a sample and broadcast the result the same
    way).  The order is expressible 1:1 in the DuckDB oracle twin.
    Returns (cell_id, cv)."""
    hcol = _md5_order(id_col)
    # number the <= n_cells winners without a global window (which
    # would carry a "no partition defined" hazard marker even though
    # the input is provably tiny): fold them into ONE sorted array and
    # posexplode, so cell_id = position in (hash, id) order
    winners = (
        corpus.orderBy(hcol, F.col(id_col))
        .limit(n_cells)
        .select(hcol.alias("__h"), F.col(id_col).alias("__id"), F.col(vec_col).alias("cv"))
    )
    packed = winners.agg(
        F.array_sort(F.collect_list(F.struct("__h", "__id", "cv"))).alias("arr")
    )
    return packed.select(F.posexplode("arr").alias("cell_id", "s")).select(
        "cell_id", F.col("s.cv").alias("cv")
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    iters: int = 10,
) -> DataFrame:
    """IVF coarse quantizer refined by spherical k-means: Lloyd
    iterations over a DETERMINISTIC md5-ordered sample (never a
    random() -- same centroids every run, every cluster layout),
    initialized from :func:`select_centroids`' seeds.

    This is the classical IVF training recipe at scale: the sample
    (<= sample_size vectors) fits the driver, the refined centroids
    broadcast back, and the corpus-side assignment stays the same
    zero-shuffle Arrow matmul.  Cell ids keep the seed numbering, so
    every downstream path (assign/probe/write) is oblivious to
    whether centroids were refined.  Ties in the argmin break to the
    lowest cell id; a cell that loses all members keeps its previous
    centroid -- both rules keep the result platform-independent."""
    import numpy as np

    sample_rows = (
        corpus.orderBy(_md5_order(id_col), F.col(id_col))
        .limit(sample_size)
        .select(F.col(vec_col).alias("v"))
        .collect()
    )
    X = np.array([list(r["v"]) for r in sample_rows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    seed_rows = select_centroids(
        corpus, n_cells, id_col, vec_col
    ).orderBy("cell_id").collect()
    C = np.array([list(r["cv"]) for r in seed_rows], dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    for _ in range(iters):
        sims = Xn @ C.T
        assign = np.argmax(sims, axis=1)  # first max -> lowest cell id
        newC = C.copy()
        for c in range(C.shape[0]):
            members = Xn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 1e-12:
                    newC[c] = m / n
        if np.allclose(newC, C, atol=1e-12):
            break
        C = newC
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(i, [float(x) for x in C[i]]) for i in range(C.shape[0])],
        f"cell_id int, cv {corpus.schema[vec_col].dataType.simpleString()}",
    )


def _centroid_rows(
    corpus: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    centroid_impl: str = "hash",
):
    """Collected quantizer rows, memoized on the corpus plan
    (plancache): training runs once per distinct (corpus, params),
    not once per derived plan declaration — the quantizer is
    driver-bounded (n_cells rows) by design."""
    from nyc_crash_mapper_etl_script_spark.plancache import memo

    def compute():
        if centroid_impl == "kmeans":
            cents = kmeans_centroids(corpus, n_cells, id_col, vec_col)
        else:
            cents = select_centroids(corpus, n_cells, id_col, vec_col)
        return cents.orderBy("cell_id").collect()

    return memo(
        corpus,
        "ivf_centroids",
        (n_cells, id_col, vec_col, centroid_impl),
        compute,
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (argmax
    cosine, ties to the smallest cell_id) as a pure MAP: the centroid
    set is tiny by construction, so it is collected once and closed
    over by an Arrow-batched UDF that does one (batch x dim) @
    (dim x cells) matmul per batch.  ZERO shuffles -- the previous
    broadcast-join + groupBy-argmax form re-shuffled the entire
    corpus (embeddings included) just to pick a max, which is the
    exact pattern that dies at 100 TB.  Write the result partitioned/
    bucketed by ``cell_id`` so probes become partition-pruned scans.

    The argmax compares cosines rounded at 6, so matmul summation-order
    noise cannot flip an assignment and the DuckDB twins (which break
    the same near-ties by smallest cell_id) agree row for row; the
    ``sim_ivf_topk``, ``dedup_semantic_*`` and incremental registry
    rows check exactly that.
    """
    rows = centroids.orderBy("cell_id").collect()
    return _assign_from_rows(corpus, rows, id_col, vec_col)


def _assign_from_rows(
    corpus: DataFrame,
    rows,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ivf_assign` body over already-collected centroid rows --
    lets callers that train the quantizer once (ivf_topk) share the
    driver-side collect instead of re-executing the centroid subtree
    per derived plan."""
    import numpy as np
    from pyspark.sql import types as T

    C = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    cell_ids = np.array([r["cell_id"] for r in rows], dtype=np.int32)
    dim = C.shape[1]

    @F.pandas_udf(T.IntegerType())
    def nearest(vecs: pd.Series) -> pd.Series:
        M = np.array(
            [v if v is not None else [0.0] * dim for v in vecs], dtype=np.float64
        )
        norms = np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
        # round-6 before argmax: the same compare-rounded contract as
        # the SQL twin, so matmul summation-order noise (~1e-15)
        # cannot flip an assignment between engines
        sims = np.round((M / norms) @ Cn.T, 6)
        # argmax returns the FIRST max -> ties break to smallest cell
        return pd.Series(cell_ids[np.argmax(sims, axis=1)])

    # the UDF is deterministic, but telling Catalyst so lets it clone
    # the call into the downstream join's null-filter -> two Python
    # evaluations per row; nondeterministic pins a single evaluation
    nearest = nearest.asNondeterministic()

    return corpus.select(
        F.col(id_col).alias(id_col),
        F.col(vec_col).alias(vec_col),
        nearest(F.col(vec_col)).alias("cell_id"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    centroid_impl: str = "hash",
) -> DataFrame:
    """IVF approximate top-k: score only the corpus cells whose
    centroids are the query's n_probe nearest.

    The probe is an EQUI join on cell_id -- a hash join touching
    n_probe/n_cells of the corpus -- unlike brute force's full cross
    join.  ``n_probe == n_cells`` degrades gracefully to exact
    search (recall 1.0), which the tests pin.  All rankings compare
    cosines rounded at 6 with deterministic id tie-breaks, and the
    centroids come in md5 order, so the default quantizer is
    reproducible 1:1 in ANSI SQL (the ``sim_ivf_topk`` row).
    ``centroid_impl="kmeans"`` swaps in sample-trained spherical
    k-means centroids (better recall per probe; still deterministic,
    no longer SQL-twinnable).

    The quantizer is trained ONCE at plan declaration (one bounded
    driver job -- n_cells rows) and re-enters the plan as a local
    relation, so the executed plan never rescans the corpus to
    rebuild centroids: assignment is the zero-shuffle Arrow map,
    probing is a LocalTableScan broadcast.  (Before this the
    centroid-selection subtree -- corpus scan + TakeOrdered +
    collect_list -- was recomputed inside the probe branch of every
    execution, which is exactly the r2 bench regression.)"""
    rows = _centroid_rows(
        corpus, n_cells, id_col, vec_col, centroid_impl=centroid_impl
    )
    assigned = _assign_from_rows(ensure_parallelism(corpus), rows, id_col, vec_col)
    probes = _probe_cells_from_rows(
        queries, rows, n_probe, query_id_col, query_vec_col
    )
    return _score_probed(assigned, probes, k, id_col, vec_col)


def _probe_cells(
    queries: DataFrame,
    cents: DataFrame,
    n_probe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Each query's n_probe nearest centroid cells (query_id, qv,
    cell_id).  The centroid set is bounded by n_cells (the quantizer
    is driver-sized by design -- :func:`ivf_assign` already collects
    it), so it is collected once here too and the ranking becomes a
    shuffle-free expression over the query batch."""
    from nyc_crash_mapper_etl_script_spark.plancache import memo

    rows = memo(
        cents, "ivf_cent_probe", (), lambda: cents.orderBy("cell_id").collect()
    )
    return _probe_cells_from_rows(queries, rows, n_probe, query_id_col, query_vec_col)


# above this many centroid literals (n_cells * dim) the inline
# expression stops being a reasonable codegen unit; fall back to a
# broadcast join + per-query aggregate
_PROBE_EXPR_MAX_LITERALS = 65536


def _probe_cells_from_rows(
    queries: DataFrame,
    rows,
    n_probe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Top-n_probe centroid cells per query as a PURE MAP: build the
    (round-6 negated cosine, cell_id) struct per centroid, sort the
    tiny array, slice n_probe, explode.  Zero joins, zero shuffles,
    zero Python -- the probe branch adds no stage boundary to the
    plan.  Ordering contract matches the window form it replaced
    (sim desc with NULLs last via coalesce-to-inf, cell_id asc
    tie-break), so the DuckDB oracle twin is unchanged.

    Very large quantizers (n_cells * dim literals beyond codegen
    comfort) fall back to a broadcast-join + single-aggregation
    ranking -- still one shuffle-free map join, one partial-agg
    shuffle bounded by the query count."""
    qv = F.col(query_vec_col)
    n_lits = sum(len(r["cv"]) for r in rows) if rows else 0
    if n_lits <= _PROBE_EXPR_MAX_LITERALS:
        structs = [
            F.struct(
                F.coalesce(
                    -F.round(
                        cosine(qv, F.array(*[F.lit(float(x)) for x in r["cv"]])), 6
                    ),
                    F.lit(float("inf")),
                ).alias("negsim"),
                F.lit(int(r["cell_id"])).cast("int").alias("cell_id"),
            )
            for r in rows
        ]
        top = F.slice(F.array_sort(F.array(*structs)), 1, n_probe)
        return queries.select(
            F.col(query_id_col).alias("query_id"),
            qv.alias("qv"),
            F.explode(F.transform(top, lambda s: s["cell_id"])).alias("cell_id"),
        )
    spark = queries.sparkSession
    cents = spark.createDataFrame(list(rows))
    qcells = (
        queries.alias("q")
        .join(F.broadcast(cents))
        .select(
            F.col(f"q.{query_id_col}").alias("query_id"),
            F.col(f"q.{query_vec_col}").alias("qv"),
            F.col("cell_id"),
            F.coalesce(
                -F.round(cosine(F.col(f"q.{query_vec_col}"), F.col("cv")), 6),
                F.lit(float("inf")),
            ).alias("__negsim"),
        )
    )
    picked = qcells.groupBy("query_id").agg(
        F.first("qv").alias("qv"),
        F.slice(
            F.array_sort(F.collect_list(F.struct("__negsim", "cell_id"))), 1, n_probe
        ).alias("__top"),
    )
    return picked.select(
        "query_id",
        "qv",
        F.explode(F.transform("__top", lambda s: s["cell_id"])).alias("cell_id"),
    )


def _score_probed(
    assigned: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    scored = assigned.join(F.broadcast(probes), "cell_id").select(
        "query_id",
        F.col(id_col).alias("vec_id"),
        F.round(cosine(F.col(vec_col), F.col("qv")), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def ivf_write(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_impl: str = "hash",
) -> None:
    """Materialize an IVF index: corpus partitioned on disk by
    cell_id (hive dirs -> partition-pruned probes), centroids stored
    beside it under the scan-hidden ``_centroids`` dir.

    This is the storage half of the 100 TB ANN story: the in-plan
    :func:`ivf_topk` recomputes assignment per query batch, right for
    exploratory use; a standing corpus instead pays assignment ONCE
    at write and every probe afterwards reads only the n_probe/
    n_cells slice of the files (verified against ``input_file_name``
    in tests).  ``centroid_impl="kmeans"`` trains the quantizer on a
    deterministic sample before writing."""
    if centroid_impl == "kmeans":
        cents = kmeans_centroids(corpus, n_cells, id_col, vec_col)
    else:
        cents = select_centroids(corpus, n_cells, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(path)
    cents.write.mode("overwrite").parquet(path.rstrip("/") + "/_centroids")


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale =
    max|x|/127, q_i = round(x_i / scale) as TINYINT.  4x smaller than
    float32 (16x vs float64) -- at 100 TB of embeddings the quantized
    corpus is what stays hot; float vectors are only touched by the
    refine step.  All arithmetic is plain Column work (exact-integer
    dot products later accumulate exactly in double), so the whole
    path is replayable in ANSI SQL."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(0.0))
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x / scale).cast("tinyint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    qnorm = F.sqrt(
        F.aggregate(
            q,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("q"),
        qnorm.alias("qnorm"),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    overscan: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Two-stage ANN: (1) candidate generation scores QUANTIZED
    vectors only (int8 dot / quantized norms -- reads 1/4 the bytes),
    keeping k*overscan per query; (2) the survivors join back to the
    float vectors for exact cosine and the final top-k.  Ranking at
    both stages compares round-6 values with id tie-breaks, so the
    pipeline is deterministic and oracle-replayable."""
    cq = quantize_embeddings(ensure_parallelism(corpus), id_col, vec_col)
    qq = quantize_embeddings(
        queries, query_id_col, query_vec_col
    ).withColumnRenamed(query_id_col, "query_id")
    dotq = F.aggregate(
        F.zip_with(
            F.col(f"c.q"), F.col(f"s.q"), lambda a, b: a.cast("double") * b.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    simq = F.round(
        dotq / F.when(
            (F.col("c.qnorm") > 0) & (F.col("s.qnorm") > 0),
            F.col("c.qnorm") * F.col("s.qnorm"),
        ),
        6,
    )
    cand_scored = cq.alias("c").join(F.broadcast(qq.alias("s"))).select(
        F.col("s.query_id").alias("query_id"),
        F.col(f"c.{id_col}").alias("vec_id"),
        simq.alias("simq"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("simq").desc_nulls_last(), F.col("vec_id").asc()
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
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally grow a materialized IVF index: assign only the
    NEW vectors against the STORED centroids and append them into
    their cells' partitions -- no retraining, no rewrite of existing
    cells.  This is how a standing 100 TB index absorbs a daily
    increment: O(increment) work, quantizer unchanged (retrain with
    :func:`ivf_write` when drift accumulates)."""
    cents = spark.read.parquet(path.rstrip("/") + "/_centroids")
    assigned = ivf_assign(new_vectors, cents, id_col, vec_col)
    assigned.write.mode("append").partitionBy("cell_id").parquet(path)


def ivf_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Query a materialized IVF index with partition pruning: the
    probed cell ids (n_queries x n_probe distinct values, collected
    driver-side -- bounded by the query batch, never the corpus)
    become an IN-filter on the partition column, so the scan touches
    only those cells' files.  For query batches too large to collect,
    fall back to the equi join of :func:`ivf_topk` -- same plan minus
    the pruning."""
    cents = spark.read.parquet(path.rstrip("/") + "/_centroids")
    probes = _probe_cells(queries, cents, n_probe, query_id_col, query_vec_col)
    cells = [r["cell_id"] for r in probes.select("cell_id").distinct().collect()]
    assigned = spark.read.parquet(path).where(F.col("cell_id").isin(cells))
    return _score_probed(assigned, probes, k, id_col, vec_col)


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
) -> DataFrame:
    """Recall@k of an approximate ANN result against the exact
    baseline: per query, |approx ∩ exact| / k over (query_id, vec_id)
    result sets.  The standard acceptance metric for every
    bucketed/quantized variant in this module -- run it on a sampled
    query batch before trusting a recall-sensitive pipeline to an
    approximate index.  Queries with zero overlap surface as 0.0, not
    as missing rows."""
    # lazy localCheckpoint: the exact baseline is consumed twice (the
    # hit semi-join and the per-query census) and is usually the
    # expensive pipeline here (brute_force_topk's whitelisted NLJ) --
    # without it Catalyst clones the whole baseline subtree into both
    # consumers.  Materialized rows are only (query_id, vec_id) at
    # k x queries.
    ex = exact.select("query_id", "vec_id").localCheckpoint(eager=False)
    hits = approx.join(ex, ["query_id", "vec_id"], "left_semi")
    per_q = (
        ex.select("query_id")
        .distinct()
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("__n")),
            "query_id",
            "left",
        )
    )
    return per_q.select(
        "query_id",
        F.round(F.coalesce(F.col("__n"), F.lit(0)) / F.lit(float(k)), 4).alias(
            "recall"
        ),
    )


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style embedding-cluster dedup (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the corpus with the IVF coarse quantizer,
    then prune within clusters -- a vector is DROPPED when a
    LOWER-ID member of its own cluster has cosine >= ``threshold``
    with it (deterministic keep-lowest-id representative, the same
    convention as every hash/shingle dedup family here).  Returns the
    KEPT rows as ``(id_col, cell_id)``.

    This is the semantic family the hash/shingle/substring rows can't
    cover: paraphrases embed near each other without sharing a single
    shingle.  Scale shape: assignment is the zero-shuffle Arrow
    matmul map (``ivf_assign``); the candidate comparison is an
    equi-join on ``cell_id`` -- quadratic only WITHIN a cluster,
    never across the corpus, exactly the bound the clustering exists
    to provide.  ``max_cluster`` caps the candidate side per cluster
    (row_number in deterministic (md5(id), id) order over the same
    cell_id partitioning the join shuffles on -- the edit-distance
    ``max_block`` treatment): a degenerate cluster costs at most
    |cluster| x max_cluster comparisons; beyond-cap members are still
    PRUNABLE against in-cap candidates but no longer prune others
    (bounded recall loss, never wrong keeps of in-cap candidates).

    Round-6 cosines and md5-ordered centroids make the result
    DuckDB-replayable (the ``dedup_semantic_*`` rows).
    ``centroids=`` accepts a pre-trained quantizer (e.g.
    ``kmeans_centroids``); cell numbering is whatever the quantizer
    produced."""
    if centroids is None:
        # memoized on the corpus plan (plancache), like every IVF
        # caller: re-declaring the dedup does not re-run the
        # quantizer job
        rows = _centroid_rows(corpus, n_cells, id_col, vec_col)
    else:
        rows = centroids.orderBy("cell_id").collect()
    # per-ROW norm precompute: the pair predicate then needs ONE
    # array aggregate (the dot) instead of three (dot + both norms)
    # -- identical float arithmetic (same per-row norm expression,
    # same d / (na * nb) order), so round-6 parity is preserved
    # size-aware shared materialization: `assigned` is BOTH the probe
    # and the pool of the prune join, and Catalyst clones the
    # assignment subtree into each side -- without it the Arrow matmul
    # pass (and the corpus scan under it) runs twice per action for
    # one logical assignment (the minhash-LSH signature rule).  The
    # relation carries the embedding vectors (corpus-sized, wide), so
    # DISK_ONLY past the input-bytes bound.
    assigned = share_corpus_subtree(
        _assign_from_rows(corpus, rows, id_col, vec_col)
        .withColumn("__nrm", vnorm(F.col(vec_col)))
    )
    return _semantic_prune(assigned, assigned, threshold, id_col, vec_col, max_cluster)


def _semantic_prune(
    probe: DataFrame,
    pool: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    max_cluster: int | None,
) -> DataFrame:
    """The within-cluster keep-lowest-id prune shared by
    :func:`semantic_dedup` (probe == pool == the whole corpus) and
    :func:`semantic_dedup_incremental` (probe = the new batch, pool =
    stored index ∪ new batch).  Both sides carry
    ``(id_col, vec_col, cell_id, __nrm)``; the candidate cap is a
    row_number per cell over the POOL in deterministic (md5(id), id)
    order -- computed on the same cell_id partitioning the join
    shuffles on, so capping adds no extra exchange."""
    cand = pool
    if max_cluster is not None:
        from pyspark.sql import Window as W

        cand = (
            pool.withColumn(
                "__w",
                F.row_number().over(
                    W.partitionBy("cell_id").orderBy(_md5_order(id_col), F.col(id_col))
                ),
            )
            .where(F.col("__w") <= max_cluster)
            .drop("__w")
        )
    a = probe.alias("a")
    b = cand.alias("b")
    # norm guards FIRST: zero-norm vectors never match (the original
    # cosine() returned NULL there), and the AND keeps the 0/0 = NaN
    # division result from ever deciding the predicate (Spark orders
    # NaN above every number)
    pair_cos = F.round(
        dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
        / (F.col("a.__nrm") * F.col("b.__nrm")),
        6,
    )
    kept = a.join(
        b,
        (F.col("a.cell_id") == F.col("b.cell_id"))
        & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}"))
        & (F.col("a.__nrm") > 0)
        & (F.col("b.__nrm") > 0)
        & (pair_cos >= threshold),
        "left_anti",
    )
    return kept.select(F.col(f"a.{id_col}").alias(id_col), F.col("a.cell_id").alias("cell_id"))


def semantic_dedup_incremental(
    new_batch: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
) -> DataFrame:
    """Incremental SemDeDup for continuous corpus ingest: dedup a NEW
    batch against a stored corpus WITHOUT re-touching one old pair --
    the embedding-family analog of ``minhash_dedup_incremental``
    (dedup_text.py) and ``ivf_append``.

    ``index`` is the stored ASSIGNMENT INDEX: ``(id_col, vec_col,
    cell_id)`` for every previously-ingested vector (kept or not --
    the prune rule is "a lower-id cluster member above threshold
    exists", membership not kept-ness, so the index must carry all
    assigned rows exactly as the full-corpus run would see them; it
    is append-only, each batch appends its own assignment).
    ``centroids`` is the STORED quantizer (``(cell_id, cv)``, e.g.
    ``select_centroids``/``kmeans_centroids`` output read back from
    storage) -- the batch is assigned with it, never re-trained, so
    cluster geometry is stable across batches.

    EXACT CONTRACT (pytest-pinned): with ids monotone across batches
    (new ids > all index ids -- the append regime), the result equals
    ``semantic_dedup(old ∪ new, centroids=C, ...)`` restricted to the
    new ids: same keep-lowest-id rule, same ``max_cluster`` cap
    computed over index ∪ new in the same (md5(id), id) order.  The
    kept set is strictly additive: old kept rows can never be
    un-kept (pruning is by LOWER id only).

    Scale shape: assignment is the zero-shuffle Arrow matmul over the
    BATCH only; the prune is one cell_id equi-join of |batch| probe
    rows against (index ∪ batch) -- cost scales with |batch| x
    cluster density, never corpus x corpus.  At 100 TB the index
    lives partitioned by cell_id so the join's pool side is a
    partition-pruned scan of only the cells the batch touched.

    Returns the batch's KEPT rows as ``(id_col, cell_id)``.
    """
    rows = centroids.orderBy("cell_id").collect()
    # size-aware shared materialization, same rationale as
    # semantic_dedup: the batch assignment feeds the probe side AND
    # the pool union -- without it the batch's Arrow matmul runs twice
    # per action.  Batch-sized locally, corpus-batch-sized at scale.
    new_assigned = share_corpus_subtree(
        _assign_from_rows(new_batch, rows, id_col, vec_col)
        .withColumn("__nrm", vnorm(F.col(vec_col)))
    )
    idx = index.select(
        F.col(id_col), F.col(vec_col), F.col("cell_id").cast("int").alias("cell_id")
    ).withColumn("__nrm", vnorm(F.col(vec_col)))
    pool = idx.unionByName(new_assigned.select(id_col, vec_col, "cell_id", "__nrm"))
    return _semantic_prune(
        new_assigned, pool, threshold, id_col, vec_col, max_cluster
    )
