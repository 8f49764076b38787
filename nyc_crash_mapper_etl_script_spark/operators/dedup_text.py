"""Document deduplication operators (north-star extensions).

Four strategies, all shuffle-frugal and designed for the 100 TB
training-data-pipeline case:

 - exact: content-hash groupBy (one shuffle on a 16-byte key)
 - minhash_lsh: shingle -> per-permutation min-hash signature, then
   banded LSH: only band-key collisions shuffle, candidate pairs
   verified by signature agreement.  This is the scale path: cost is
   O(docs x bands) rows shuffled, never O(docs^2).  The signature
   itself is an Arrow-batched pandas UDF (numpy affine permutations
   over one 64-bit base hash per shingle); a pure-Column form was
   measured ~20x slower at 64 perms, because Spark evaluates nested
   higher-order array functions interpretively.
 - simhash: 64-bit sign-sum fingerprint + pigeonhole band blocking
   for hamming-distance candidates.
 - ngram_jaccard: exact jaccard over shingle sets for candidate pairs
   discovered via a shingle inverted index (the verify-stage oracle;
   quadratic only within a shared shingle's posting list).

All hashing is deterministic across runs/executors: minhash and
simhash share one base hash, the first 8 bytes of md5 (``_md5_u64``,
bit-for-bit DuckDB's ``md5_number_upper``), with seeded 32-bit affine
coefficients (``perm_coeffs_md5``) for the minhash permutations, so
every signature is replayable in the SQL oracle; LSH band keys are
Spark xxhash64.  Never Python's seed-randomized ``hash()``.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 -- resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.functions.materialize import (
    share_corpus_subtree,
)
from nyc_crash_mapper_etl_script_spark.functions.text import shingles


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: fingerprint, keeper (min
    id), member count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n"))
    )


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    from nyc_crash_mapper_etl_script_spark.functions.partitioning import (
        ensure_parallelism,
    )

    return ensure_parallelism(df)


def perm_coeffs_md5(num_perm: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Affine coefficients for the md5 (oracle-parity) hash family:
    32-bit odd multipliers, 64-bit offsets.  The multiplier is kept
    under 2^32 so ``a * h + b`` fits in a signed 128-bit HUGEINT --
    ANSI engines can then evaluate the permutation exactly as
    ``(a * h + b) % 2^64`` while numpy gets the same value from
    native uint64 wraparound.  Returned as python ints so callers can
    inline them into SQL text."""
    state = seed & 0x7FFFFFFF
    a, b = [], []
    for _ in range(num_perm):
        state = (1103515245 * state + 12345) % (1 << 31)
        a.append((state * 2 + 1) & 0xFFFFFFFF)
        state = (1103515245 * state + 12345) % (1 << 31)
        b.append((state << 32) | state)
    return a, b


def _md5_u64(s: str) -> int:
    """First 8 bytes of md5, little-endian -- bit-for-bit DuckDB's
    ``md5_number_upper``, the shared base hash of every oracle-twinned
    dedup variant."""
    import hashlib

    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little")


def minhash_signature_arrow(num_perm: int = 64, k: int = 5, seed: int = 42):
    """Vectorized minhash signature: returns a pandas_udf usable as
    ``mh(col)``.

    Per Arrow batch: shingle each doc in Python (same normalization
    and word-k-shingle semantics as :func:`functions.text.shingles`),
    one DuckDB-reproducible ``_md5_u64`` base hash per distinct
    shingle, then all num_perm minima in a single numpy
    (num_perm x n_shingles) affine pass over the SQL-safe
    ``perm_coeffs_md5`` coefficients with uint64 wraparound.
    Deterministic across executors."""
    import numpy as np
    from pyspark.sql import types as T

    a_l, b_l = perm_coeffs_md5(num_perm, seed)
    A = np.array(a_l, dtype=np.uint64)
    B = np.array(b_l, dtype=np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def mh(texts: pd.Series) -> pd.Series:
        # two-phase per batch: collect every distinct shingle across
        # the batch first, hash each ONCE, then per-doc affine minima
        # via fancy indexing.  Boilerplate-heavy corpora (the common
        # near-dup case) share most shingles between docs, so this
        # cuts the dominant cost -- Python-side digest calls -- by the
        # batch-level duplication factor.
        doc_idxs: list = []
        vocab: dict[str, int] = {}
        for t in texts:
            words = (t or "").lower().split()
            if not words:
                doc_idxs.append(None)
                continue
            if len(words) < k:
                sh = {" ".join(words)}
            else:
                sh = {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}
            idxs = np.empty(len(sh), dtype=np.int64)
            for j, s in enumerate(sh):
                v = vocab.get(s)
                if v is None:
                    v = len(vocab)
                    vocab[s] = v
                idxs[j] = v
            doc_idxs.append(idxs)
        base_all = np.fromiter(
            (_md5_u64(s) for s in vocab), dtype=np.uint64, count=len(vocab)
        )
        out = []
        for idxs in doc_idxs:
            if idxs is None:
                out.append(None)
                continue
            base = base_all[idxs]
            vals = A[:, None] * base[None, :] + B[:, None]  # uint64 wraparound
            out.append(vals.min(axis=1).astype(np.int64).tolist())
        return pd.Series(out)

    return mh


def minhash_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: array of (band index, hash of the band's
    signature slice)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(sig, b * rows_per_band + F.lit(1), rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                )
            ).alias("bucket"),
        ),
    )


def _sig_agreement(sig_a: Column, sig_b: Column, num_perm: int) -> Column:
    """Estimated Jaccard: fraction of agreeing signature positions."""
    agree = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v)
    )
    return F.round(agree.cast("double") / F.lit(float(num_perm)), 6)


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    k: int = 5,
    seed: int = 42,
    max_bucket: int = 256,
) -> DataFrame:
    """Near-duplicate pairs (a < b) whose estimated Jaccard (minhash
    signature agreement) >= threshold.

    Plan: Arrow-vectorized signature projection (no shuffle) -> explode band
    keys (x bands) -> ONE explicit repartition on (band, bucket) that
    every downstream branch reuses -> per-bucket posting list (sorted
    by id, so emitted pairs are id-ordered) -> in-bucket pair
    expansion + signature-agreement verify -> distinct on the NARROW
    (id_a, id_b, est) rows.

    vs. the textbook banded self-join: the signature subtree (a
    Python-worker pandas UDF) appears once in the plan instead of on
    both join sides, and the pair-dedup shuffle carries ~30 bytes/row
    instead of two full num_perm x 8-byte signatures.

    Degenerate-bucket guard: a web corpus routinely has thousands of
    near-identical boilerplate docs that all land in one band bucket;
    ``collect_list`` would materialize that whole posting list in one
    row and expand O(n^2) pairs in one array.  Buckets larger than
    ``max_bucket`` are therefore routed through a sort-merge SELF-JOIN
    on the band key instead: pairs stream through the join with
    spill-to-disk buffering (bounded task memory) rather than ever
    forming an in-memory array.  Routing is a pure physical choice --
    both paths emit the identical pair set, unioned then de-duped.
    The bucket census and both branches hang off the same repartition
    exchange, so the signature UDF still evaluates once.
    """
    rows_per_band = num_perm // bands
    # the signature UDF's parallelism is the INPUT partitioning, and a
    # small-file corpus scan (one parquet file under maxPartitionBytes
    # -> ONE partition) would run the whole Arrow pass on a single
    # core.  Spread narrow inputs across the cluster first: the
    # shuffle moves only raw (id, text) rows, and every downstream
    # stage inherits the parallelism.  (A 100 TB corpus already has
    # thousands of scan partitions -- the guard is a no-op there.)
    docs = _ensure_parallelism(docs)
    sig_col = minhash_signature_arrow(num_perm, k, seed)(F.col(text_col))
    # size-aware shared materialization: the signature projection (the
    # expensive Python/Arrow pass) is materialized ONCE at first
    # action and every downstream branch -- bucket census, small-
    # bucket agg, big-bucket self-join -- reads the cached rows.
    # Without it Catalyst clones the UDF subtree into each branch (and
    # filter pushdown through the projection doubles it again):
    # measured 12+ UDF evaluations for this one logical pass.  The
    # relation is corpus-sized (id + num_perm-int signature), so past
    # the input-bytes bound the helper persists DISK_ONLY (lineage
    # kept) instead of pinning executor storage memory.
    sigs = share_corpus_subtree(
        docs.select(F.col(id_col).alias("id"), sig_col.alias("sig"))
    ).where(F.element_at("sig", 1).isNotNull())
    banded = sigs.select(
        "id", "sig", F.explode(minhash_bands(F.col("sig"), bands, rows_per_band)).alias("bk")
    )
    # census on the already-partitioned rows: tiny (bk, n) pairs, no
    # second shuffle of the wide signature rows.  Lazy localCheckpoint
    # because THREE consumers reference it (the members anti-join and
    # both sides of the oversized self-join): checkpointing sigs does
    # not stop Catalyst cloning the census aggregate itself into each
    # consumer -- the r12 before-plan ran the band explode + census
    # Exchange + HashAggregate three times.  The materialized relation
    # is only the oversized bucket keys (bounded by corpus/max_bucket,
    # tiny by construction at any scale).
    big_keys = (
        banded.groupBy("bk")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > max_bucket)
        .select("bk")
        .localCheckpoint(eager=False)
    )
    members = (
        banded.join(big_keys, "bk", "left_anti")
        .groupBy("bk")
        .agg(F.sort_array(F.collect_list(F.struct("id", "sig"))).alias("ms"))
        .where(F.size("ms") > 1)
    )
    # all (i < j) pairs of the posting list; HOF volume is bounded by
    # max_bucket^2 per row
    pairs = members.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ms"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("pr")
    ).select(
        F.col("pr.a.id").alias("id_a"),
        F.col("pr.b.id").alias("id_b"),
        _sig_agreement(F.col("pr.a.sig"), F.col("pr.b.sig"), num_perm).alias(
            "est_jaccard"
        ),
    )
    oversized = banded.join(big_keys, "bk", "left_semi")
    big_pairs = (
        oversized.alias("a")
        .join(
            oversized.alias("b"),
            (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _sig_agreement(F.col("a.sig"), F.col("b.sig"), num_perm).alias(
                "est_jaccard"
            ),
        )
    )
    return (
        pairs.unionByName(big_pairs)
        .where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve pairwise near-dup edges into clusters: every doc gets
    ``cluster`` = the minimum doc id reachable through the duplicate
    graph (the keeper), singletons keep their own id.  This is the
    step that turns any pairwise dedup (minhash/simhash/ngram/
    embedding) into actual keep/drop decisions.

    Implementation: per round, (a) min-label propagation -- each node
    takes the min of its own and its neighbors' labels (join +
    groupBy) -- then (b) POINTER JUMPING: label := label's label (one
    self-join), which halves chain depth every round, so convergence
    is O(log diameter) instead of O(diameter) on adversarial
    chain-shaped graphs (the same shortcutting idea as hash-to-min /
    star contraction).  ``localCheckpoint`` truncates lineage so
    round N's plan doesn't replay rounds 1..N-1; a LIMIT-1 change
    probe exits early (near-dup clusters are usually cliques,
    diameter 1-2 -> two rounds)."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = docs.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("lbl")
    ).localCheckpoint()
    for _ in range(max_iter):
        msgs = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "lbl")
        propagated = (
            labels.unionByName(msgs).groupBy("id").agg(F.min("lbl").alias("lbl"))
        )
        # pointer jumping: follow one hop through the label table
        # (labels are node ids, so the label's own label exists)
        parent = propagated.select(
            F.col("id").alias("__pid"), F.col("lbl").alias("__plbl")
        )
        new_labels = (
            propagated.join(parent, propagated["lbl"] == parent["__pid"], "left")
            .select(
                "id", F.least(F.col("lbl"), F.col("__plbl")).alias("lbl")
            )
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if not changed:
            break
    return labels.select(F.col("id").alias(id_col), F.col("lbl").alias("cluster"))


def simhash64_arrow(k: int = 1):
    """Vectorized 64-bit SimHash over word k-shingles: bit b of the
    fingerprint is set when the sum over shingles of (+1 if bit b of
    ``_md5_u64(shingle)`` else -1) is positive.  Duplicates are kept
    (repeated shingles weight the bit counts); bit unpack + sign-sum
    in numpy.  Returns a pandas_udf usable as ``sh(col)``; empty docs
    fingerprint to 0."""
    import numpy as np
    from pyspark.sql import types as T

    shifts = None  # built lazily per executor

    @F.pandas_udf(T.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        nonlocal shifts
        if shifts is None:
            shifts = np.arange(64, dtype=np.uint64)
        # batch-level memoization as in the minhash UDF: hash each
        # distinct shingle once, then index with repetition (repeated
        # shingles still weight the bit counts)
        doc_idxs: list = []
        vocab: dict[str, int] = {}
        for t in texts:
            words = (t or "").lower().split()
            if not words:
                doc_idxs.append(None)
                continue
            if len(words) < k:
                shs = [" ".join(words)]
            else:
                shs = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
            idxs = np.empty(len(shs), dtype=np.int64)
            for j, s in enumerate(shs):
                v = vocab.get(s)
                if v is None:
                    v = len(vocab)
                    vocab[s] = v
                idxs[j] = v
            doc_idxs.append(idxs)
        base_all = np.fromiter(
            (_md5_u64(s) for s in vocab), dtype=np.uint64, count=len(vocab)
        )
        out = []
        for idxs in doc_idxs:
            if idxs is None:
                out.append(0)
                continue
            base = base_all[idxs]
            bits = ((base[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
            counts = (2 * bits - 1).sum(axis=0)
            fp = ((counts > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
            out.append(int(fp.astype(np.int64)))
        return pd.Series(out, dtype="int64")

    return sh


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (popcount of
    xor via bit_count)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with hamming(simhash) <= max_hamming via pigeonhole
    blocking.

    The fingerprint is split into ``max_hamming + 1`` chunks (evenly
    sized, last chunk takes the remainder): a pair within
    ``max_hamming`` differing bits cannot touch every chunk, so it
    shares at least one chunk exactly -- FULL recall at the declared
    threshold for any ``max_hamming`` <= 63, not just the <= 3 a
    fixed 4x16 split guarantees.

    Degenerate keys (e.g. every empty doc fingerprints to 0) are
    memory-safe by construction: candidates come from a sort-merge
    self-join whose per-key buffer spills to disk, so a huge chunk
    bucket streams O(n^2) candidate rows through the task instead of
    materializing them -- the output is genuinely quadratic for such
    input (all those pairs ARE within distance 0), but no single
    allocation is."""
    docs = _ensure_parallelism(docs)  # single-file inputs: spread the UDF
    sig_col = simhash64_arrow()(F.col(text_col))
    n_chunks = min(max_hamming + 1, 64)
    # distribute 64 bits as evenly as possible -> exactly n_chunks
    # non-empty chunks, so the pigeonhole guarantee holds
    base_w, rem = divmod(64, n_chunks)
    bounds, off = [], 0
    for c in range(n_chunks):
        w = base_w + (1 if c < rem else 0)
        bounds.append((off, w))
        off += w
    # fingerprints computed once (size-aware shared materialization)
    # -- the candidate self-join would otherwise clone the UDF subtree
    # onto both sides; corpus-sized, so DISK_ONLY past the bound
    sigs = share_corpus_subtree(
        docs.select(F.col(id_col).alias("id"), sig_col.alias("sig"))
    )
    # chunks unrolled in Python: shiftrightunsigned requires a literal
    # shift amount (not a lambda-bound Column)
    chunks = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("sig"), off)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("key"),
                    )
                    for c, (off, w) in enumerate(bounds)
                ]
            )
        ).alias("ck"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ck") == F.col("b.ck")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.where(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
    max_posting: int | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via a shingle inverted index.

    Uncapped path: shuffle 1 explodes distinct (doc, shingle) pairs
    on shingle; shuffle 2 groups by (a,b) counting shared shingles;
    exact jaccard = |A∩B| / (|A|+|B|-|A∩B|).

    ``max_posting`` is the 100 TB lever: a stop-word-ish shingle
    shared by millions of docs makes the index self-join quadratic in
    that one posting list.  With the cap set, shingles whose posting
    list exceeds ``max_posting`` docs are dropped from CANDIDATE
    GENERATION only, and every surviving candidate pair is then
    verified with the exact jaccard of the FULL shingle sets
    (array_intersect over the two docs' complete shingle arrays) --
    reported values are identical to the uncapped path, never
    estimated from the truncated index.  The one semantic caveat: a
    qualifying pair whose shared shingles are ALL more popular than
    the cap has no candidate left and is missed; near-dup pairs above
    a high jaccard threshold share many shingles, so in practice rare
    shingles survive for them (byte-identical boilerplate groups are
    the exception -- catch those with :func:`exact_duplicates`, whose
    hash groupBy is immune to posting-list size).
    """
    # size-aware shared materialization: the shingle-set relation is
    # consumed by up to four plan branches (the inverted index via tok
    # -- cloned into both self-join sides -- plus sa/sb full-set
    # verify joins on the capped path), and the split + transform +
    # array_distinct HOF battery is the per-row-expensive part
    # Catalyst would rerun per clone.  One materialization of
    # (id, shs), cheap re-reads (probe mins at sf0.1: capped
    # 1.58 -> 1.01 s, uncapped -- with the sizes checkpoint below --
    # 1.31 -> 0.67).  The relation is CORPUS-sized, so the helper
    # checkpoints only under the input-bytes bound and falls back to
    # lineage-preserving DISK_ONLY persistence at cluster scale.
    sets_df = share_corpus_subtree(
        _ensure_parallelism(docs).select(
            F.col(id_col).alias("id"),
            F.array_distinct(shingles(F.col(text_col), k=k)).alias("shs"),
        ).where(F.size("shs") > 0)
    )
    tok = sets_df.select("id", F.explode("shs").alias("sh"))
    if max_posting is None:
        # narrow (id, n_sh) aggregate consumed under BOTH join-back
        # aliases: checkpoint it once (the tfidf norms rule) instead
        # of cloning the explode + count per side
        sizes = tok.groupBy("id").agg(
            F.count("*").alias("n_sh")
        ).localCheckpoint(eager=False)
        a, b = tok.alias("a"), tok.alias("b")
        common = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("common"))
        )
        return (
            common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
            .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
            .withColumn(
                "jaccard",
                F.round(
                    F.col("common").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("common")),
                    6,
                ),
            )
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    # posting cap as count-over-window on the SAME sh partitioning
    # the candidate self-join hashes on: one exchange, reused by both
    # join sides (the census + semi-join form shuffled the token rows
    # three times -- see exact_substring_pairs for the measured A/B)
    from pyspark.sql.window import Window

    wnd = Window.partitionBy("sh")
    capped = tok.withColumn("__n", F.count(F.lit(1)).over(wnd)).where(
        F.col("__n") <= max_posting
    )
    a, b = capped.alias("a"), capped.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sets_df.select(F.col("id").alias("id_a"), F.col("shs").alias("__sa"))
    sb = sets_df.select(F.col("id").alias("id_b"), F.col("shs").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                inter.cast("double")
                / (F.size("__sa") + F.size("__sb") - inter),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def segment_boilerplate_removal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 4,
    max_docs: int = 1,
) -> DataFrame:
    """Sub-document (paragraph/segment-level) dedup -- the C4/Dolma
    boilerplate-removal shape the whole-document rows don't cover
    (reference analog: none -- north-star training-data extension):
    a segment repeated across more than ``max_docs`` DISTINCT
    documents (headers, navigation chrome, license blocks) is removed
    from every document, and each document is reconstructed from its
    surviving segments in order.

    Segmentation is deterministic fixed-width word chunks
    (``seg_words``); real corpora would segment on newlines, but the
    relational shape is identical.  Plan: one explode to (doc, pos,
    seg) rows -> seg-count aggregate (map-side partial; a ubiquitous
    boilerplate segment is ONE group row, so hot segments cost
    nothing extra) -> join the counts back on seg (AQE skew-join
    handles a hot seg's probe side) -> one groupBy(doc) rebuilding
    ``clean_text`` via sort_array over (pos, seg) structs.  Three
    shuffles total, each on a bounded key space; nothing is ever
    quadratic in segment popularity -- the property that makes this
    safe at 100 TB where near-dup pair generation is not.

    Output: (id, clean_text, n_removed); ``clean_text`` is NULL when
    every segment was boilerplate (matching SQL ``string_agg`` over
    an all-NULL group, which the oracle relies on).
    """
    docs = _ensure_parallelism(docs)  # single-file corpora: spread the explode
    words = F.split(F.col(text_col), " ")
    seg_at = lambda i: F.array_join(  # noqa: E731
        F.slice(words, i * seg_words + F.lit(1), seg_words), " "
    )
    n_segs = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    segs = share_corpus_subtree(
        docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.transform(F.sequence(F.lit(0), n_segs - 1), seg_at)
            ).alias("pos", "seg"),
        )
    )
    # size-aware shared materialization: segs feeds the census AND the
    # probe join, and without it the scan + split + posexplode subtree
    # runs twice per action (quiet-box ABBA at sf0.1: 0.79 vs 0.89 s
    # min, ckpt wins every interleaved pair).  Materialized bytes ~=
    # one corpus copy, so past the input-bytes bound the helper
    # switches to lineage-preserving DISK_ONLY persistence instead of
    # pinning executor storage memory.
    counts = segs.groupBy("seg").agg(F.count_distinct("id").alias("nd"))
    joined = segs.join(counts, "seg")
    kept_struct = F.when(
        F.col("nd") <= max_docs, F.struct(F.col("pos"), F.col("seg"))
    )
    out = joined.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.when(F.col("nd") > max_docs, 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
    )
    return out.select(
        F.col("id").alias(id_col),
        F.nullif(F.col("clean_text"), F.lit("")).alias("clean_text"),
        "n_removed",
    )


def editdistance_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_words: int = 5,
    max_dist: int = 8,
    max_block: int | None = None,
) -> DataFrame:
    """Edit-distance (Levenshtein) fuzzy-dedup pairs over a derived
    prefix key -- the fuzzy-match family the shingle/signature rows
    don't cover (reference analog: none -- north-star extension).

    All-pairs Levenshtein is O(n^2 * L^2), so candidate generation is
    BLOCKED: pairs must share their first token (an equi hash join,
    never a nested loop) and pass the |len(a)-len(b)| <= d
    pre-filter (a necessary condition for edit distance <= d); only
    survivors pay the exact JVM-side ``levenshtein`` verify.

    ``max_block`` is the 100 TB hot-block lever, the same shape as
    :func:`ngram_jaccard_pairs`'s posting cap: a pathological corpus
    where a large share of docs open with one token ("the", a
    boilerplate header) makes the block self-join quadratic in that
    one block.  With the cap set, a count-over-window on the SAME
    tok1 partitioning the self-join hashes on (one exchange, reused
    by both join sides) ranks each block's members by id, and members
    ranked past ``max_block`` are dropped from CANDIDATE GENERATION
    only -- per-block pair count is bounded by C(max_block, 2) at any
    corpus size.  The cap is deterministic (rank by id) and part of
    the operator contract, replayed exactly by the registry oracle --
    the same documented trade as the n-gram posting cap: a hot-block
    pair both of whose members rank past the cap goes unreported.
    """
    toks = F.split(F.col(text_col), " ")
    p = docs.select(
        F.col(id_col).alias("id"),
        F.array_join(F.slice(toks, 1, prefix_words), " ").alias("prefix"),
        F.element_at(toks, 1).alias("tok1"),
    )
    if max_block is not None:
        from pyspark.sql.window import Window

        wnd = Window.partitionBy("tok1").orderBy("id")
        p = (
            p.withColumn("__rn", F.row_number().over(wnd))
            .where(F.col("__rn") <= max_block)
            .drop("__rn")
        )
    a, b = p.alias("a"), p.alias("b")
    thr = F.lit(max_dist)
    return (
        a.join(
            b,
            (F.col("a.tok1") == F.col("b.tok1"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.length("a.prefix") - F.length("b.prefix")) <= thr),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).alias("dist"),
        )
        .where(F.col("dist") <= thr)
    )


def minhash_banded_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """The LSH *index rows* for a batch of docs: (id, sig, bk) with
    one row per (doc, band).  This is the unit of incremental dedup:
    an index table stores these rows (partition/bucket by ``bk``);
    a new batch computes its own rows ONCE and equi-joins.
    """
    rows_per_band = num_perm // bands
    docs = _ensure_parallelism(docs)  # single-file inputs: spread the UDF
    sig_col = minhash_signature_arrow(num_perm, k, seed)(F.col(text_col))
    sigs = (
        docs.select(F.col(id_col).alias("id"), sig_col.alias("sig"))
        .localCheckpoint(eager=False)
        .where(F.element_at("sig", 1).isNotNull())
    )
    return sigs.select(
        "id",
        "sig",
        F.explode(minhash_bands(F.col("sig"), bands, rows_per_band)).alias("bk"),
    )


def minhash_dedup_incremental(
    new_banded: DataFrame,
    index_banded: DataFrame,
    num_perm: int = 64,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch: new x (index + new),
    without touching any old-x-old pair and without recomputing one
    old signature.

    The candidate stage is a plain equi-join on the band key -- it
    streams and spills (no posting-list arrays), AQE splits skewed
    band buckets -- so the incremental path has no degenerate-bucket
    hazard at all.  Cost scales with |batch| x bucket density, not
    with the corpus: the nightly-append regime the reference's
    dedup (SURVEY J1) runs in, generalized to NEAR duplicates.

    Output: (id_a, id_b, est_jaccard), id_a < id_b, distinct.
    """
    pool = index_banded.unionByName(new_banded)
    j = new_banded.alias("n").join(
        pool.alias("p"),
        (F.col("n.bk") == F.col("p.bk")) & (F.col("n.id") != F.col("p.id")),
    )
    pairs = j.select(
        F.least(F.col("n.id"), F.col("p.id")).alias("id_a"),
        F.greatest(F.col("n.id"), F.col("p.id")).alias("id_b"),
        _sig_agreement(F.col("n.sig"), F.col("p.sig"), num_perm).alias(
            "est_jaccard"
        ),
    )
    return (
        pairs.where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def exact_substring_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 40,
    max_posting: int = 1024,
) -> DataFrame:
    """Char-level EXACT-substring overlap pairs: documents sharing at
    least one identical k-character window, with the count of shared
    distinct windows -- the relational form of the suffix-array
    "exact substring" dedup used by LLM training pipelines (detecting
    verbatim copies and long quoted runs that word-shingle jaccard
    underweights).

    Spark shape: every doc explodes to its distinct k-char window
    hashes (md5 of the raw window -- equal hash == equal substring,
    and the md5 family keeps the oracle replayable char-for-char),
    one equi-join on the hash builds pairs, one aggregate counts
    shared windows per pair.  Cost is O(total chars) exploded rows --
    the same asymptotic bill a distributed suffix array pays -- and
    the join streams/spills per hash bucket; at 100 TB windows would
    be winnowed (per-window-range min-hash) to cut the constant,
    which changes recall only for runs shorter than the winnow
    window.

    ``max_posting`` caps degenerate windows (a boilerplate banner
    shared by half the corpus would make one posting list quadratic):
    windows more common than the cap are dropped from candidate
    generation, exactly like ``ngram_jaccard_pairs``' cap.  A pair
    sharing ONLY capped windows is missed; long verbatim copies share
    many windows, so rare windows carry them.

    Output: (id_a, id_b, n_shared) -- id_a < id_b, n_shared = count
    of distinct shared k-windows below the cap.
    """
    from pyspark.sql.window import Window

    d = _ensure_parallelism(docs)
    t = F.coalesce(F.col(text_col), F.lit(""))
    idx = F.when(
        F.length(t) >= k, F.sequence(F.lit(1), F.length(t) - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    # substring stays inside the (interpreted) HOF, md5 moves AFTER
    # the explode into whole-stage codegen -- measured ~20% faster
    # than hashing inside the lambda
    windows = d.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.transform(idx, lambda i: F.substring(t, i, k)))
        ).alias("__w"),
    ).select("id", F.md5("__w").alias("wh"))
    # posting cap as a count-over-window on the SAME wh partitioning
    # the self-join needs: one exchange, reused by both join sides
    # (the census + semi-join form shuffled the window rows three
    # times; this plan was measured 2.6x faster at sf0.1).  NO
    # localCheckpoint here, re-measured in r12: AQE broadcasts one
    # join side, so the cloned scan -> explode -> md5 -> window
    # subtree stays fused in codegen and recompute beats
    # materializing the wide (id, md5-hex) posting rows -- probe
    # mins 1.30 s recompute vs 1.88 s checkpointed at sf0.1 (the
    # same verdict as substring_span_stats' window-relation A/B).
    wnd = Window.partitionBy("wh")
    capped = windows.withColumn("__n", F.count(F.lit(1)).over(wnd)).where(
        F.col("__n") <= max_posting
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(b, (F.col("a.wh") == F.col("b.wh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
    max_posting: int | None = None,
) -> DataFrame:
    """TF-IDF-weighted cosine near-dup pairs over word k-shingles --
    the WEIGHTED sibling of :func:`ngram_jaccard_pairs`: Jaccard
    treats every shared shingle equally, cosine lets rare (high-IDF)
    shared shingles dominate, which separates boilerplate-heavy
    near-dups from topically-similar-but-distinct docs.

    Weights: ``w = tf * (ln((N + 1) / (df + 1)) + 1)`` (the same
    smoothed IDF as ``operators.vocab.tf_idf``); per-doc norms over
    the FULL weight vector; ``cosine = dot / (norm_a * norm_b)``
    rounded at 6 before the threshold compare.

    Uncapped path: the inverted-index self-join on shingle feeds ONE
    (id_a, id_b) hash aggregate summing ``w_a * w_b`` -- two
    shuffles total, exactly the jaccard family's shape plus a
    multiply.

    ``max_posting`` is the 100 TB lever, with the jaccard family's
    exact-verify contract: shingles whose df exceeds the cap are
    dropped from CANDIDATE GENERATION only (the filter is free --
    df is already joined in for the weights), and every surviving
    candidate's dot product is then computed over the two docs'
    COMPLETE weight maps (a map_from_entries join, no second
    inverted-index pass), so reported cosines are identical to the
    uncapped path, never estimates.  Same caveat as jaccard: a pair
    whose every shared shingle is hotter than the cap loses its
    candidates; high-cosine pairs share rare shingles by
    construction (rare = high IDF = dominates the score), so the
    miss window is pairs that were mostly below threshold anyway.
    """
    sh = _ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), k=k)).alias("sh")
    )
    tf = sh.groupBy("id", "sh").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("sh").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("__n"))
    idf = F.log((F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    # lazy localCheckpoint: the weighted posting relation feeds the
    # candidate self-join (both sides), the norms, and (capped path)
    # the full-vector maps -- without the checkpoint each consumer
    # re-runs the explode + two aggregates (the minhash-LSH signature
    # treatment, dedup_minhash_pairs above; measured 2.5 s -> 1.0 s
    # at sf0.1).  Storage cost is the posting list itself, the same
    # thing the inverted index shuffles anyway.
    w = (
        tf.join(dfreq, "sh")
        .crossJoin(F.broadcast(n_docs))
        .select("id", "sh", "df", (F.col("tf") * idf).alias("w"))
        .localCheckpoint(eager=False)
    )
    # lazy localCheckpoint: finish() consumes the norms under BOTH
    # aliases (id_a and id_b), and checkpointing w does not stop
    # Catalyst cloning the norm aggregate itself into each side --
    # the r12 before-plan carried the Exchange + HashAggregate twice.
    # (id, nrm) is one narrow row per doc; materializing it once
    # replaces a full second aggregation pass over the posting rows.
    norms = (
        w.groupBy("id")
        .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        .localCheckpoint(eager=False)
    )

    def finish(dots: DataFrame) -> DataFrame:
        na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("__na"))
        nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("__nb"))
        return (
            dots.join(na, "id_a")
            .join(nb, "id_b")
            .withColumn(
                "cos", F.round(F.col("dot") / (F.col("__na") * F.col("__nb")), 6)
            )
            .where(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos")
        )

    if max_posting is None:
        a, b = w.alias("a"), w.alias("b")
        dots = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
        )
        return finish(dots)

    pairing = w.where(F.col("df") <= max_posting)
    a, b = pairing.alias("a"), pairing.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # same rule for the full-vector maps: va/vb both read vecs, and
    # without the checkpoint the ObjectHashAggregate building the
    # per-doc weight maps (the row's dominant cost) ran once per join
    # side.  The maps are the verify structure the capped path needs
    # anyway; one materialization, two cheap re-reads.
    vecs = w.groupBy("id").agg(
        F.map_from_entries(F.collect_list(F.struct("sh", "w"))).alias("vec")
    ).localCheckpoint(eager=False)
    va = vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("__va"))
    vb = vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("__vb"))
    dots = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.aggregate(
                F.map_entries(F.col("__va")),
                F.lit(0.0),
                lambda acc, e: acc
                + F.coalesce(
                    F.element_at(F.col("__vb"), e["key"]) * e["value"], F.lit(0.0)
                ),
            ).alias("dot"),
        )
    )
    return finish(dots)


def substring_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 40,
    single_pass: bool = False,
) -> DataFrame:
    """Span-LEVEL exact-substring dedup accounting (the "remove the
    duplicated span, keep the first occurrence" semantics of
    suffix-array training-data dedup, Lee et al. 2022): every
    k-char window whose text occurred earlier in the corpus --
    earlier = smaller (doc_id, pos) lexicographically -- marks its
    [pos, pos+k) char range as duplicated; per doc the marked ranges
    are merged into maximal spans and accounted.

    Unlike pair generation (:func:`exact_substring_pairs`) this is
    LINEAR, with no quadratic hot-window hazard and hence no posting
    cap.  Default (skew-safe) plan: first occurrence per window is a
    map-side-combining HashAggregate over a fixed-width
    (doc_id, pos) digit encoding -- a boilerplate window shared by
    half the corpus still folds to ONE row per partition before the
    exchange -- and the join back is N-to-1 on the window hash (AQE
    broadcasts the aggregated firsts when they fit; the observed
    sf0.01 plan probes with ZERO extra shuffle).  The only per-doc
    state is the interval merge: a cumulative-max window over each
    doc's own duplicated positions -- bounded by doc length, never
    by corpus size.  At 100 TB this is the same O(total chars) bill
    the distributed suffix array pays, in bounded shuffles with no
    single-key sort anywhere.

    ``single_pass=True`` swaps the agg+probe for ONE row_number
    window over (h1, h2): half the explode/shuffle work (sf0.1 A/B:
    1.24 s vs 2.05 s) but a hot-key hazard -- a degenerate window
    repeated by millions of docs sorts its whole posting list in one
    task.  Use it when corpus duplication is known bounded; the
    default stays the skew-immune plan.

    Output, one row per input doc: (doc_id, n_chars, n_dup_windows,
    n_spans, removed_chars, kept_chars).  Docs shorter than ``k``
    or with no duplicated window report zeros and keep everything.

    Reference analog: none in the ETL script -- north-star extension
    for LLM corpus prep (SURVEY.md LLM-pipeline section).
    """
    from pyspark.sql.window import Window

    d = _ensure_parallelism(docs)
    base = d.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
    )
    tl = F.length(F.col("__t"))
    idx = F.when(
        tl >= k, F.sequence(F.lit(1), tl - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    # NO shared checkpoint here, deliberately: the window relation is
    # consumed twice on the default path (first-occurrence agg +
    # probe side), but an A/B at sf0.1 measured recompute FASTER than
    # materializing the 1.3M wide rows (no-ckpt 2.43 s vs
    # lazy-localCheckpoint 2.66 s steady / 8.5 s first-run) -- the
    # explode + hash stays fused in codegen under each consumer's
    # partial aggregate.  The substring itself runs AFTER the explode
    # (codegen) rather than inside the sequence-transform lambda
    # (interpreted): another ~9% at sf0.1.
    # Window key: a 128-bit xxhash64 pair, not md5 -- half the
    # shuffle-key bytes of the hex digest and a cheaper JVM hash;
    # collision-safe at corpus scale (2^128 space), and the oracle
    # never sees the key (its outputs are char counts).
    win = F.col("__t").substr(F.col("pos"), F.lit(k))
    windows = base.select("id", "__t", F.explode(idx).alias("pos")).select(
        "id",
        "pos",
        F.xxhash64(win).alias("h1"),
        F.xxhash64(F.lit("\x01"), win).alias("h2"),
    )
    if single_pass:
        w_first = Window.partitionBy("h1", "h2").orderBy("id", "pos")
        dups = (
            windows.withColumn("__rn", F.row_number().over(w_first))
            .where(F.col("__rn") > 1)
            .select("id", "pos", (F.col("pos") + F.lit(k)).alias("__end"))
        )
    else:
        # first occurrence per window text: lexicographic min over
        # (doc_id, pos), packed as id*10^10 + pos in ONE decimal(31,0)
        # -- order-identical to the (id, pos) tuple for the same
        # domain the previous digit-string encoding assumed
        # (non-negative id, 1 <= pos < 10^10).  The buffer type is
        # what picks the aggregate operator: min(string) is not a
        # mutable fixed-width UnsafeRow field, so BOTH the digit
        # string and min(struct) plan as SortAggregate with a full
        # per-partition Sort of every exploded window row; a decimal
        # occupies a fixed 16-byte slot, so min(decimal) plans as a
        # map-side-combining HashAggregate (no sort anywhere) and
        # ships 16 bytes/row into the exchange instead of a 29-char
        # string.
        enc = (
            F.col("id").cast("decimal(19,0)")
            * F.lit(10_000_000_000).cast("decimal(11,0)")
            + F.col("pos").cast("decimal(10,0)")
        )
        keyed = windows.withColumn("__e", enc)
        # Keep only keys that OCCUR at least twice: a unique window's
        # sole occurrence has __e == min(__e) and can never join-
        # survive __e != __f, so dropping count==1 keys is value-
        # identical -- but it shrinks the join's build side from
        # ~every window in the corpus to just the duplicated window
        # texts.  Without the filter Catalyst's leaf-derived estimate
        # put the FULL aggregate under the broadcast threshold and
        # collected tens of millions of rows through the driver into
        # one single-threaded hash relation (heavy-tier: 50 s, core-
        # count invariant); with it the broadcast is genuinely small,
        # and past the threshold AQE falls back to a shuffle join on
        # actual size instead of an estimate.
        firsts = (
            keyed.groupBy("h1", "h2")
            .agg(F.min("__e").alias("__f"), F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") >= 2)
            .drop("__c")
        )
        dups = (
            keyed.join(firsts, ["h1", "h2"])
            .where(F.col("__e") != F.col("__f"))
            .select("id", "pos", (F.col("pos") + F.lit(k)).alias("__end"))
        )
    # merge overlapping [pos, pos+k) ranges per doc: gaps-and-islands
    # on the cumulative max end over the doc's sorted duplicate
    # positions (state bounded by the doc's own length)
    w_doc = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max("__end").over(w_doc.rowsBetween(Window.unboundedPreceding, -1))
    islands = dups.withColumn(
        "__isl",
        F.sum(
            F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
        ).over(w_doc),
    )
    spans = (
        islands.groupBy("id", "__isl")
        .agg(
            F.min("pos").alias("__s"),
            F.max("__end").alias("__e"),
            F.count(F.lit(1)).alias("__n"),
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.col("__e") - F.col("__s")).cast("long").alias("removed_chars"),
            F.sum("__n").cast("long").alias("n_dup_windows"),
        )
    )
    lens = base.select("id", F.length("__t").cast("long").alias("n_chars"))
    return (
        lens.join(spans, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_chars",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("removed_chars", F.lit(0)).cast("long").alias("removed_chars"),
            (F.col("n_chars") - F.coalesce("removed_chars", F.lit(0)))
            .cast("long")
            .alias("kept_chars"),
        )
    )


def select_canonical(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    q_col: str = "q",
) -> DataFrame:
    """The near-dedup END GAME: turn resolved clusters
    (:func:`duplicate_clusters`) plus a per-doc quality score into
    keep/drop decisions -- per cluster keep the HIGHEST-QUALITY doc
    (ties -> lowest id), drop the rest.  This is what production
    corpus dedup actually ships: "keep first" biases toward crawl
    order; "keep best" retains the cleanest copy of each near-dup
    family.

    Shape: one equi-join on id, one map-side-combining
    ``max(struct(q, -id))`` aggregate per cluster (cluster cardinality
    is bounded by corpus duplication, and the partial agg folds each
    partition's members to one row before the exchange), one N-to-1
    join back on the cluster label (AQE broadcasts the per-cluster
    winners when they fit).  No windows, no single-task sorts.

    Output: (id, cluster, q, canonical_id, cluster_size, keep).
    """
    # size-aware shared materialization: j feeds BOTH the per-cluster
    # argmax and the join-back, and Catalyst clones the whole upstream
    # (cluster resolution + the quality expression battery) into each
    # branch -- the un-truncated canonical_keep_best plan scanned
    # documents 6x and ran quality_score twice.  Rows are
    # (id, cluster, q): corpus-sized but narrow, materialized once per
    # action; past the input-bytes bound the helper persists DISK_ONLY
    # (lineage kept) instead of localCheckpoint.
    j = share_corpus_subtree(clusters.join(quality, id_col))
    best = j.groupBy(cluster_col).agg(
        F.max(
            F.struct(F.col(q_col).alias("__q"), (-F.col(id_col)).alias("__nid"))
        ).alias("__b"),
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
    )
    return j.join(best, cluster_col).select(
        F.col(id_col),
        F.col(cluster_col),
        F.col(q_col),
        (-F.col("__b.__nid")).cast("long").alias("canonical_id"),
        "cluster_size",
        (F.col(id_col) == -F.col("__b.__nid")).alias("keep"),
    )
