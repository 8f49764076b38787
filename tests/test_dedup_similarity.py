"""North-star operator tests: text dedup, similarity search,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.operators.dedup_text import (
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from nyc_crash_mapper_etl_script_spark.operators.multimodal import (
    decode_stub,
    extract_features,
    make_media_table,
)
from nyc_crash_mapper_etl_script_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    lsh_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill and the birds sing in the old oak tree near "
    "the quiet river bank as morning light spreads across the valley"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("quick", "slow")),  # near dup of 0
        (3, "completely different text about databases and distributed query engines"),
        (4, "another unrelated document concerning maritime navigation routes"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    out = {r["keeper"]: r["n"] for r in exact_duplicates(docs).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse
    assert out[2] == 1


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert not any(3 in p or 4 in p for p in pairs)


def test_ngram_posting_cap_parity(spark):
    """With the posting-list cap active, candidate generation drops
    popular shingles but verification runs on full shingle sets:
    identical pairs AND identical jaccard values on a corpus where
    a hot shingle's posting list exceeds the cap."""
    # all 12 docs share a short hot header (posting list 12 > cap 8,
    # so its shingles drop from the index) but qualifying pairs live
    # inside two groups whose long bodies supply rare shingles
    header = "common header words repeated across corpus"
    body = {
        0: BASE,
        1: ("maritime charts describe coastal depths and currents while "
            "lighthouse keepers log passing vessels through foggy nights "
            "and harbor pilots guide ships between narrow channel buoys"),
    }
    rows = [(i, f"{header} {body[i % 2]}") for i in range(12)] + [
        (20, "entirely different content about oceanic cartography methods")
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
                ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    capped = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
              ngram_jaccard_pairs(docs, threshold=0.5, max_posting=8).collect()}
    assert capped == uncapped
    assert len(capped) == 2 * (6 * 5 // 2)  # both groups fully paired


def test_minhash_agrees_with_exact_jaccard(docs):
    exact = {(r["id_a"], r["id_b"]) for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    mh = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
          minhash_near_duplicates(docs, threshold=0.5).collect()}
    # all truly-similar pairs found; estimates near truth
    assert exact <= set(mh)
    assert mh[(0, 1)] == 1.0


def test_minhash_bucket_cap_routes_identically(spark):
    """A degenerate bucket (many byte-identical boilerplate docs all
    landing in one band bucket) must route through the streaming
    self-join path without changing the emitted pair set."""
    boiler = [(100 + i, BASE) for i in range(60)]
    other = [
        (0, BASE.replace("quick", "slow")),
        (1, "unrelated text about databases and query engines entirely"),
        (2, ""),
    ]
    docs = spark.createDataFrame(boiler + other, "doc_id long, text string")
    capped = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
              minhash_near_duplicates(docs, threshold=0.5, max_bucket=8).collect()}
    uncapped = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
                minhash_near_duplicates(docs, threshold=0.5,
                                        max_bucket=10**9).collect()}
    assert capped == uncapped
    # all 60 boilerplate copies pair with each other (and with doc 0)
    assert len(capped) >= 60 * 59 // 2


def test_simhash_near_duplicates(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_duplicates(docs, max_hamming=6).collect()}
    assert pairs[(0, 1)] == 0  # identical text -> identical fingerprint
    assert (0, 2) in pairs  # one-word edit -> few bits differ
    assert (0, 3) not in pairs


@pytest.fixture(scope="module")
def embeddings(spark):
    import math

    def vec(seed, dim=16):
        state = seed * 2654435761 % (1 << 31)
        out = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            out.append(state / float(1 << 31) * 2 - 1)
        n = math.sqrt(sum(x * x for x in out))
        return [x / n for x in out]

    base = vec(7)
    # co-directional scale: cosine 1.0 AND identical hyperplane signs,
    # so the LSH recall assertion is deterministic
    near = [x * 1.001 for x in base]
    rows = [(0, base), (1, near)] + [(i, vec(i * 13 + 1)) for i in range(2, 30)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(embeddings):
    q = embeddings.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = brute_force_topk(embeddings, q, k=3).collect()
    assert [r["vec_id"] for r in out][:2] == [0, 1]  # self then near-dup
    assert out[0]["sim"] == pytest.approx(1.0, abs=1e-5)
    assert out[1]["sim"] > 0.99


def test_lsh_topk_finds_near_neighbor(embeddings):
    q = embeddings.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = lsh_topk(embeddings, q, dim=16, k=3, num_planes=4).collect()
    got = [r["vec_id"] for r in out]
    # the truly-near vector shares every hyperplane bucket with its twin
    assert got[:2] == [0, 1]


def test_embedding_near_duplicates(embeddings):
    pairs = {(r["id_a"], r["id_b"]): r["sim"] for r in
             embedding_near_duplicates(embeddings, dim=16, threshold=0.95).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99


def test_multimodal_pipeline(spark, docs):
    media = make_media_table(docs)
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = extract_features(media, n_features=8)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 6
    assert all(len(r["features"]) == 8 for r in rows.values())
    # deterministic: same payload -> same features & sha
    assert rows[0]["features"] == rows[1]["features"]
    assert rows[0]["payload_sha"] == rows[1]["payload_sha"]
    assert rows[0]["payload_sha"] != rows[2]["payload_sha"]
    assert rows[5]["n_bytes"] == 0
    # re-run identical (no hidden randomness)
    again = {r["media_id"]: r for r in extract_features(media, n_features=8).collect()}
    assert again[3]["features"] == rows[3]["features"]


def test_decode_stub_strict_raises():
    with pytest.raises(NotImplementedError):
        decode_stub(b"bytes", strict=True)


def test_resize_images(spark, docs):
    from nyc_crash_mapper_etl_script_spark.operators.multimodal import (
        make_media_table,
        resize_images,
    )

    media = make_media_table(docs)
    out = {r["media_id"]: r for r in resize_images(media, 224, 224).collect()}
    assert len(out) == 6
    for mid, r in out.items():
        src = {x["media_id"]: x for x in media.collect()}[mid]
        if r["kind"] == "image":
            assert r["meta"]["width"] == 224 and r["meta"]["height"] == 224
            assert bytes(r["payload"]).endswith(b"|resized:224x224")
        else:  # non-images pass through untouched
            assert bytes(r["payload"]) == bytes(src["payload"])
            assert r["meta"]["width"] == src["meta"]["width"]


def test_frame_sample(spark, docs):
    from nyc_crash_mapper_etl_script_spark.operators.multimodal import (
        frame_sample,
        make_media_table,
    )

    media = make_media_table(docs)
    n_videos = media.where(F.col("kind") == "video").count()
    frames = frame_sample(media, n_frames=4)
    rows = frames.collect()
    assert len(rows) == 4 * n_videos
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, fr in by_media.items():
        assert sorted(x["frame_idx"] for x in fr) == [0, 1, 2, 3]
        offs = [x["offset_ms"] for x in sorted(fr, key=lambda x: x["frame_idx"])]
        assert offs == sorted(offs)  # evenly spaced, monotone
        assert all(len(bytes(x["frame"])) == 32 for x in fr)  # sha256 fake frames
    # deterministic across runs
    again = {(r["media_id"], r["frame_idx"]): bytes(r["frame"])
             for r in frame_sample(media, n_frames=4).collect()}
    assert all(again[(r["media_id"], r["frame_idx"])] == bytes(r["frame"]) for r in rows)


def test_ivf_topk_full_probe_equals_bruteforce(embeddings):
    from nyc_crash_mapper_etl_script_spark.operators.similarity import ivf_topk

    q = embeddings.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    exact = {(r["query_id"], r["rank"]): r["vec_id"]
             for r in brute_force_topk(embeddings, q, k=5).collect()}
    # probing every cell degrades IVF to exact search
    full = {(r["query_id"], r["rank"]): r["vec_id"]
            for r in ivf_topk(embeddings, q, k=5, n_cells=6, n_probe=6).collect()}
    assert full == exact


def test_ivf_topk_partial_probe(embeddings):
    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        select_centroids,
    )

    q = embeddings.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = ivf_topk(embeddings, q, k=3, n_cells=4, n_probe=2).collect()
    got = [r["vec_id"] for r in out]
    # query 0's own cell is always probed (cosine(q, centroid) is
    # maximal for the centroid it's assigned to), and its twin (vec 1,
    # cosine 1.0 co-directional) assigns to the same cell -> both found
    assert got[:2] == [0, 1]
    # partial probe scans fewer candidates than the corpus
    cents = select_centroids(embeddings, 4)
    assigned = ivf_assign(embeddings, cents)
    assert assigned.count() == embeddings.count()
    assert assigned.select("cell_id").distinct().count() <= 4


def test_ivf_materialized_probe_matches_inplan(embeddings, tmp_path):
    """The storage path: ivf_write partitions the corpus by cell on
    disk; ivf_probe answers from the index with partition pruning and
    returns exactly what the in-plan ivf_topk returns for the same
    configuration."""
    from pyspark.sql import functions as F

    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        ivf_probe,
        ivf_topk,
        ivf_write,
    )

    spark = embeddings.sparkSession
    path = str(tmp_path / "ivf")
    ivf_write(embeddings, path, n_cells=5)
    q = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    from_index = ivf_probe(spark, path, q, k=4, n_probe=2)
    in_plan = ivf_topk(embeddings, q, k=4, n_cells=5, n_probe=2)
    key = lambda df: {(r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
                      for r in df.collect()}
    assert key(from_index) == key(in_plan)
    # partition pruning is real: files actually READ (input_file_name
    # at execution; inputFiles() lists pre-pruning) are a strict
    # subset of the index
    from nyc_crash_mapper_etl_script_spark.operators.similarity import _probe_cells

    probe_q = q.limit(1)
    cents = spark.read.parquet(path + "/_centroids")
    cells = [r["cell_id"] for r in
             _probe_cells(probe_q, cents, 1).select("cell_id").collect()]
    touched = (
        spark.read.parquet(path)
        .where(F.col("cell_id").isin(cells))
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    total = (
        spark.read.parquet(path).select(F.input_file_name()).distinct().count()
    )
    assert 0 < touched < total
    assert ivf_probe(spark, path, probe_q, k=4, n_probe=1).count() > 0


def test_duplicate_clusters_resolution(spark):
    """Chains resolve transitively (a-b, b-c -> one cluster under the
    min id); singletons keep their own id."""
    from nyc_crash_mapper_etl_script_spark.operators.dedup_text import (
        duplicate_clusters,
    )

    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster"] for r in
           duplicate_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 1, 3: 1, 5: 1, 2: 2, 6: 2, 4: 4}


def test_hash_split_stable_and_proportional(spark):
    from nyc_crash_mapper_etl_script_spark.operators.sampling import hash_split

    df = spark.range(4000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in
         hash_split(df.repartition(13), "doc_id").collect()}
    assert a == b  # partitioning-independent determinism
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] / 4000 - 0.9) < 0.03
    assert abs(c["val"] / 4000 - 0.05) < 0.02
    # a different salt reshuffles assignments
    salted = {r["doc_id"]: r["split"] for r in
              hash_split(df, "doc_id", salt="v2").collect()}
    assert salted != a


def test_duplicate_clusters_chain_converges_logarithmically(spark):
    """A 40-node path graph (worst case for plain propagation: 39
    rounds) must resolve within ~log2(40)+slack rounds thanks to
    pointer jumping -- max_iter=9 would fail without it."""
    from nyc_crash_mapper_etl_script_spark.operators.dedup_text import (
        duplicate_clusters,
    )

    n = 40
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster"] for r in
           duplicate_clusters(docs, pairs, max_iter=9).collect()}
    assert got == {i: 0 for i in range(n)}


def test_kmeans_centroids_perfect_recall_on_clustered_data(spark):
    """Three tight direction-clusters: trained centroids align with
    the clusters, so n_probe=1 IVF returns exactly the brute-force
    top-k -- where hash-seeded centroids can split or merge clusters.
    Also pins run-to-run determinism (no random state anywhere)."""
    import math
    import random

    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )

    rng = random.Random(3)
    anchors = [
        [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]
    ]
    rows = []
    for i in range(90):
        a = anchors[i % 3]
        v = [x + rng.uniform(-0.05, 0.05) for x in a]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    approx = ivf_topk(emb, q, k=5, n_cells=3, n_probe=1, centroid_impl="kmeans")
    exact = brute_force_topk(emb, q, k=5)
    key = lambda df: {(r["query_id"], r["rank"]): r["vec_id"] for r in df.collect()}
    assert key(approx) == key(exact)
    c1 = kmeans_centroids(emb, 3).collect()
    c2 = kmeans_centroids(emb, 3).collect()
    assert [(r["cell_id"], r["cv"]) for r in c1] == [
        (r["cell_id"], r["cv"]) for r in c2
    ]


def test_ivf_append_grows_index_without_rewrite(embeddings, tmp_path):
    """Appending new vectors assigns them with the STORED centroids
    and leaves existing cell files untouched; probes see old and new
    vectors together."""
    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        ivf_append,
        ivf_probe,
        ivf_write,
    )

    spark = embeddings.sparkSession
    path = str(tmp_path / "ivf")
    old = embeddings.where(F.col("vec_id") < 20)
    ivf_write(old, path, n_cells=4)
    before_files = set(spark.read.parquet(path).inputFiles())
    new = embeddings.where(F.col("vec_id") >= 20)
    ivf_append(spark, path, new)
    after_files = set(spark.read.parquet(path).inputFiles())
    assert before_files <= after_files  # strictly additive
    assert len(after_files) > len(before_files)
    got = {r["vec_id"] for r in spark.read.parquet(path).collect()}
    assert got == {r["vec_id"] for r in embeddings.collect()}
    # full probe over the grown index finds an appended vector
    q = embeddings.where(F.col("vec_id") == 25).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = ivf_probe(spark, path, q, k=1, n_probe=4)
    assert out.collect()[0]["vec_id"] == 25  # self is its own top-1


def test_multiprobe_lsh_recall_dominates_single_probe(embeddings):
    """Probing the one-bit-flip buckets can only ADD candidates, so
    multi-probe recall vs brute force is >= single-probe recall."""
    from nyc_crash_mapper_etl_script_spark.operators.similarity import lsh_topk

    q = embeddings.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    ).where(F.col("query_id") < 5)
    exact = {(r["query_id"], r["vec_id"]) for r in
             brute_force_topk(embeddings, q, k=3).collect()}

    def recall(df):
        got = {(r["query_id"], r["vec_id"]) for r in df.collect()}
        return len(got & exact) / len(exact)

    single = recall(lsh_topk(embeddings, q, dim=16, k=3, num_planes=6))
    multi = recall(lsh_topk(embeddings, q, dim=16, k=3, num_planes=6,
                            probe_hamming=1))
    assert multi >= single
    assert multi > 0.5


def test_quantized_topk_matches_bruteforce_with_overscan(embeddings):
    """int8 candidates + exact refine: with a healthy overscan the
    final top-k equals brute force on this corpus, and the quantized
    column really is tinyint (the 4x memory claim)."""
    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        quantize_embeddings,
        quantized_topk,
    )

    qz = quantize_embeddings(embeddings)
    assert qz.schema["q"].dataType.simpleString() == "array<tinyint>"
    assert qz.where(F.abs(F.element_at("q", 1)) > 127).count() == 0

    q = embeddings.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    key = lambda df: {(r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
                      for r in df.collect()}
    assert key(quantized_topk(embeddings, q, k=3, overscan=5)) == key(
        brute_force_topk(embeddings, q, k=3)
    )


def test_minhash_incremental_matches_full_and_reads_stored_index(
    spark, docs, tmp_path_factory
):
    """Incremental dedup of a new batch against a STORED band index
    equals the full-corpus pair set restricted to pairs involving the
    batch -- and works from parquet, i.e. old signatures are read,
    never recomputed."""
    from nyc_crash_mapper_etl_script_spark.operators.dedup_text import (
        minhash_banded_rows,
        minhash_dedup_incremental,
        minhash_near_duplicates,
    )

    old = docs.where("doc_id <= 2")     # contains the dup cluster 0/1/2
    new = docs.where("doc_id > 2").union(
        spark.createDataFrame([(6, BASE)], "doc_id long, text string")
    )  # doc 6 is a new exact dup of stored docs 0/1

    idx_path = str(tmp_path_factory.mktemp("lshidx") / "bands")
    minhash_banded_rows(old).write.parquet(idx_path)

    stored = spark.read.parquet(idx_path)
    new_banded = minhash_banded_rows(new)
    inc = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_incremental(
            new_banded, stored, threshold=0.5
        ).collect()
    }

    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            docs.union(
                spark.createDataFrame([(6, BASE)], "doc_id long, text string")
            ),
            threshold=0.5,
        ).collect()
    }
    new_ids = {3, 4, 5, 6}
    expected = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    assert inc == expected
    assert (6, 0) in {(b, a) for a, b in inc} or (0, 6) in inc  # new-x-old found


# -- optional real codec path ---------------------------------------------


class _FakeGray:
    def __init__(self, px):
        self._px = px

    def resize(self, box):
        w, h = box
        return _FakeGray(self._px[: w * h])

    def getdata(self):
        return self._px

    def save(self, buf, format=None):
        buf.write(b"PNGFAKE:" + bytes(self._px))


class _FakeImageModule:
    """Duck-typed stand-in for PIL.Image: open() -> object with
    convert/resize/getdata/save.  Lets the REAL-decode branch run in
    environments without Pillow; the same code path runs unmodified
    against actual Pillow when it is installed."""

    @staticmethod
    def open(fp):
        data = fp.read()
        if not data.startswith(b"IMG"):
            raise OSError("cannot identify image file")

        class _Img:
            def convert(self, mode):
                return _FakeGray(list(data[:64]))

            def resize(self, box):
                return _FakeGray(list(data[: box[0] * box[1]]))

            def save(self, buf, format=None):
                buf.write(b"PNGFAKE:" + data)

        return _Img()


def test_decode_media_real_branch_via_injected_backend():
    from nyc_crash_mapper_etl_script_spark.operators.multimodal import (
        decode_media,
        decode_stub,
    )

    feats = decode_media(b"IMG" + bytes(range(64)), 8, image_module=_FakeImageModule)
    # real branch: pixel intensities /255, not sha-derived
    assert feats == [v / 255.0 for v in [73, 77, 71, 0, 1, 2, 3, 4]]
    # undecodable payload, non-strict -> deterministic stub fallback
    assert decode_media(b"junk", 8, image_module=_FakeImageModule) == decode_stub(
        b"junk", 8
    )
    import pytest

    with pytest.raises(OSError):
        decode_media(b"junk", 8, strict=True, image_module=_FakeImageModule)


def test_resize_media_real_branch_via_injected_backend():
    from nyc_crash_mapper_etl_script_spark.operators.multimodal import (
        resize_media,
        resize_stub,
    )

    out = resize_media(b"IMGxyz", 4, 4, image_module=_FakeImageModule)
    assert out.startswith(b"PNGFAKE:")
    assert resize_media(b"junk", 4, 4, image_module=_FakeImageModule) == resize_stub(
        b"junk", 4, 4
    )


def test_decode_media_stub_contract_without_backend(monkeypatch):
    import pytest

    from nyc_crash_mapper_etl_script_spark.operators import multimodal as mm

    monkeypatch.setattr(mm, "pil_image_module", lambda: None)
    assert mm.decode_media(b"abc", 8) == mm.decode_stub(b"abc", 8)
    with pytest.raises(NotImplementedError):
        mm.decode_media(b"abc", 8, strict=True)
    with pytest.raises(NotImplementedError):
        mm.resize_media(b"abc", 2, 2, strict=True)


def test_decode_media_real_pillow_when_installed():
    import importlib.util

    import pytest

    if importlib.util.find_spec("PIL") is None:
        pytest.skip("Pillow not installed in this environment")
    from PIL import Image
    import io as _io

    from nyc_crash_mapper_etl_script_spark.operators.multimodal import (
        decode_media,
        resize_media,
    )

    buf = _io.BytesIO()
    Image.new("RGB", (16, 16), (128, 64, 32)).save(buf, format="PNG")
    png = buf.getvalue()
    feats = decode_media(png, 8)
    assert len(feats) == 8 and all(0.0 <= v <= 1.0 for v in feats)
    resized = resize_media(png, 4, 4)
    with Image.open(_io.BytesIO(resized)) as out:
        assert out.size == (4, 4)


def test_extract_features_codec_auto_falls_back_deterministically(spark, docs):
    from nyc_crash_mapper_etl_script_spark.operators.multimodal import (
        extract_features,
        make_media_table,
        pil_image_module,
    )

    media = make_media_table(docs.limit(6))
    stub = {r["media_id"]: r["features"] for r in extract_features(media).collect()}
    auto = {
        r["media_id"]: r["features"]
        for r in extract_features(media, codec="auto").collect()
    }
    if pil_image_module() is None:
        assert auto == stub  # no backend -> identical stub features
    else:
        assert set(auto) == set(stub)  # real decode may differ, same rows


def test_exact_substring_pairs_hand_built(spark):
    from nyc_crash_mapper_etl_script_spark.operators.dedup_text import (
        exact_substring_pairs,
    )

    run = "X" * 20 + "abcdefghijklmnopqrstuvwxyz0123456789ABCD" + "Y" * 20
    docs = spark.createDataFrame(
        [
            (1, "prefix one " + run + " tail one"),
            (2, "another document carrying " + run + " elsewhere"),
            (3, "totally different text with no shared windows at all"
                " but comfortably longer than forty characters"),
            (4, "short"),                      # < k chars -> no windows
            (5, None),                         # NULL text
        ],
        "doc_id long, text string",
    )
    out = {(r["id_a"], r["id_b"]): r["n_shared"]
           for r in exact_substring_pairs(docs, k=40).collect()}
    # only the pair sharing the verbatim run; the shared region is
    # " " + run + " " (both docs flank the 80-char run with spaces) =
    # 82 chars -> 82 - 40 + 1 = 43 shared windows
    assert set(out) == {(1, 2)}
    assert out[(1, 2)] == 43

    # posting cap: a window shared by ALL docs is dropped from
    # candidate generation -> no pairs survive a cap of 2
    many = spark.createDataFrame(
        [(i, "Z" * 60) for i in range(5)], "doc_id long, text string"
    )
    assert exact_substring_pairs(many, k=40, max_posting=2).count() == 0
    # ...and kept when the cap allows it: all C(5,2) pairs
    assert exact_substring_pairs(many, k=40, max_posting=10).count() == 10


def test_editdistance_hot_block_cap_bounds_pairs(spark):
    """r3 VERDICT item 4: with 30% of docs sharing one first token,
    max_block bounds the hot block's pair count at C(max_block, 2)
    (members ranked past the cap drop from candidate generation);
    blocks under the cap are untouched, so capped == uncapped there."""
    from nyc_crash_mapper_etl_script_spark.operators.dedup_text import (
        editdistance_pairs,
    )

    rows = []
    # hot block: 30 of 100 docs share first token; identical prefixes
    # so every in-block pair qualifies (worst case)
    for i in range(30):
        rows.append((i, "hot common prefix words here tail%d" % i))
    # 70 cold docs across 35 two-doc blocks with near-identical prefixes
    for i in range(70):
        rows.append((100 + i, "cold%d alpha beta gamma delta x%d" % (i // 2, i)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = editdistance_pairs(docs, max_dist=8, max_block=10).collect()
    hot = [r for r in capped if r["doc_a"] < 100 and r["doc_b"] < 100]
    # bounded: exactly the 10 lowest-id members pair up
    assert len(hot) == 10 * 9 // 2
    assert {r["doc_a"] for r in hot} | {r["doc_b"] for r in hot} == set(range(10))

    # cold blocks (size 2 <= cap): identical with and without the cap
    uncapped = editdistance_pairs(docs, max_dist=8).collect()
    cold_c = sorted(
        (r["doc_a"], r["doc_b"], r["dist"]) for r in capped if r["doc_a"] >= 100
    )
    cold_u = sorted(
        (r["doc_a"], r["doc_b"], r["dist"]) for r in uncapped if r["doc_a"] >= 100
    )
    assert cold_c == cold_u and len(cold_c) > 0
    # and the uncapped hot block really was quadratic -- the cap matters
    assert len([r for r in uncapped if r["doc_a"] < 100]) == 30 * 29 // 2


def test_segment_boilerplate_removal_hand_built(spark):
    """Shared header segments vanish from every doc; unique segments
    survive in order; an all-boilerplate doc comes back NULL."""
    from nyc_crash_mapper_etl_script_spark.operators.dedup_text import (
        segment_boilerplate_removal,
    )

    hdr = "site nav terms login"  # one 4-word boilerplate segment
    docs = spark.createDataFrame(
        [
            (1, f"{hdr} alpha beta gamma delta epsilon zeta eta theta"),
            (2, f"{hdr} one two three four"),
            (3, hdr),  # nothing but boilerplate
            (4, "solo unique words here plus tail content words"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in segment_boilerplate_removal(docs, seg_words=4).collect()
    }
    assert out[1] == ("alpha beta gamma delta epsilon zeta eta theta", 1)
    assert out[2] == ("one two three four", 1)
    assert out[3] == (None, 1)
    assert out[4] == ("solo unique words here plus tail content words", 0)


def test_semantic_dedup_hand_built(spark):
    """SemDeDup composition: two planted near-identical pairs prune
    to their lowest ids; the join is equi-keyed on cell_id (no
    cartesian/NLJ)."""
    import math

    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        semantic_dedup,
    )

    def unit(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 6

    rows = [
        (0, unit(0.00)),
        (1, unit(0.01)),   # near-dup of 0 -> pruned
        (2, unit(1.5)),
        (3, unit(1.51)),   # near-dup of 2 -> pruned
        (4, unit(3.0)),
        (5, unit(4.4)),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = semantic_dedup(e, n_cells=3, threshold=0.95)
    ids = {r["vec_id"] for r in kept.collect()}
    assert ids == {0, 2, 4, 5}, ids
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_max_cluster_caps_candidates(spark):
    """The cap bounds the CANDIDATE side only: beyond-cap members
    stop pruning others but are still prunable, and in-cap keeps are
    never wrong.  With every vector identical (one degenerate
    cluster), cap=1 means exactly one candidate -- the deterministic
    md5-first member -- prunes everyone above it; only ids below the
    candidate survive alongside it."""
    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        semantic_dedup,
    )

    v = [1.0, 0.0, 0.0, 0.0]
    e = spark.createDataFrame(
        [(i, v) for i in range(12)], "vec_id long, embedding array<double>"
    )
    uncapped = {
        r["vec_id"]
        for r in semantic_dedup(e, n_cells=1, threshold=0.99).collect()
    }
    assert uncapped == {0}  # keep-lowest-id, everything else pruned
    capped = {
        r["vec_id"]
        for r in semantic_dedup(e, n_cells=1, threshold=0.99, max_cluster=1).collect()
    }
    # the single candidate keeps itself and everything below it
    assert min(capped) == 0 and 0 in capped
    assert capped == {i for i in range(12) if i <= max(capped)} or capped == {0}
    assert len(capped) <= 12 and capped >= {0}


def _rand_vectors(n, dim=8, seed=7):
    """Deterministic pseudo-random unit-ish vectors with planted
    near-duplicates: every 5th vector is a tiny perturbation of its
    predecessor, so clusters contain real prune work."""
    import numpy as np

    rng = np.random.default_rng(seed)
    out = []
    prev = None
    for i in range(n):
        if prev is not None and i % 5 == 4:
            v = prev + rng.normal(0, 0.01, dim)
        else:
            v = rng.normal(0, 1, dim)
        prev = v
        out.append((i, [float(x) for x in v]))
    return out


def test_semantic_dedup_incremental_equals_full_restricted(spark):
    """The exact contract: with stored centroids and monotone ids,
    incremental(new, assign(old), C) == semantic_dedup(old ∪ new,
    centroids=C) restricted to the new ids -- capped and uncapped."""
    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        ivf_assign,
        select_centroids,
        semantic_dedup,
        semantic_dedup_incremental,
    )

    rows = _rand_vectors(60)
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old = e.where("vec_id < 40")
    new = e.where("vec_id >= 40")
    cents = select_centroids(old, 4)
    index = ivf_assign(old, cents)
    for cap in (None, 3):
        full = semantic_dedup(e, threshold=0.9, centroids=cents, max_cluster=cap)
        want = {
            (r["vec_id"], r["cell_id"])
            for r in full.where("vec_id >= 40").collect()
        }
        got = {
            (r["vec_id"], r["cell_id"])
            for r in semantic_dedup_incremental(
                new, index, cents, threshold=0.9, max_cluster=cap
            ).collect()
        }
        assert got == want, f"cap={cap}"
    # equi-keyed prune: no cartesian/NLJ in the incremental plan
    plan = (
        semantic_dedup_incremental(new, index, cents, threshold=0.9)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_incremental_parquet_index_multibatch(spark, tmp_path):
    """The continuous-ingest regime end to end: quantizer and
    assignment index live as parquet between batches; each batch
    appends its own assignment; kept sets are strictly additive (old
    kept rows never change) and every batch's result equals the
    full-corpus run restricted to that batch."""
    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        ivf_assign,
        select_centroids,
        semantic_dedup,
        semantic_dedup_incremental,
    )

    rows = _rand_vectors(90, seed=11)
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = e.where("vec_id < 50")
    b1 = e.where("vec_id >= 50 and vec_id < 70")
    b2 = e.where("vec_id >= 70")

    cdir = str(tmp_path / "centroids")
    idir = str(tmp_path / "index")
    select_centroids(base, 4).write.parquet(cdir)
    cents = spark.read.parquet(cdir)
    ivf_assign(base, cents).write.parquet(idir)

    kept0 = {
        r["vec_id"]
        for r in semantic_dedup(base, threshold=0.9, centroids=cents).collect()
    }

    # batch 1: dedup against the stored index, then append its assignment
    index = spark.read.parquet(idir)
    kept1 = {
        r["vec_id"]
        for r in semantic_dedup_incremental(
            b1, index, cents, threshold=0.9
        ).collect()
    }
    ivf_assign(b1, cents).write.mode("append").parquet(idir)

    # batch 2 against base ∪ b1
    index = spark.read.parquet(idir)
    kept2 = {
        r["vec_id"]
        for r in semantic_dedup_incremental(
            b2, index, cents, threshold=0.9
        ).collect()
    }

    full = {
        r["vec_id"]
        for r in semantic_dedup(e, threshold=0.9, centroids=cents).collect()
    }
    # per-batch results == full-corpus run restricted to each range
    assert kept1 == {i for i in full if 50 <= i < 70}
    assert kept2 == {i for i in full if i >= 70}
    # strictly additive: the base keeps are exactly full ∩ [0, 50)
    assert kept0 == {i for i in full if i < 50}
    assert kept0 | kept1 | kept2 == full
