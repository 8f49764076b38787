"""Continuous embedding ingest with incremental SemDeDup
(plans/embedding_stream.py): streamed == full-corpus recompute with
the stored quantizer, and every crash window between the three state
commits re-applies only the missing writes."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.operators.similarity import (
    ivf_assign,
    semantic_dedup,
)
from nyc_crash_mapper_etl_script_spark.plans.embedding_stream import (
    apply_semantic_batch,
    semantic_dedup_stream,
)
from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable


def _vecs(spark, lo, hi):
    """Deterministic unit vectors with planted near-dup pairs: every
    4th vector nearly repeats its predecessor's angle."""
    rows = []
    for i in range(lo, hi):
        theta = (i * 0.7) % (2 * math.pi)
        if i % 4 == 3:
            theta = ((i - 1) * 0.7) % (2 * math.pi) + 0.005
        rows.append((i, [math.cos(theta), math.sin(theta), 0.0, 0.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture()
def env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("emb_stream")
    return {
        "source": TxTable(str(root / "raw"), retain_history=True),
        "quantizer": TxTable(str(root / "quant")),
        # cell_id partitioning is what apply_semantic_batch enforces;
        # constructing it here keeps the crash-simulation appends
        # below on the same layout the real sink writes
        "index": TxTable(str(root / "index"), partition_by=["cell_id"]),
        "kept": TxTable(str(root / "kept")),
        "ckpt": str(root / "ck"),
    }


def _drain(spark, env):
    q = semantic_dedup_stream(
        spark,
        env["source"],
        env["quantizer"],
        env["index"],
        env["kept"],
        env["ckpt"],
        n_cells=2,
        threshold=0.95,
    )
    q.awaitTermination(300)


def _kept_ids(spark, env):
    return {r["vec_id"] for r in env["kept"].read(spark).collect()}


def test_streamed_kept_equals_full_recompute(spark, env):
    """Three batches through the stream: after each drain the kept
    table equals one full-corpus semantic_dedup over everything
    ingested, using the STORED centroids (trained on batch 0 only),
    and the index holds every vector's assignment exactly once."""
    env["source"].init(_vecs(spark, 0, 20))
    _drain(spark, env)

    def full(hi):
        cents = env["quantizer"].read(spark)
        return {
            r["vec_id"]
            for r in semantic_dedup(
                _vecs(spark, 0, hi), threshold=0.95, centroids=cents
            ).collect()
        }

    assert _kept_ids(spark, env) == full(20)

    env["source"].append(_vecs(spark, 20, 33))
    _drain(spark, env)
    assert _kept_ids(spark, env) == full(33)

    env["source"].append(_vecs(spark, 33, 40))
    _drain(spark, env)
    assert _kept_ids(spark, env) == full(40)

    idx = env["index"].read(spark)
    assert idx.count() == 40
    assert idx.select("vec_id").distinct().count() == 40
    # assignments match a fresh assign with the stored quantizer
    cents = env["quantizer"].read(spark)
    want = {
        (r["vec_id"], r["cell_id"])
        for r in ivf_assign(_vecs(spark, 0, 40), cents).collect()
    }
    got = {(r["vec_id"], r["cell_id"]) for r in idx.collect()}
    assert got == want


def test_prune_pool_is_partition_pruned(spark, env):
    """The 100 TB contract (r6 VERDICT item 1): the per-batch prune
    pool reads ONLY the index partitions for the cells the batch was
    assigned to -- a strict file subset, ivf_probe style -- and the
    pruned pool computes the same kept set as the full-index pool."""
    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        semantic_dedup_incremental,
    )

    env["source"].init(_vecs(spark, 0, 20))
    _drain(spark, env)
    index = env["index"]
    assert index.partition_by == ["cell_id"]
    all_files = set(index._live_files())
    cell_dirs = {f.split(os.sep)[0] for f in all_files}
    assert len(cell_dirs) == 2, "fixture must span both cells"

    # a batch whose vectors all land in ONE cell
    cents = env["quantizer"].read(spark)
    b = _vecs(spark, 20, 26)
    assigned = ivf_assign(b, cents)
    one_cell = [
        r["cell_id"]
        for r in assigned.groupBy("cell_id").count()
        .orderBy(F.desc("count")).limit(1).collect()
    ]
    sub = assigned.where(F.col("cell_id").isin(one_cell)).select(
        "vec_id", "embedding"
    )
    assert sub.count() > 0
    pruned = set(index.partition_files("cell_id", one_cell))
    assert pruned < all_files, "pruned pool must be a strict file subset"
    assert all(f.startswith(f"cell_id={one_cell[0]}{os.sep}") for f in pruned)
    # pruned pool == full pool for this batch's kept set
    full_kept = {
        r["vec_id"]
        for r in semantic_dedup_incremental(
            sub, index.read(spark), cents, threshold=0.95
        ).collect()
    }
    pruned_kept = {
        r["vec_id"]
        for r in semantic_dedup_incremental(
            sub,
            index.read_partitions(spark, "cell_id", one_cell),
            cents,
            threshold=0.95,
        ).collect()
    }
    assert pruned_kept == full_kept


def test_requantize_rebuild_equals_full_run(spark, env):
    """Quantizer-drift maintenance: after streamed batches,
    requantize_semantic_index leaves all three state tables exactly
    as a fresh full-corpus run with centroids re-trained on
    everything -- and the rebuild is idempotent per rebuild_id,
    including a replay after a crash between the three commits."""
    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        select_centroids,
    )
    from nyc_crash_mapper_etl_script_spark.plans.embedding_stream import (
        assignment_drift,
        requantize_semantic_index,
    )

    env["source"].init(_vecs(spark, 0, 20))
    _drain(spark, env)
    env["source"].append(_vecs(spark, 20, 36))
    _drain(spark, env)

    d0 = assignment_drift(spark, env["quantizer"], env["index"]).collect()[0]
    assert d0["n"] == 36 and d0["mean_dist_e6"] >= 0

    requantize_semantic_index(
        spark, env["quantizer"], env["index"], env["kept"],
        rebuild_id=1, n_cells=2, threshold=0.95,
    )
    allv = _vecs(spark, 0, 36)
    want_cents = {
        (r["cell_id"], tuple(r["cv"]))
        for r in select_centroids(allv, 2).collect()
    }
    got_cents = {
        (r["cell_id"], tuple(r["cv"]))
        for r in env["quantizer"].read(spark).collect()
    }
    assert got_cents == want_cents, "quantizer not re-trained on everything"
    new_cents = env["quantizer"].read(spark)
    want_idx = {
        (r["vec_id"], r["cell_id"])
        for r in ivf_assign(allv, new_cents).collect()
    }
    got_idx = {
        (r["vec_id"], r["cell_id"]) for r in env["index"].read(spark).collect()
    }
    assert got_idx == want_idx, "index not re-assigned with new centroids"
    want_kept = {
        r["vec_id"]
        for r in semantic_dedup(
            allv, threshold=0.95, centroids=new_cents
        ).collect()
    }
    assert _kept_ids(spark, env) == want_kept, "kept != full run, new centroids"
    # index layout survives the rebuild: still cell_id-partitioned
    assert all(
        f.split(os.sep)[0].startswith("cell_id=")
        for f in env["index"]._live_files()
    )

    # idempotent: a full replay of the same rebuild_id is a no-op
    vq = env["quantizer"]._snapshot_version()
    vi = env["index"]._snapshot_version()
    vk = env["kept"]._snapshot_version()
    requantize_semantic_index(
        spark, env["quantizer"], env["index"], env["kept"],
        rebuild_id=1, n_cells=2, threshold=0.95,
    )
    assert (vq, vi, vk) == (
        env["quantizer"]._snapshot_version(),
        env["index"]._snapshot_version(),
        env["kept"]._snapshot_version(),
    )

    # crash window: rebuild 2's quantizer commit landed, index/kept
    # lost.  The replay skips the quantizer overwrite and completes
    # the other two with the same rows the clean run writes.
    app_id = f"semantic_requant:{os.path.abspath(env['index'].root)}"
    env["quantizer"].overwrite(
        select_centroids(
            env["index"].read(spark).select("vec_id", "embedding"),
            2,
        ),
        app_txn=(app_id, 2),
    )
    vq2 = env["quantizer"]._snapshot_version()
    requantize_semantic_index(
        spark, env["quantizer"], env["index"], env["kept"],
        rebuild_id=2, n_cells=2, threshold=0.95,
    )
    assert env["quantizer"]._snapshot_version() == vq2, "quantizer redone"
    assert _kept_ids(spark, env) == want_kept
    got_idx2 = {
        (r["vec_id"], r["cell_id"]) for r in env["index"].read(spark).collect()
    }
    assert got_idx2 == want_idx

    # and the stream resumes cleanly against the rebuilt state
    env["source"].append(_vecs(spark, 36, 44))
    _drain(spark, env)
    cents3 = env["quantizer"].read(spark)
    want_resumed = {
        r["vec_id"]
        for r in semantic_dedup(
            _vecs(spark, 0, 44), threshold=0.95, centroids=cents3
        ).collect()
    }
    assert _kept_ids(spark, env) == want_resumed


def test_stream_checkpoint_replay_is_idempotent(spark, env):
    """Crash window A: all three state commits landed, streaming
    checkpoint commit lost.  The replayed micro-batch no-ops."""
    env["source"].init(_vecs(spark, 0, 16))
    _drain(spark, env)
    want = _kept_ids(spark, env)
    vi, vk = env["index"]._snapshot_version(), env["kept"]._snapshot_version()

    commits = sorted(
        c
        for c in os.listdir(os.path.join(env["ckpt"], "commits"))
        if not c.startswith(".")
    )
    last = commits[-1]
    os.remove(os.path.join(env["ckpt"], "commits", last))
    crc = os.path.join(env["ckpt"], "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    _drain(spark, env)
    assert _kept_ids(spark, env) == want
    assert env["index"]._snapshot_version() == vi
    assert env["kept"]._snapshot_version() == vk


def test_crash_between_index_and_kept_commits(spark, env):
    """Crash window B (the hard one): the batch's assignment reached
    the index but the kept append was lost.  The replay must skip the
    index append (guard) AND still compute the same kept set -- the
    prune pool excludes the batch's own ids, so the half-applied
    index does not occupy candidate slots twice."""
    app_id = "semantic_dedup:test"
    b0, b1 = _vecs(spark, 0, 16), _vecs(spark, 16, 28)

    apply_semantic_batch(
        spark, b0, 0, app_id, env["quantizer"], env["index"], env["kept"],
        n_cells=2, threshold=0.95,
    )
    cents = env["quantizer"].read(spark)
    want_kept = {
        r["vec_id"]
        for r in semantic_dedup(
            _vecs(spark, 0, 28), threshold=0.95, centroids=cents
        ).collect()
    }

    # simulate the crash: batch 1's assignment lands in the index
    # with its app_txn, then the process dies before the kept append
    env["index"].append(
        ivf_assign(b1, cents).select(
            "vec_id", "embedding", "cell_id"
        ),
        app_txn=(app_id, 1),
    )
    vi = env["index"]._snapshot_version()

    # Spark replays micro-batch 1
    apply_semantic_batch(
        spark, b1, 1, app_id, env["quantizer"], env["index"], env["kept"],
        n_cells=2, threshold=0.95,
    )
    assert env["index"]._snapshot_version() == vi, "index appended twice"
    assert env["index"].read(spark).count() == 28
    assert _kept_ids(spark, env) == want_kept

    # and a full replay after everything landed is a no-op
    vk = env["kept"]._snapshot_version()
    apply_semantic_batch(
        spark, b1, 1, app_id, env["quantizer"], env["index"], env["kept"],
        n_cells=2, threshold=0.95,
    )
    assert env["kept"]._snapshot_version() == vk


def test_drift_triggered_requantize_equals_manual(spark, env, tmp_path_factory):
    """r8 VERDICT #7: with requantize_drift_threshold_e6 armed, the
    stream runs the audited rebuild between batches exactly as an
    operator would have manually at the same boundaries -- all three
    state tables byte-equal the manual pipeline -- and an unarmed
    stream never rebuilds."""
    from nyc_crash_mapper_etl_script_spark.plans.embedding_stream import (
        requantize_semantic_index,
    )

    # streamed, threshold 0: every batch's drift (>=0) triggers
    env["source"].init(_vecs(spark, 0, 20))
    q = semantic_dedup_stream(
        spark, env["source"], env["quantizer"], env["index"], env["kept"],
        env["ckpt"], n_cells=2, threshold=0.95,
        requantize_drift_threshold_e6=0,
    )
    q.awaitTermination(300)
    env["source"].append(_vecs(spark, 20, 36))
    q = semantic_dedup_stream(
        spark, env["source"], env["quantizer"], env["index"], env["kept"],
        env["ckpt"], n_cells=2, threshold=0.95,
        requantize_drift_threshold_e6=0,
    )
    q.awaitTermination(300)

    # manual twin: same batches, manual rebuild after each, same ids
    root = tmp_path_factory.mktemp("emb_manual")
    man = {
        "quantizer": TxTable(str(root / "quant")),
        "index": TxTable(str(root / "index"), partition_by=["cell_id"]),
        "kept": TxTable(str(root / "kept")),
    }
    for bid, (lo, hi) in enumerate([(0, 20), (20, 36)]):
        apply_semantic_batch(
            spark, _vecs(spark, lo, hi), bid, "manual_app",
            man["quantizer"], man["index"], man["kept"],
            n_cells=2, threshold=0.95,
        )
        requantize_semantic_index(
            spark, man["quantizer"], man["index"], man["kept"],
            rebuild_id=bid, n_cells=2, threshold=0.95,
        )

    def snap(t, cols):
        return sorted(tuple(r[c] for c in cols) for r in t.read(spark).collect())

    assert snap(env["quantizer"], ["cell_id"]) == snap(man["quantizer"], ["cell_id"])
    got_cv = {
        (r["cell_id"], tuple(r["cv"]))
        for r in env["quantizer"].read(spark).collect()
    }
    man_cv = {
        (r["cell_id"], tuple(r["cv"]))
        for r in man["quantizer"].read(spark).collect()
    }
    assert got_cv == man_cv
    assert snap(env["index"], ["vec_id", "cell_id"]) == snap(
        man["index"], ["vec_id", "cell_id"]
    )
    assert snap(env["kept"], ["vec_id", "cell_id"]) == snap(
        man["kept"], ["vec_id", "cell_id"]
    )
    # the streamed rebuild really happened (overwrites in the history)
    assert "overwrite" in [e["op"] for e in env["index"].history()]

    # unarmed stream: no rebuild ever (no overwrite in any history)
    root2 = tmp_path_factory.mktemp("emb_unarmed")
    env2 = {
        "source": TxTable(str(root2 / "raw"), retain_history=True),
        "quantizer": TxTable(str(root2 / "quant")),
        "index": TxTable(str(root2 / "index"), partition_by=["cell_id"]),
        "kept": TxTable(str(root2 / "kept")),
        "ckpt": str(root2 / "ck"),
    }
    env2["source"].init(_vecs(spark, 0, 20))
    _drain(spark, env2)
    for t in ("quantizer", "index", "kept"):
        assert "overwrite" not in [e["op"] for e in env2[t].history()], t


def test_armed_stream_resumes_half_done_rebuild(spark, env):
    """Review regression (r9): a crash between the rebuild's three
    overwrites suppresses the drift signal (the new quantizer scores
    its own assignments near zero), so resume must key off the
    requant app_txn inconsistency, not the live signal.  Simulate the
    crash (quantizer overwritten under rebuild_id, index/kept not),
    then drain one batch with a threshold the post-crash drift can
    never reach: the sink must still complete the rebuild."""
    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        select_centroids,
    )

    env["source"].init(_vecs(spark, 0, 20))
    _drain(spark, env)  # unarmed first drain builds the state tables

    # simulate requantize crashing right after its quantizer commit
    requant_app = f"semantic_requant:{os.path.abspath(env['index'].root)}"
    vecs = env["index"].read(spark).select("vec_id", "embedding")
    env["quantizer"].overwrite(
        select_centroids(vecs, 2), app_txn=(requant_app, 7)
    )
    # index assignments are now STALE vs the new quantizer, kept too

    env["source"].append(_vecs(spark, 20, 24))
    q = semantic_dedup_stream(
        spark, env["source"], env["quantizer"], env["index"], env["kept"],
        env["ckpt"], n_cells=2, threshold=0.95,
        # absurdly high: the signal alone would NEVER trigger
        requantize_drift_threshold_e6=10**12,
    )
    q.awaitTermination(300)

    # the half-done rebuild 7 completed: all three tables agree on it
    assert env["index"].last_txn_version(requant_app) == 7
    assert env["kept"].last_txn_version(requant_app) == 7
    # and the state equals a full manual rebuild with those centroids
    cents = env["quantizer"].read(spark)
    all_ids = {r["vec_id"] for r in env["index"].read(spark).collect()}
    assert all_ids == set(range(24))
    want_idx = {
        (r["vec_id"], r["cell_id"])
        for r in ivf_assign(
            _vecs(spark, 0, 24), cents
        ).collect()
    }
    got_idx = {
        (r["vec_id"], r["cell_id"]) for r in env["index"].read(spark).collect()
    }
    assert got_idx == want_idx
    want_kept = {
        r["vec_id"]
        for r in semantic_dedup(
            _vecs(spark, 0, 24), threshold=0.95, centroids=cents
        ).collect()
    }
    assert _kept_ids(spark, env) == want_kept
