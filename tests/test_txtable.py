"""TxTable: atomic log-committed parquet table -- merge/delete
partition scoping, crash recovery at every failure point, plain-read
compatibility."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.sources.txtable import (
    ConcurrentWriteError,
    TxTable,
)


def _rows(spark, pairs):
    return spark.createDataFrame(
        [(k, v, ym) for k, v, ym in pairs], "k long, v string, ym string"
    )


@pytest.fixture()
def table(spark, tmp_path):
    tx = TxTable(str(tmp_path / "t"), partition_by=["ym"])
    tx.init(
        _rows(
            spark,
            [(1, "a", "2024-05"), (2, "b", "2024-05"), (3, "c", "2024-06")],
        )
    )
    return tx


def _as_dict(df):
    return {r["k"]: (r["v"], r["ym"]) for r in df.collect()}


def test_init_read_roundtrip(spark, table):
    assert _as_dict(table.read(spark)) == {
        1: ("a", "2024-05"),
        2: ("b", "2024-05"),
        3: ("c", "2024-06"),
    }
    # quiescent table is plain-parquet readable with identical rows
    assert _as_dict(spark.read.parquet(table.root)) == _as_dict(table.read(spark))


def test_overwrite_takes_a_checkpointed_frame_as_its_own_pin(spark, table):
    """A frame already locally checkpointed is written without a second
    pin, even when it reads the very files the overwrite retires: the
    write computes its blocks once, before the commit."""
    from nyc_crash_mapper_etl_script_spark.sources.txtable import _pinned

    fresh = _rows(spark, [(9, "z", "2024-07")])
    assert _pinned(fresh) is not fresh
    own = table.read(spark).where(F.col("k") != 2).localCheckpoint(eager=False)
    assert _pinned(own) is own
    table.overwrite(own)
    want = {1: ("a", "2024-05"), 3: ("c", "2024-06")}
    assert _as_dict(table.read(spark)) == want
    assert _as_dict(own) == want


def test_append_and_merge_semantics(spark, table):
    table.append(_rows(spark, [(4, "d", "2024-06")]))
    # merge: replace k=2, insert k=5
    table.merge(_rows(spark, [(2, "B", "2024-05"), (5, "e", "2024-05")]), "k")
    got = _as_dict(table.read(spark))
    assert got == {
        1: ("a", "2024-05"),
        2: ("B", "2024-05"),
        3: ("c", "2024-06"),
        4: ("d", "2024-06"),
        5: ("e", "2024-05"),
    }
    assert _as_dict(spark.read.parquet(table.root)) == got


def test_merge_rewrites_only_touched_partitions(spark, table):
    before = {f for f in table._live_files() if f.startswith("ym=2024-06")}
    table.merge(_rows(spark, [(2, "B", "2024-05")]), "k")
    after = {f for f in table._live_files() if f.startswith("ym=2024-06")}
    assert before == after  # untouched month's files carried over
    may = {f for f in table._live_files() if f.startswith("ym=2024-05")}
    assert may.isdisjoint(before)


def test_merge_idempotent(spark, table):
    src = _rows(spark, [(2, "B", "2024-05"), (5, "e", "2024-05")])
    table.merge(src, "k")
    first = _as_dict(table.read(spark))
    table.merge(src, "k")
    assert _as_dict(table.read(spark)) == first


def test_delete_by_key(spark, table):
    table.delete(spark.createDataFrame([(2,)], "k long"), "k")
    assert set(_as_dict(table.read(spark))) == {1, 3}
    # june untouched by the delete of a may row
    assert any(f.startswith("ym=2024-06") for f in table._live_files())


def test_crash_before_commit_leaves_old_version(spark, table):
    """Death during staging (before the commit point): reader sees the
    previous version; the re-run converges."""
    src = _rows(spark, [(2, "B", "2024-05")])
    orig_publish = TxTable._publish
    try:
        TxTable._publish = lambda self, entry, **kw: (_ for _ in ()).throw(
            RuntimeError("killed before commit")
        )
        with pytest.raises(RuntimeError, match="killed before commit"):
            table.merge(src, "k")
    finally:
        TxTable._publish = orig_publish
    # staged garbage exists but the committed view is unchanged
    assert _as_dict(table.read(spark))[2] == ("b", "2024-05")
    # a FRESH orphan staging dir survives recovery (it could be a
    # concurrent writer's live staging -- the age guard protects it)
    staging = os.path.join(table.root, "_staging")
    assert os.path.isdir(staging)
    # ... but once stale (backdated mtime) the next recovery sweeps it
    for d in os.listdir(staging):
        os.utime(os.path.join(staging, d), (1, 1))
    # out-of-band mtime surgery, no version bump: the per-version
    # recovery gate skips implicit passes -- force the explicit one
    table._recover(force=True)
    assert not os.path.isdir(staging)
    table.merge(src, "k")  # re-run converges
    assert _as_dict(table.read(spark))[2] == ("B", "2024-05")


def test_crash_after_commit_recovers_forward(spark, table):
    """Death after the commit point but before finalize: the commit
    won; recovery completes the renames and the merged data is
    visible -- including to plain parquet readers afterwards."""
    src = _rows(spark, [(2, "B", "2024-05")])
    orig_finalize = TxTable._finalize
    try:
        TxTable._finalize = lambda self, mapping, removes, **kw: (
            _ for _ in ()
        ).throw(RuntimeError("killed after commit"))
        with pytest.raises(RuntimeError, match="killed after commit"):
            table.merge(src, "k")
    finally:
        TxTable._finalize = orig_finalize
    got = _as_dict(table.read(spark))  # read triggers recovery
    assert got[2] == ("B", "2024-05")
    assert len(got) == 3
    assert _as_dict(spark.read.parquet(table.root)) == got


def test_unpartitioned_table(spark, tmp_path):
    tx = TxTable(str(tmp_path / "u"))
    df = spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    tx.init(df)
    tx.merge(
        spark.createDataFrame([(1, "y"), (9, "z")], "k long, v string"), "k"
    )
    got = {r["k"]: r["v"] for r in tx.read(spark).collect()}
    assert got == {0: "x", 1: "y", 2: "x", 3: "x", 4: "x", 9: "z"}


def test_concurrent_publish_takes_distinct_versions(spark, table):
    v1 = table._publish({"op": "noop", "add": [], "remove": [], "staged": {}})
    v2 = table._publish({"op": "noop", "add": [], "remove": [], "staged": {}})
    assert v2 == v1 + 1


def test_time_travel_and_vacuum(spark, tmp_path):
    tx = TxTable(str(tmp_path / "h"), partition_by=["ym"], retain_history=True)
    v1 = tx.init(_rows(spark, [(1, "a", "2024-05"), (2, "b", "2024-05")]))
    tx.merge(_rows(spark, [(2, "B", "2024-05"), (3, "c", "2024-06")]), "k")
    assert _as_dict(tx.read(spark)) == {
        1: ("a", "2024-05"), 2: ("B", "2024-05"), 3: ("c", "2024-06")
    }
    # as-of the first commit: pre-merge values, no k=3
    assert _as_dict(tx.read(spark, version=v1)) == {
        1: ("a", "2024-05"), 2: ("b", "2024-05")
    }
    # plain readers of the root never see archived files
    assert _as_dict(spark.read.parquet(tx.root)) == _as_dict(tx.read(spark))
    n = tx.vacuum()
    assert n > 0
    with pytest.raises(FileNotFoundError):
        tx.read(spark, version=v1)
    assert _as_dict(tx.read(spark))[2] == ("B", "2024-05")


def test_compact_preserves_rows_and_reduces_files(spark, table):
    for i in range(4):  # bloat with small appends
        table.append(_rows(spark, [(10 + i, "x", "2024-05")]))
    before_rows = _as_dict(table.read(spark))
    before_files = len(table._live_files())
    table.compact(spark)
    assert _as_dict(table.read(spark)) == before_rows
    assert len(table._live_files()) < before_files
    assert _as_dict(spark.read.parquet(table.root)) == before_rows


def test_history_audit_trail(spark, table):
    table.merge(_rows(spark, [(2, "B", "2024-05")]), "k")
    h = table.history()
    assert [e["op"] for e in h] == ["merge", "init"]
    assert h[0]["version"] == 2
    assert h[0]["files_removed"] > 0
    assert all("ym=2024-05" in p for p in h[0]["partitions"])


def test_concurrent_append_bumps_and_merge_rebases_or_raises(
    spark, tmp_path_factory
):
    """Blind appends interleave freely.  A merge whose snapshot went
    stale to a BLIND APPEND rebases under the default
    write_serializable isolation -- both commits land, serial order
    merge-then-append -- while ``isolation="serializable"`` raises
    ConcurrentAppendError with the table untouched by the merge."""
    import pytest as _pytest

    from nyc_crash_mapper_etl_script_spark.sources.txtable import (
        ConcurrentAppendError,
        ConcurrentWriteError,
        TxTable,
    )

    root = str(tmp_path_factory.mktemp("txcc") / "t")
    tx = TxTable(root, partition_by=["ym"])
    df = lambda rows: spark.createDataFrame(rows, "k long, v string, ym string")
    tx.init(df([(1, "a", "2024-01")]))

    # append from a second handle between snapshot and publish:
    # simulate by hijacking _commit to inject a concurrent append
    orig_commit = TxTable._commit

    def racing_commit(self, mapping, removes, op, base_version=None, **kw):
        if op == "merge" and not getattr(self, "_raced", False):
            self._raced = True
            TxTable(root, partition_by=["ym"]).append(df([(9, "z", "2024-02")]))
        return orig_commit(self, mapping, removes, op, base_version, **kw)

    TxTable._commit = racing_commit
    try:
        # write_serializable (default): the blind append commutes --
        # the merge REBASES past it and both commits land
        tx.merge(df([(1, "b", "2024-01")]), "k")
    finally:
        TxTable._commit = orig_commit

    got = sorted(
        (r["k"], r["v"]) for r in tx.read(spark).select("k", "v").collect()
    )
    assert got == [(1, "b"), (9, "z")]
    # both commits in history: merge published AFTER the append it
    # rebased past
    ops = [e["op"] for e in tx.history()]
    assert ops == ["merge", "append", "init"]

    # serializable: the same race is a conflict -- appends a
    # full-table read would have seen must raise, table untouched by
    # the loser
    strict = TxTable(root, partition_by=["ym"], isolation="serializable")
    TxTable._commit = racing_commit
    try:
        with _pytest.raises(ConcurrentAppendError):
            strict.merge(df([(2, "c", "2024-01")]), "k")
    finally:
        TxTable._commit = orig_commit
        strict._raced = False
    got = sorted(
        (r["k"], r["v"]) for r in strict.read(spark).select("k", "v").collect()
    )
    assert got == [(1, "b"), (9, "z"), (9, "z")]  # two racing appends landed

    # ConcurrentAppendError is catchable as the base class
    assert issubclass(ConcurrentAppendError, ConcurrentWriteError)

    # retry against fresh state succeeds even under serializable
    strict._raced = True
    strict.merge(df([(2, "c", "2024-01")]), "k")
    assert strict.read(spark).count() == 4

    # two sequential appends from separate handles both land
    TxTable(root, partition_by=["ym"]).append(df([(3, "d", "2024-01")]))
    TxTable(root, partition_by=["ym"]).append(df([(4, "e", "2024-01")]))
    assert tx.read(spark).count() == 6


@pytest.mark.parametrize("store_kind", ["posix", "fake_object_store"])
def test_two_process_merge_append_race(spark, tmp_path_factory, store_kind):
    """Two SEPARATE Spark sessions (own JVMs, own processes) race
    merges and appends on one table.  A filesystem barrier forces both
    first merges to snapshot the same base version, so exactly one can
    win the put-if-absent publish: the loser MUST see
    ConcurrentWriteError and its retry must converge.  Invariants
    pinned: every version claimed by exactly one commit, log
    contiguous, zero lost updates (each worker's final merge round and
    every append visible).  Parametrized over the commit backend: the
    POSIX link-CAS default AND the object-store-semantics fake
    (conditional PUT, no links, copy+delete moves) -- the protocol's
    guarantees must hold identically on both."""
    import json as _json
    import subprocess
    import sys as _sys

    base = tmp_path_factory.mktemp("txrace")
    root = str(base / "table")
    barrier = base / "barrier"
    barrier.mkdir()

    t = TxTable(root)
    t.init(spark.createDataFrame([(-1, "seed")], "k long, v string"))

    worker = str(
        __import__("pathlib").Path(__file__).parent / "txtable_race_worker.py"
    )
    env = dict(os.environ)
    if store_kind == "fake_object_store":
        env["TX_LOG_STORE"] = "fake"
    procs = {}
    outs = {}
    for wid, peer in [("a", "b"), ("b", "a")]:
        outs[wid] = str(base / f"out_{wid}.json")
        procs[wid] = subprocess.Popen(
            [_sys.executable, worker, root, str(barrier), wid, peer, outs[wid]],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            env=env,
        )
    for wid, p in procs.items():
        assert p.wait(timeout=600) == 0, f"worker {wid} failed"

    results = {w: _json.load(open(outs[w])) for w in ("a", "b")}

    # exactly one winner per version: committed sets are disjoint and
    # together with the init they tile 1..V contiguously
    all_versions = results["a"]["committed"] + results["b"]["committed"]
    assert len(all_versions) == len(set(all_versions)) == 10  # 2*(3+2)
    log_versions = sorted(e["version"] for e in t.history())
    assert log_versions == list(range(1, 12))  # init + 10 commits
    assert sorted(all_versions) == list(range(2, 12))

    # the barrier guarantees the first merges raced: someone lost
    assert results["a"]["conflicts"] + results["b"]["conflicts"] >= 1

    # zero lost updates: final merge round visible for both key
    # ranges, all appends present, seed intact
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows[-1] == "seed"
    for wid, lo in [("a", 0), ("b", 1000)]:
        for j in range(20):
            assert rows[lo + j] == f"{wid}-3", (wid, j, rows.get(lo + j))
    for wid, off in [("a", 0), ("b", 100)]:
        for i in range(2):
            assert rows[5000 + off + i] == f"app-{wid}-{i}"


def test_cross_instance_conflict_surfaces_deterministically(spark, tmp_path):
    """White-box two-handle conflict: handle 1 stages a merge against
    its snapshot, handle 2 commits first, handle 1's publish must
    raise ConcurrentWriteError with the table untouched by it."""
    import pytest as _pytest

    root = str(tmp_path / "t")
    t1 = TxTable(root)
    t1.init(spark.createDataFrame([(1, "a")], "k long, v string"))

    t2 = TxTable(root)
    base = t1._snapshot_version()
    removes = list(t1._live_files())
    merged = (
        t1.read(spark)
        .where("k != 1")
        .unionByName(spark.createDataFrame([(1, "b")], "k long, v string"))
        .localCheckpoint()
    )
    mapping, _ = t1._stage(merged)

    t2.merge(spark.createDataFrame([(2, "c")], "k long, v string"), "k")

    with _pytest.raises(ConcurrentWriteError):
        t1._commit(mapping, removes, "merge", base_version=base)
    rows = {r["k"]: r["v"] for r in t2.read(spark).collect()}
    assert rows == {1: "a", 2: "c"}  # loser's staged merge never landed


def test_schema_evolution_add_column(spark, tmp_path):
    """Add-column evolution: appends may carry new columns (older
    rows read NULL) or omit stored ones (NULL-filled); type changes
    are rejected loudly; merge evolves the same way."""
    root = str(tmp_path / "t")
    t = TxTable(root)
    t.init(spark.createDataFrame([(1, "a")], "k long, v string"))

    # new column arrives
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double"),
        evolve_schema=True,
    )
    rows = {r["k"]: (r["v"], r["score"]) for r in t.read(spark).collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}

    # later batch missing BOTH v and score -> NULL-filled
    t.append(spark.createDataFrame([(3,)], "k long"), evolve_schema=True)
    rows = {r["k"]: (r["v"], r["score"]) for r in t.read(spark).collect()}
    assert rows[3] == (None, None)

    # merge with evolution: update 1, add yet another column
    t.merge(
        spark.createDataFrame(
            [(1, "A", True)], "k long, v string, flagged boolean"
        ),
        "k",
        evolve_schema=True,
    )
    got = {r["k"]: r for r in t.read(spark).collect()}
    assert got[1]["v"] == "A" and got[1]["flagged"] is True
    assert got[2]["flagged"] is None and got[2]["score"] == 9.5

    # type change rejected
    with pytest.raises(ValueError, match="cannot change column"):
        t.append(
            spark.createDataFrame([(4, 5)], "k long, v long"), evolve_schema=True
        )


def test_changes_between_versions(spark, tmp_path):
    """CDC read: insert/delete rows between two versions; updated
    rows appear as delete+insert; untouched partitions never scan."""
    root = str(tmp_path / "t")
    t = TxTable(root, partition_by=["p"], retain_history=True)
    v1 = t.init(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")], "k long, v string, p string"
        )
    )
    v2 = t.append(spark.createDataFrame([(4, "d", "y")], "k long, v string, p string"))
    v3 = t.merge(
        spark.createDataFrame([(2, "B", "x")], "k long, v string, p string"), "k"
    )

    def diff(a, b):
        return sorted(
            (r["k"], r["v"], r["_change_type"])
            for r in t.changes(spark, a, b).collect()
        )

    assert diff(v1, v2) == [(4, "d", "insert")]
    # update: one delete + one insert for key 2; key 1 (same partition,
    # rewritten file) cancels in the multiset diff
    assert diff(v2, v3) == [(2, "B", "insert"), (2, "b", "delete")]
    assert diff(v1, v3) == [
        (2, "B", "insert"),
        (2, "b", "delete"),
        (4, "d", "insert"),
    ]
    # full-range diff equals current state vs v1 read
    assert diff(v1, None) == diff(v1, v3)


def test_compact_zorder_clusters_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER: compact(zorder_by=(x, y)) rewrites the table
    Morton-clustered so per-file min/max boxes bound BOTH dimensions;
    rows, schema, and transactional semantics unchanged."""
    root = str(tmp_path / "z")
    t = TxTable(root)
    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.pmod(F.xxhash64("id"), 1000) / 10.0).alias("x"),
        (F.pmod(F.xxhash64("id", F.lit(1)), 1000) / 10.0).alias("y"),
    )
    t.init(df)
    before = {r["k"] for r in t.read(spark).select("k").collect()}

    t.compact(spark, zorder_by=("x", "y"), zorder_bits=8, n_files=8)

    got = t.read(spark)
    assert {r["k"] for r in got.select("k").collect()} == before
    assert got.columns == ["k", "x", "y"]  # scratch z column dropped

    files = [os.path.join(t.root, f) for f in t._live_files()]
    assert len(files) > 3  # enough files for pruning to mean something
    boxes = (
        spark.read.parquet(*files)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("x").alias("x0"), F.max("x").alias("x1"),
            F.min("y").alias("y0"), F.max("y").alias("y1"),
        )
        .collect()
    )
    # a narrow band on EITHER axis must skip a meaningful share of
    # files -- impossible for a single-axis sort (y boxes would all
    # span the full range)
    def touched(lo, hi, a, b):
        return sum(1 for r in boxes if r[b] >= lo and r[a] <= hi)

    nf = len(boxes)
    assert touched(10.0, 30.0, "x0", "x1") < nf
    assert touched(10.0, 30.0, "y0", "y1") < nf


def test_vacuum_retention_window(spark, tmp_path):
    """vacuum(keep_versions=k) preserves time travel inside the
    trailing window and reclaims everything older."""
    t = TxTable(str(tmp_path / "t"), retain_history=True)
    v1 = t.init(spark.createDataFrame([(1, "a")], "k long, v string"))
    v2 = t.merge(spark.createDataFrame([(1, "b")], "k long, v string"), "k")
    v3 = t.merge(spark.createDataFrame([(1, "c")], "k long, v string"), "k")

    # keep one version of history: v2 readable, v1 vacuumed away
    n = t.vacuum(keep_versions=1)
    assert n > 0
    assert {r["v"] for r in t.read(spark, version=v2).collect()} == {"b"}
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=v1)
    assert {r["v"] for r in t.read(spark).collect()} == {"c"}

    # full vacuum drops the rest of history, current intact
    t.vacuum()
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=v2)
    assert {r["v"] for r in t.read(spark, version=v3).collect()} == {"c"}


def test_partitioned_evolve_then_merge_keeps_logged_schema(spark, tmp_path):
    """ADVICE r3 (high): a partitioned merge reads touched-partition
    files through the LOGGED schema.  After add-column evolution the
    partition holds mixed-schema files; a bare parquet read samples
    one footer, and sampling the narrow pre-evolution file would NULL
    the evolved column in the rewrite AND regress the logged schema
    (the commit records the staged df's schema)."""
    t = TxTable(str(tmp_path / "t"), partition_by=["p"])
    t.init(spark.createDataFrame([(1, "a", "x")], "k long, v string, p string"))
    # evolution: a second file in the SAME partition carries `score`
    t.append(
        spark.createDataFrame(
            [(2, "b", 9.5, "x")], "k long, v string, score double, p string"
        ),
        evolve_schema=True,
    )
    # merge a narrow batch into that partition: both files rewritten
    t.merge(
        spark.createDataFrame([(1, "A", "x")], "k long, v string, p string"),
        "k",
        evolve_schema=True,
    )
    rows = {r["k"]: (r["v"], r["score"]) for r in t.read(spark).collect()}
    assert rows == {1: ("A", None), 2: ("b", 9.5)}
    assert "score" in [f.name for f in t.logged_schema().fields]
    # ... and the delete path reads through the logged schema too
    t.delete(spark.createDataFrame([(1,)], "k long"), "k")
    rows = {r["k"]: (r["v"], r["score"]) for r in t.read(spark).collect()}
    assert rows == {2: ("b", 9.5)}
    assert "score" in [f.name for f in t.logged_schema().fields]


def test_recover_protects_concurrent_writers_fresh_files(spark, table):
    """ADVICE r3 (medium): recovery step 2 must not delete a file a
    concurrent writer just finalized.  Files the log has never
    mentioned are only swept once stale; files a FRESH log read shows
    live are skipped; files the log proves superseded go immediately."""
    # a peer's just-finalized file: present, young, not in OUR stale
    # view -- simulate the worst case by writing a file the log never
    # mentions (a peer between our log snapshot and the walk)
    foreign = os.path.join(table.root, "ym=2024-05", "part-peer-00000.parquet")
    live = table._live_files()
    src = os.path.join(table.root, [f for f in live if "2024-05" in f][0])
    import shutil as _sh

    _sh.copyfile(src, foreign)
    table._recover(force=True)
    assert os.path.exists(foreign)  # young + unlogged -> protected
    # once stale it is debris and the sweep takes it
    os.utime(foreign, (1, 1))
    table._recover(force=True)
    assert not os.path.exists(foreign)
    # a file the log PROVES superseded is retired immediately even
    # when young: merge, then resurrect the replaced file by copying
    # it back -- recovery must remove it again without an age wait
    removed_before = set(table._live_files())
    table.merge(
        spark.createDataFrame([(2, "B", "2024-05")], "k long, v string, ym string"),
        "k",
    )
    superseded = [f for f in removed_before if "2024-05" in f][0]
    resurrected = os.path.join(table.root, superseded)
    assert not os.path.exists(resurrected)  # merge retired it
    any_live = os.path.join(table.root, table._live_files()[0])
    _sh.copyfile(any_live, resurrected)  # young mtime, logged-superseded
    table._recover(force=True)
    assert not os.path.exists(resurrected)


def test_raise_if_concurrent_requires_missing_snapshot_file(spark, table):
    """ADVICE r3 (low): an unrelated error whose message merely
    contains 'does not exist' must NOT translate to
    ConcurrentWriteError just because an unrelated append advanced
    the version -- translation requires a snapshot file to actually
    be gone."""
    base = table._snapshot_version()
    # unrelated append advances the log but removes nothing
    table.append(
        spark.createDataFrame([(9, "z", "2024-07")], "k long, v string, ym string")
    )
    boom = RuntimeError("column `nope` does not exist in schema")
    with pytest.raises(RuntimeError, match="does not exist"):
        table._raise_if_concurrent(boom, base)
    # now a snapshot file really vanishes -> retryable translation
    gone = os.path.join(table.root, table._live_files(version=base)[0])
    os.unlink(gone)
    with pytest.raises(ConcurrentWriteError):
        table._raise_if_concurrent(
            RuntimeError(f"File {gone} does not exist"), base
        )


def test_commit_log_stats_prune_files(spark, tmp_path):
    """Data skipping from the commit log: per-file column min/max is
    harvested from staged footers at commit, and read_pruned scans a
    STRICT file subset for a disjoint range while returning exactly
    read().where(...) rows.  Files without stats stay conservatively
    included."""
    t = TxTable(str(tmp_path / "t"))
    t.init(
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k long, x double"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(1000, 1100)], "k long, x double"
        ).coalesce(1)
    )
    assert len(t._live_files()) == 2
    # stats recorded for both commits
    assert all("stats" in e for e in t._entries())

    # a range inside the second file's span prunes the first file
    assert len(t.pruned_files("x", 1000.0, 1050.0)) == 1
    got = sorted(r["k"] for r in t.read_pruned(spark, "x", 1000.0, 1050.0).collect())
    want = sorted(
        r["k"]
        for r in t.read(spark).where("x >= 1000.0 and x <= 1050.0").collect()
    )
    assert got == want and len(got) == 51
    # the pruned plan reads exactly one file
    assert len(t.read_pruned(spark, "x", 1000.0, 1050.0).inputFiles()) == 1
    # spanning range keeps both; unknown column keeps both (conservative)
    assert len(t.pruned_files("x", 50.0, 1001.0)) == 2
    assert len(t.pruned_files("nope", 0, 1)) == 2
    # fully disjoint range: empty result, zero files
    assert t.read_pruned(spark, "x", 5000.0, 6000.0).count() == 0

    # string stats prune too
    t2 = TxTable(str(tmp_path / "s"))
    t2.init(spark.createDataFrame([("aa",), ("ab",)], "s string").coalesce(1))
    t2.append(spark.createDataFrame([("zx",), ("zz",)], "s string").coalesce(1))
    assert len(t2.pruned_files("s", "z", "zzzz")) == 1


def test_zorder_compact_feeds_commit_log_stats(spark, tmp_path):
    """OPTIMIZE ZORDER + commit-log stats compose: after a Morton
    compact the rewrite commit records per-file min/max for BOTH
    clustered dimensions, so read_pruned skips files on either axis
    from the LOG alone -- the planning-time layer above the footer
    min/max pruning the zorder test already pins."""
    t = TxTable(str(tmp_path / "z"))
    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.pmod(F.xxhash64("id"), 1000) / 10.0).alias("x"),
        (F.pmod(F.xxhash64("id", F.lit(1)), 1000) / 10.0).alias("y"),
    )
    t.init(df)
    t.compact(spark, zorder_by=("x", "y"), zorder_bits=8, n_files=8)
    nf = len(t._live_files())
    assert nf > 3
    # a narrow band on EITHER axis must skip files via log stats only
    assert len(t.pruned_files("x", 10.0, 30.0)) < nf
    assert len(t.pruned_files("y", 10.0, 30.0)) < nf
    # and row parity with the plain filtered read holds
    got = t.read_pruned(spark, "y", 10.0, 30.0).count()
    want = t.read(spark).where("y >= 10.0 and y <= 30.0").count()
    assert got == want > 0


def test_merge_update_column_subset_and_condition(spark, table):
    """UPDATE ... FROM semantics: matched rows take only set_cols
    (other columns keep), the condition gates per row, unmatched
    source rows are IGNORED (no upsert), and only partitions holding
    matched keys rewrite."""
    june_before = {f for f in table._live_files() if f.startswith("ym=2024-06")}
    src = spark.createDataFrame(
        [(1, "A1", "zzz"), (2, "A2", "zzz"), (7, "new", "zzz")],
        "k long, v string, other string",
    )
    # condition: only update rows whose current v != 'b' (so k=2 keeps)
    table.merge_update(
        src, "k", set_cols=["v"], condition=F.col("v") != "b"
    )
    got = _as_dict(table.read(spark))
    assert got[1] == ("A1", "2024-05")  # updated
    assert got[2] == ("b", "2024-05")   # condition blocked
    assert got[3] == ("c", "2024-06")   # unmatched partition untouched
    assert 7 not in got                 # UPDATE, not upsert
    # june files carried over untouched (no matched key there)
    june_after = {f for f in table._live_files() if f.startswith("ym=2024-06")}
    assert june_before == june_after
    # unconditional update of both may rows
    table.merge_update(src, "k", set_cols=["v"])
    got = _as_dict(table.read(spark))
    assert got[1] == ("A1", "2024-05") and got[2] == ("A2", "2024-05")


def test_delete_where_predicate_and_null_semantics(spark, tmp_path):
    """Predicate DELETE: only provably-TRUE rows die (NULL condition
    keeps, per SQL DELETE); untouched partitions carry over; a
    no-match predicate is a no-op commit-wise."""
    t = TxTable(str(tmp_path / "t"), partition_by=["ym"])
    t.init(
        spark.createDataFrame(
            [
                (1, 10, "2024-05"),
                (2, None, "2024-05"),  # NULL score: condition NULL
                (3, 99, "2024-06"),
                (4, 1, "2024-07"),
            ],
            "k long, score int, ym string",
        )
    )
    july_before = {f for f in t._live_files() if f.startswith("ym=2024-07")}
    v = t.delete_where(spark, F.col("score") >= 10)
    got = {r["k"] for r in t.read(spark).collect()}
    assert got == {2, 4}  # 1 and 3 deleted; NULL row kept
    july_after = {f for f in t._live_files() if f.startswith("ym=2024-07")}
    assert july_before == july_after  # untouched partition carried over
    # no-match predicate: version unchanged
    assert t.delete_where(spark, F.col("score") > 1000) == v


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE: the table returns to a prior version's exact content
    via a NEW auditable commit; history is append-only, time travel
    across the restore point keeps working, and plain parquet readers
    see the restored state."""
    t = TxTable(str(tmp_path / "t"), partition_by=["ym"], retain_history=True)
    v1 = t.init(_rows(spark, [(1, "a", "2024-05"), (2, "b", "2024-06")]))
    v2 = t.merge(_rows(spark, [(2, "B", "2024-06")]), "k")
    t.append(_rows(spark, [(3, "c", "2024-07")]))

    t.restore(v1)
    assert _as_dict(t.read(spark)) == {1: ("a", "2024-05"), 2: ("b", "2024-06")}
    assert _as_dict(spark.read.parquet(t.root)) == _as_dict(t.read(spark))
    assert [e["op"] for e in t.history()][:2] == ["restore", "append"]
    # time travel to the pre-restore state still works
    assert _as_dict(t.read(spark, version=v2))[2] == ("B", "2024-06")
    # and restoring forward again (to v2's state) also works
    t.restore(v2)
    assert _as_dict(t.read(spark))[2] == ("B", "2024-06")

    with pytest.raises(ValueError, match="never been committed"):
        t.restore(99)


def test_restore_without_history_fails_loudly(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    v1 = t.init(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.merge(spark.createDataFrame([(1, "b")], "k long, v string"), "k")
    with pytest.raises(FileNotFoundError, match="archive"):
        t.restore(v1)


def test_time_travel_mixed_root_and_archive_files(spark, tmp_path):
    """A snapshot whose files now straddle the root and the archive
    (one partition rewritten since, another still live) must read
    correctly -- a single-basePath read would raise
    CONFLICTING_DIRECTORY_STRUCTURES; _read_resolved groups by
    resolution base."""
    t = TxTable(str(tmp_path / "t"), partition_by=["ym"], retain_history=True)
    v1 = t.init(_rows(spark, [(1, "a", "2024-05"), (2, "b", "2024-06")]))
    t.merge(_rows(spark, [(2, "B", "2024-06")]), "k")  # archives 06 only
    # v1's 05 file is still LIVE, its 06 file is ARCHIVED
    assert _as_dict(t.read(spark, version=v1)) == {
        1: ("a", "2024-05"),
        2: ("b", "2024-06"),
    }
    # the CDC diff across that boundary also mixes bases
    diff = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in t.changes(spark, v1).collect()
    )
    assert diff == [(2, "B", "insert"), (2, "b", "delete")]


def test_new_rmw_ops_conflict_or_rebase_on_concurrent_commit(spark, tmp_path):
    """RMW ops racing a blind append, split by read scope: overwrite
    and restore assert the COMPLETE final table content, so the race
    is a conflict (ConcurrentAppendError, loser leaves no trace);
    merge_update and delete_where are predicate RMW, so the identical
    race REBASES under the default write_serializable isolation and
    both commits land."""
    from nyc_crash_mapper_etl_script_spark.sources.txtable import (
        ConcurrentAppendError,
    )

    root = str(tmp_path / "t")
    t = TxTable(root, retain_history=True)
    t.init(spark.createDataFrame([(1, "a")], "k long, v string"))

    def race_then(op, conflicts):
        orig = TxTable._publish

        def racing_publish(self, entry, base_version=None, **kw):
            TxTable._publish = orig  # race exactly once
            TxTable(root).append(
                spark.createDataFrame([(9, "z")], "k long, v string")
            )
            return orig(self, entry, base_version=base_version, **kw)

        TxTable._publish = racing_publish
        try:
            if conflicts:
                with pytest.raises(ConcurrentAppendError):
                    op()
            else:
                op()
        finally:
            TxTable._publish = orig

    race_then(lambda: t.overwrite(
        spark.createDataFrame([(5, "o")], "k long, v string")), True)
    race_then(lambda: t.restore(1), True)
    # two conflicted losers left no trace; their racing appends landed
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [(1, "a"), (9, "z"), (9, "z")]

    race_then(lambda: t.merge_update(
        spark.createDataFrame([(1, "U")], "k long, v string"), "k", ["v"]),
        False)
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [(1, "U"), (9, "z"), (9, "z"), (9, "z")]

    race_then(lambda: t.delete_where(spark, F.col("k") == 1), False)
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [(9, "z")] * 4


def test_check_constraints_gate_writes(spark, tmp_path):
    """CHECK constraints: violating writes fail BEFORE anything
    commits (table untouched), NULL passes (SQL CHECK semantics),
    the spec persists in the log so fresh handles enforce it, and a
    partial-column merge_update source skips unresolvable checks."""
    t = TxTable(
        str(tmp_path / "t"),
        constraints={"pos_score": "score >= 0", "has_key": "k IS NOT NULL"},
    )
    t.init(
        spark.createDataFrame(
            [(1, 5.0), (2, None)], "k long, score double"  # NULL passes
        )
    )
    with pytest.raises(ValueError, match="pos_score"):
        t.append(spark.createDataFrame([(3, -1.0)], "k long, score double"))
    assert t.read(spark).count() == 2  # nothing committed
    with pytest.raises(ValueError, match="has_key"):
        t.append(
            spark.createDataFrame([(None, 1.0)], "k long, score double")
        )
    # fresh handle without the argument inherits the spec from the log
    fresh = TxTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="pos_score"):
        fresh.merge(
            spark.createDataFrame([(1, -9.0)], "k long, score double"), "k"
        )
    # valid writes proceed through every op
    fresh.merge(spark.createDataFrame([(1, 7.0)], "k long, score double"), "k")
    fresh.overwrite(
        spark.createDataFrame([(1, 7.0), (4, 0.0)], "k long, score double")
    )
    # partial-column update source: validation happens on the merged
    # result (full columns), so a no-op update still passes
    fresh.merge_update(
        spark.createDataFrame([(4,)], "k long"), "k", set_cols=[]
    )
    assert {r["k"] for r in fresh.read(spark).collect()} == {1, 4}


def test_merge_update_constraints_validate_merged_result(spark, tmp_path):
    """merge_update CHECK semantics: (a) a violating source row that
    is UNMATCHED or condition-false never applies, so it must not
    abort; (b) a constraint spanning a set_col and an UNTOUCHED
    column is enforced against the merged row, so an update that
    violates it through the combination aborts."""
    from pyspark.sql import functions as F

    t = TxTable(
        str(tmp_path / "t"),
        constraints={
            "pos_score": "score >= 0",
            "cap": "score <= cap_col",  # spans set_col + untouched col
        },
    )
    t.init(
        spark.createDataFrame(
            [(1, 5.0, 10.0), (2, 3.0, 4.0)],
            "k long, score double, cap_col double",
        )
    )
    # violating value on an UNMATCHED key (99): ignored, commit lands
    t.merge_update(
        spark.createDataFrame(
            [(1, 6.0), (99, -50.0)], "k long, score double"
        ),
        "k",
        set_cols=["score"],
    )
    assert {r["k"]: r["score"] for r in t.read(spark).collect()} == {
        1: 6.0,
        2: 3.0,
    }
    # violating value gated out by condition=false: ignored
    t.merge_update(
        spark.createDataFrame([(2, -7.0)], "k long, score double"),
        "k",
        set_cols=["score"],
        condition=F.col("__src_score") > 0,
    )
    assert {r["k"]: r["score"] for r in t.read(spark).collect()} == {
        1: 6.0,
        2: 3.0,
    }
    # cross-column violation only visible on the MERGED row:
    # score=7 passes pos_score but breaks score <= cap_col (cap 4.0)
    with pytest.raises(ValueError, match="cap"):
        t.merge_update(
            spark.createDataFrame([(2, 7.0)], "k long, score double"),
            "k",
            set_cols=["score"],
        )
    assert {r["k"]: r["score"] for r in t.read(spark).collect()} == {
        1: 6.0,
        2: 3.0,
    }  # nothing committed


def test_two_process_update_delete_race(spark, tmp_path_factory):
    """Round-4 RMW ops under REAL cross-JVM contention: two separate
    Spark sessions race merge_update rounds on disjoint key halves
    plus a delete_where each on their own tombstone range, with a
    filesystem barrier forcing the first snapshots to collide.
    Invariants: contiguous log with one winner per version, at least
    one surfaced conflict, both halves at their final round values,
    both tombstone ranges gone, untouched rows intact."""
    import json as _json
    import subprocess
    import sys as _sys

    base = tmp_path_factory.mktemp("txrace_upd")
    root = str(base / "table")
    barrier = base / "barrier"
    barrier.mkdir()

    seed = (
        [(j, "seed") for j in range(20)]
        + [(1000 + j, "seed") for j in range(20)]
        + [(8000 + j, "tomb") for j in range(5)]
        + [(8100 + j, "tomb") for j in range(5)]
        + [(-1, "keep")]
    )
    t = TxTable(root)
    t.init(spark.createDataFrame(seed, "k long, v string"))

    worker = str(
        __import__("pathlib").Path(__file__).parent / "txtable_race_worker.py"
    )
    procs, outs = {}, {}
    for wid, peer in [("a", "b"), ("b", "a")]:
        outs[wid] = str(base / f"out_{wid}.json")
        procs[wid] = subprocess.Popen(
            [_sys.executable, worker, root, str(barrier), wid, peer,
             outs[wid], "update"],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
    for wid, p in procs.items():
        assert p.wait(timeout=600) == 0, f"worker {wid} failed"

    results = {w: _json.load(open(outs[w])) for w in ("a", "b")}
    all_versions = results["a"]["committed"] + results["b"]["committed"]
    assert len(all_versions) == len(set(all_versions)) == 8  # 2*(3+1)
    log_versions = sorted(e["version"] for e in t.history())
    assert log_versions == list(range(1, 10))  # init + 8 commits
    assert results["a"]["conflicts"] + results["b"]["conflicts"] >= 1

    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows[-1] == "keep"
    for wid, lo in [("a", 0), ("b", 1000)]:
        for j in range(20):
            assert rows[lo + j] == f"{wid}-3", (wid, j, rows.get(lo + j))
    assert not any(8000 <= k <= 8104 for k in rows)


def test_two_process_overwrite_race(spark, tmp_path_factory):
    """Racing whole-table overwrites across two JVMs: one winner per
    version, contiguous log, and the final table is EXACTLY the
    content of whichever worker committed the highest version --
    last-committed-writer-wins with no interleaved rows."""
    import json as _json
    import subprocess
    import sys as _sys

    base = tmp_path_factory.mktemp("txrace_ow")
    root = str(base / "table")
    barrier = base / "barrier"
    barrier.mkdir()
    t = TxTable(root)
    t.init(spark.createDataFrame([(-1, "seed")], "k long, v string"))

    worker = str(
        __import__("pathlib").Path(__file__).parent / "txtable_race_worker.py"
    )
    procs, outs = {}, {}
    for wid, peer in [("a", "b"), ("b", "a")]:
        outs[wid] = str(base / f"out_{wid}.json")
        procs[wid] = subprocess.Popen(
            [_sys.executable, worker, root, str(barrier), wid, peer,
             outs[wid], "overwrite"],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
    for wid, p in procs.items():
        assert p.wait(timeout=600) == 0, f"worker {wid} failed"

    results = {w: _json.load(open(outs[w])) for w in ("a", "b")}
    all_versions = results["a"]["committed"] + results["b"]["committed"]
    assert len(all_versions) == len(set(all_versions)) == 4
    assert sorted(e["version"] for e in t.history()) == list(range(1, 6))
    assert results["a"]["conflicts"] + results["b"]["conflicts"] >= 1

    winner = max(
        ("a", "b"), key=lambda w: max(results[w]["committed"])
    )
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert set(rows) == set(range(10))  # seed overwritten away
    assert all(v.startswith(f"ow-{winner}-") for v in rows.values())
    assert len({v for v in rows.values()}) == 1  # one atomic snapshot


def test_two_process_restore_vs_append_race(spark, tmp_path_factory):
    """restore(1) racing blind appends across two JVMs: restores are
    RMW (lose cleanly and retry), appends never conflict, and the
    final state is exactly v1's content plus the appends whose
    commit version is GREATER than the last restore's -- the
    append-or-wipe order is reconstructible from the version
    numbers, so the outcome is fully checkable despite the race."""
    import json as _json
    import subprocess
    import sys as _sys

    base = tmp_path_factory.mktemp("txrace_rs")
    root = str(base / "table")
    barrier = base / "barrier"
    barrier.mkdir()
    t = TxTable(root, retain_history=True)
    t.init(spark.createDataFrame([(1, "v1"), (2, "v1")], "k long, v string"))

    worker = str(
        __import__("pathlib").Path(__file__).parent / "txtable_race_worker.py"
    )
    procs, outs = {}, {}
    for wid, peer in [("a", "b"), ("b", "a")]:
        outs[wid] = str(base / f"out_{wid}.json")
        procs[wid] = subprocess.Popen(
            [_sys.executable, worker, root, str(barrier), wid, peer,
             outs[wid], "restore"],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
    for wid, p in procs.items():
        assert p.wait(timeout=600) == 0, f"worker {wid} failed"

    results = {w: _json.load(open(outs[w])) for w in ("a", "b")}
    all_versions = results["a"]["committed"] + results["b"]["committed"]
    assert len(all_versions) == len(set(all_versions)) == 6
    assert sorted(e["version"] for e in t.history()) == list(range(1, 8))

    last_restore = max(results["a"]["committed"])
    surviving = {
        7000 + i
        for i, v in enumerate(results["b"]["committed"])
        if v > last_restore
    }
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows[1] == "v1" and rows[2] == "v1"
    assert {k for k in rows if k >= 7000} == surviving


# -- partition-value-pruned reads (read_partitions, r7) ---------------------


def test_read_partitions_strict_subset_and_parity(spark, tmp_path):
    """read_partitions lists/opens only the matching hive dirs (pure
    log arithmetic -- partition_files is checkable without Spark) and
    returns exactly read().where(isin)."""
    t = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    df = spark.createDataFrame(
        [(i, i % 4, f"r{i}") for i in range(40)], "k long, grp int, v string"
    )
    t.init(df)
    t.append(
        spark.createDataFrame([(100, 1, "x"), (101, 3, "y")],
                              "k long, grp int, v string")
    )
    all_files = set(t._live_files())
    pruned = set(t.partition_files("grp", [1]))
    assert pruned and pruned < all_files
    assert all(f.startswith(f"grp=1{os.sep}") for f in pruned)
    got = {tuple(r) for r in t.read_partitions(spark, "grp", [1, 3]).collect()}
    want = {
        tuple(r)
        for r in t.read(spark).where(F.col("grp").isin([1, 3])).collect()
    }
    assert got == want and got


def test_read_partitions_edge_cases(spark, tmp_path):
    """Non-partition column raises; no-match returns a TYPED empty
    frame; NULL partition values round-trip through the hive
    sentinel."""
    t = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    t.init(
        spark.createDataFrame(
            [(1, "a", "x"), (2, None, "y")], "k long, grp string, v string"
        )
    )
    with pytest.raises(ValueError, match="not a partition column"):
        t.partition_files("v", ["x"])
    empty = t.read_partitions(spark, "grp", ["zzz"])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "grp", "v"]
    nulls = t.read_partitions(spark, "grp", [None])
    assert {r["k"] for r in nulls.collect()} == {2}
    assert {r["k"] for r in t.read_partitions(spark, "grp", ["a", None]).collect()} == {1, 2}


# -- partition_by log persistence + mixed-layout hardening (r8) -------------


def test_partition_by_persisted_and_inherited_by_bare_handle(spark, tmp_path):
    """The layout spec rides in every commit entry (like cluster_by):
    a bare TxTable(root) handle inherits it, so its compact() keeps
    writing hive dirs instead of silently flattening the layout out
    from under partition_files (r7 ADVICE high)."""
    t = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    t.init(
        spark.createDataFrame(
            [(i, i % 3, f"r{i}") for i in range(30)],
            "k long, grp int, v string",
        )
    )
    bare = TxTable(str(tmp_path / "t"))
    assert bare.partition_by == ["grp"]
    bare.compact(spark, n_files=1)
    assert all(
        f"grp=" in f for f in bare._live_files()
    ), bare._live_files()
    # pruning still strict + correct after the bare-handle rewrite
    pruned = set(bare.partition_files("grp", [1]))
    assert pruned and pruned < set(bare._live_files())
    got = {r["k"] for r in bare.read_partitions(spark, "grp", [1]).collect()}
    assert got == {i for i in range(30) if i % 3 == 1}


def test_partition_by_mismatch_and_setter_guards(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    t.init(spark.createDataFrame([(1, 2)], "k long, grp int"))
    # constructor value contradicting the logged spec raises on use
    wrong = TxTable(str(tmp_path / "t"), partition_by=["k"])
    with pytest.raises(ValueError, match="partition_by mismatch"):
        wrong.partition_by
    # setter refuses to contradict the logged layout...
    same = TxTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="partition_by mismatch"):
        same.partition_by = ["k"]
    # ...accepts the matching value, and refuses on a clustered table
    same.partition_by = ["grp"]
    assert same.partition_by == ["grp"]
    cl = TxTable(
        str(tmp_path / "c"), cluster_by=(["k"], ["k"], 2)
    )
    with pytest.raises(ValueError, match="mutually exclusive"):
        cl.partition_by = ["grp"]
    # ...and an explicit EMPTY assignment against a live layout is a
    # layout change, not a no-op: fail loud, point at the audited
    # migration paths (r8 ADVICE: `value or current` silently kept
    # the logged spec)
    with pytest.raises(ValueError, match="repartition_layout"):
        same.partition_by = []
    assert same.partition_by == ["grp"]  # refused assignment left state alone
    # empty-to-empty stays a no-op
    fresh = TxTable(str(tmp_path / "f"))
    fresh.partition_by = []
    assert fresh.partition_by == []


def test_merge_empty_source_is_noop_on_mixed_layout(spark, tmp_path):
    """A merge whose source is EMPTY touches no partition, so it must
    not commit -- previously _scoped_removes still folded every
    mixed-layout flat file into the rewrite, and a no-op merge on a
    pre-upgrade table performed a full O(flat-files) migration plus a
    new version (r8 ADVICE)."""
    df = spark.createDataFrame(
        [(i, i % 2, f"r{i}") for i in range(6)], "k long, grp int, v string"
    )
    flat = TxTable(str(tmp_path / "t"))
    flat.init(df)  # flat era: files carry no grp=
    part = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    before_files = sorted(part._live_files())
    before_version = part._snapshot_version()
    v = part.merge(
        spark.createDataFrame([], "k long, grp int, v string"), "k"
    )
    assert v == before_version  # no commit published
    assert sorted(part._live_files()) == before_files  # zero file churn
    got = sorted(r["k"] for r in part.read(spark).collect())
    assert got == list(range(6))


def test_read_resolved_empty_rels_returns_typed_empty(spark, tmp_path):
    """_read_resolved with no files and a schema yields a typed empty
    frame instead of dying as NoneType.select; without a schema the
    invariant violation is a loud ValueError (r8 ADVICE)."""
    from pyspark.sql.types import StructType

    t = TxTable(str(tmp_path / "t"))
    t.init(spark.createDataFrame([(1, "a")], "k long, v string"))
    schema = t.logged_schema()
    empty = t._read_resolved(spark, [], schema)
    assert empty.count() == 0
    assert isinstance(empty.schema, StructType)
    assert [f.name for f in empty.schema.fields] == ["k", "v"]
    with pytest.raises(ValueError, match="no files and no schema"):
        t._read_resolved(spark, [], None)


def test_mixed_layout_raises_and_read_falls_back(spark, tmp_path):
    """Live files WITHOUT the col= component (pre-upgrade layout) must
    never be silently skipped: partition_files raises, read_partitions
    degrades to a full correct scan with a warning (r7 ADVICE high)."""
    import warnings

    df = spark.createDataFrame(
        [(i, i % 3, f"r{i}") for i in range(12)], "k long, grp int, v string"
    )
    # written flat by a pre-upgrade handle...
    flat = TxTable(str(tmp_path / "t"))
    flat.init(df)
    # ...then appended partitioned (the upgrade boundary): mixed layout
    part = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    part.append(
        spark.createDataFrame([(100, 1, "x")], "k long, grp int, v string")
    )
    from nyc_crash_mapper_etl_script_spark.sources.txtable import (
        MixedPartitionLayoutError,
    )

    with pytest.raises(MixedPartitionLayoutError, match="lack"):
        part.partition_files("grp", [1])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = {
            r["k"] for r in part.read_partitions(spark, "grp", [1]).collect()
        }
    assert any("full scan" in str(x.message) for x in w)
    want = {
        r["k"]
        for r in part.read(spark).where(F.col("grp") == 1).collect()
    }
    assert got == want and 100 in got and 1 in got


def test_partition_scoped_rmw_covers_flat_files(spark, tmp_path):
    """merge/merge_update/delete/delete_where scope their rewrite by
    hive prefix; a flat live file (pre-upgrade layout) matches no
    prefix, so without the layout fallback its doomed/stale rows
    silently survive.  _scoped_removes folds every
    not-fully-hive-complete live file into the rewrite -- results
    equal the unpartitioned table's, and the rewrite migrates the
    flat file into the clean layout as a side effect."""
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(12)],
        "k long, grp int, score double",
    )
    flat = TxTable(str(tmp_path / "t"))
    flat.init(df)  # no spec logged: files written flat
    part = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    part.append(
        spark.createDataFrame([(100, 1, 1.0)], "k long, grp int, score double")
    )

    # delete_where must kill grp==1 rows INSIDE the flat file too
    part.delete_where(spark, F.col("grp") == 1)
    got = {r["k"] for r in part.read(spark).collect()}
    assert got == {i for i in range(12) if i % 3 != 1}
    # the rewrite migrated every surviving row into hive dirs
    assert all("grp=" in f for f in part._live_files()), part._live_files()

    # rebuild the mixed state and exercise merge_update + merge
    flat2 = TxTable(str(tmp_path / "u"))
    flat2.init(df)
    part2 = TxTable(str(tmp_path / "u"), partition_by=["grp"])
    part2.merge_update(
        spark.createDataFrame([(4, 99.0)], "k long, score double"),
        "k",
        set_cols=["score"],
    )
    rows = {r["k"]: r["score"] for r in part2.read(spark).collect()}
    assert rows[4] == 99.0  # row 4 lived in the flat file
    # upsert of an existing flat-file key must not duplicate it
    part2.merge(
        spark.createDataFrame(
            [(5, 2, 55.0)], "k long, grp int, score double"
        ),
        "k",
    )
    ks = [r["k"] for r in part2.read(spark).collect()]
    assert ks.count(5) == 1
    assert {
        r["score"] for r in part2.read(spark).where(F.col("k") == 5).collect()
    } == {55.0}
    # delete-by-key reaching into a flat file
    flat3 = TxTable(str(tmp_path / "v"))
    flat3.init(df)
    part3 = TxTable(str(tmp_path / "v"), partition_by=["grp"])
    part3.delete(spark.createDataFrame([(7,)], "k long"), "k")
    assert 7 not in {r["k"] for r in part3.read(spark).collect()}
    assert len({r["k"] for r in part3.read(spark).collect()}) == 11


def test_rmw_over_mixed_layout_restores_strict_pruning(spark, tmp_path):
    """A partition-scoped rewrite that folds the flat files in
    (_scoped_removes) leaves a clean all-hive layout: the very next
    partition_files call prunes strictly again with no
    repartition_layout needed -- the RMW doubles as incremental
    migration."""
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(12)],
        "k long, grp int, score double",
    )
    TxTable(str(tmp_path / "t")).init(df)
    part = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    from nyc_crash_mapper_etl_script_spark.sources.txtable import (
        MixedPartitionLayoutError,
    )

    with pytest.raises(MixedPartitionLayoutError):
        part.partition_files("grp", [0])
    part.delete_where(spark, F.col("grp") == 1)
    # strict pruning is back: no raise, proper subset, right rows
    pruned = set(part.partition_files("grp", [0]))
    assert pruned and pruned < set(part._live_files())
    got = {r["k"] for r in part.read_partitions(spark, "grp", [0]).collect()}
    assert got == {0, 3, 6, 9}


def test_reads_across_full_layout_history(spark, tmp_path):
    """Every as-of read stays correct across the table's WHOLE layout
    history (flat era -> grp= era -> v= era, two repartitions): each
    snapshot's partition values come from whatever layout its files
    were written under -- the v2 read is a genuine multi-colset union
    (archived flat + archived grp= files)."""
    schema = "k long, grp int, v string"
    t = TxTable(str(tmp_path / "t"), retain_history=True)
    t.init(spark.createDataFrame([(1, 0, "a")], schema))  # v1: flat
    part = TxTable(str(tmp_path / "t"), partition_by=["grp"],
                   retain_history=True)
    part.append(spark.createDataFrame([(2, 1, "b")], schema))  # v2: mixed
    part.repartition_layout(spark, ["v"])   # v3: all v=
    part.repartition_layout(spark, ["grp"])  # v4: all grp=

    def rows(frame):
        return {(r["k"], r["grp"], r["v"]) for r in frame.collect()}

    a, b = (1, 0, "a"), (2, 1, "b")
    h = TxTable(str(tmp_path / "t"), retain_history=True)
    assert h.partition_by == ["grp"]  # newest logged spec wins
    assert rows(h.read(spark, version=1)) == {a}
    assert rows(h.read(spark, version=2)) == {a, b}  # flat+grp= union
    assert rows(h.read(spark, version=3)) == {a, b}  # archived v= files
    assert rows(h.read(spark)) == {a, b}
    # CDC spanning both repartitions: pure rewrites cancel exactly
    ch = h.changes(spark, 2, 4)
    ins = rows(ch.where(F.col("_change_type") == "insert").drop(
        "_change_type", "_commit_version"))
    del_ = rows(ch.where(F.col("_change_type") == "delete").drop(
        "_change_type", "_commit_version"))
    assert ins == del_


def test_restore_across_repartition_layout(spark, tmp_path):
    """restore() must roll back the LAYOUT along with the data: the
    re-staged files carry the old spec's hive components, so the
    restore commit validates against and re-logs the spec as of the
    target version -- and a restore to a PRE-layout version logs []
    so bare handles stop inheriting the later spec."""
    schema = "k long, grp int, v string"
    df = spark.createDataFrame(
        [(i, i % 2, f"v{i % 3}") for i in range(6)], schema
    )
    t = TxTable(str(tmp_path / "t"), partition_by=["grp"],
                retain_history=True)
    t.init(df)                              # v1: grp= layout
    t.repartition_layout(spark, ["v"])      # v2: v= layout
    t.restore(1)                            # v3: back to grp=

    def rows(frame):
        return {(r["k"], r["grp"], r["v"]) for r in frame.collect()}

    want = rows(spark.createDataFrame(df.collect(), schema))
    h = TxTable(str(tmp_path / "t"), retain_history=True)
    assert h.partition_by == ["grp"]  # restored spec is the newest
    assert rows(h.read(spark)) == want
    assert all("grp=" in f for f in h._live_files())
    # strict pruning works against the restored layout
    pruned = set(h.partition_files("grp", [1]))
    assert pruned and pruned < set(h._live_files())

    # flat-era restore: a table that gained its layout later rolls
    # back to [] and bare handles see the flat spec, not the stale one
    u = TxTable(str(tmp_path / "u"), retain_history=True)
    u.init(df)                               # v1: flat, no spec logged
    up = TxTable(str(tmp_path / "u"), partition_by=["grp"],
                 retain_history=True)
    up.repartition_layout(spark, ["grp"])    # v2: grp= layout logged
    up.restore(1)                            # v3: flat again
    bare = TxTable(str(tmp_path / "u"), retain_history=True)
    assert bare.partition_by == []
    assert rows(bare.read(spark)) == want


def test_repartition_layout_keeps_new_spec_after_post_publish_failure(
    spark, tmp_path, monkeypatch
):
    """If the repartition COMMIT published and only the post-publish
    finalize failed (a _recover()-able state), the handle must keep
    the NEW spec -- rolling back in memory while the log's newest
    entry says the new layout would recreate the contradiction from
    the other side."""
    t = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    t.init(spark.createDataFrame(
        [(1, 2, "x"), (2, 3, "y")], "k long, grp int, v string"
    ))
    real_finalize = t._finalize

    def boom(mapping, removes, **kw):
        real_finalize(mapping, removes, **kw)
        raise OSError("simulated post-publish failure")

    monkeypatch.setattr(t, "_finalize", boom)
    with pytest.raises(OSError):
        t.repartition_layout(spark, ["v"])
    monkeypatch.undo()
    assert t.partition_by == ["v"]  # matches the published log
    assert TxTable(str(tmp_path / "t")).partition_by == ["v"]


def test_time_travel_and_changes_across_repartition_layout(spark, tmp_path):
    """Archived old-layout files carry the OLD partition column in
    their PATH and the new one in their data: a time-travel read or a
    CDC diff spanning repartition_layout must recover both, not
    NULL-fill the old column (files group by the col= set their path
    actually carries, not the current spec)."""
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i % 2}") for i in range(12)],
        "k long, grp int, v string",
    )
    t = TxTable(str(tmp_path / "t"), partition_by=["grp"], retain_history=True)
    t.init(df)
    t.repartition_layout(spark, ["v"])

    def rows(frame):
        return {(r["k"], r["grp"], r["v"]) for r in frame.collect()}

    want = rows(spark.createDataFrame(df.collect(), df.schema))
    # as-of the pre-repartition version: grp comes from the ARCHIVED
    # path, v from the archived file's data
    assert rows(t.read(spark, version=1)) == want
    assert rows(t.read(spark)) == want
    # CDC across the layout change: the rewrite is a no-op row-wise
    ch = t.changes(spark, 1, 2)
    assert {r["_change_type"] for r in ch.collect()} <= {"insert", "delete"}
    ins = rows(ch.where(F.col("_change_type") == "insert").drop(
        "_change_type", "_commit_version"))
    del_ = rows(ch.where(F.col("_change_type") == "delete").drop(
        "_change_type", "_commit_version"))
    assert ins == del_  # pure rewrite: signed feed cancels exactly


def test_repartition_layout_restores_spec_on_commit_failure(
    spark, tmp_path, monkeypatch
):
    t = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    t.init(spark.createDataFrame([(1, 2, "x")], "k long, grp int, v string"))

    def boom(*a, **kw):
        raise ConcurrentWriteError("simulated lost race")

    monkeypatch.setattr(t, "_commit", boom)
    with pytest.raises(ConcurrentWriteError):
        t.repartition_layout(spark, ["v"])
    monkeypatch.undo()
    # the handle must still carry the OLD (logged) spec, not the new
    assert t.partition_by == ["grp"]
    t.append(spark.createDataFrame([(2, 3, "y")], "k long, grp int, v string"))
    assert all("grp=" in f for f in t._live_files())


def test_repartition_layout_migrates_mixed_to_clean(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, i % 3, f"r{i}") for i in range(12)], "k long, grp int, v string"
    )
    flat = TxTable(str(tmp_path / "t"))
    flat.init(df)
    part = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    part.append(
        spark.createDataFrame([(100, 1, "x")], "k long, grp int, v string")
    )
    def rows(df):
        return {frozenset(r.asDict().items()) for r in df.collect()}

    before = rows(part.read(spark))
    part.repartition_layout(spark, ["grp"])
    # clean layout: strict pruning works again, rows unchanged
    pruned = set(part.partition_files("grp", [1]))
    assert pruned and pruned < set(part._live_files())
    assert rows(part.read(spark)) == before
    # a fresh bare handle inherits the NEWEST logged spec
    assert TxTable(str(tmp_path / "t")).partition_by == ["grp"]
    # and the audited rewrite is the one path that may CHANGE layout
    part2 = TxTable(str(tmp_path / "t"))
    part2.repartition_layout(spark, ["v"])
    assert TxTable(str(tmp_path / "t")).partition_by == ["v"]
    assert rows(part2.read(spark)) == before


def test_multi_column_partition_pruning(spark, tmp_path):
    """Dict-conjunction pruning on a 2-column layout: partition_files
    keeps exactly the files under BOTH matching components (strict
    file subset), read_partitions equals the 2-predicate filtered
    read, NULL values match via the hive sentinel, and a file missing
    EITHER component trips the mixed-layout degrade (r8 VERDICT:
    a (source, fp_pfx)-style layout must prune on both axes)."""
    import warnings

    from nyc_crash_mapper_etl_script_spark.sources.txtable import (
        MixedPartitionLayoutError,
    )

    rows = [
        (i, ["s1", "s2", None][i % 3], f"p{i % 2}", f"v{i}") for i in range(12)
    ]
    t = TxTable(str(tmp_path / "t"), partition_by=["src", "pfx"])
    t.init(spark.createDataFrame(rows, "k long, src string, pfx string, v string"))

    spec = {"src": ["s1", None], "pfx": ["p0"]}
    files = t.partition_files(spec)
    assert files, "expected matching partitions"
    # strict subset: every kept file carries BOTH matching components
    for f in files:
        comps = f.split(os.sep)[:-1]
        assert any(c in ("src=s1", "src=__HIVE_DEFAULT_PARTITION__") for c in comps), f
        assert "pfx=p0" in comps, f
    assert len(files) < len(t._live_files())  # actually pruned
    got = sorted(r["k"] for r in t.read_partitions(spark, spec).collect())
    want = sorted(
        r["k"]
        for r in t.read(spark)
        .where((F.col("src").isin("s1") | F.col("src").isNull()) & (F.col("pfx") == "p0"))
        .collect()
    )
    assert got == want and got  # non-empty parity
    # single-col form unchanged
    assert sorted(
        r["k"] for r in t.read_partitions(spark, "pfx", ["p1"]).collect()
    ) == sorted(r["k"] for r in t.read(spark).where("pfx = 'p1'").collect())
    # unknown column still refused
    with pytest.raises(ValueError, match="not a partition column"):
        t.partition_files({"nope": [1]})
    with pytest.raises(ValueError, match="not both"):
        t.partition_files({"src": ["s1"]}, ["p0"])

    # mixed layout on ONE axis: a flat-era file (no components at all)
    # degrades the conjunction read too
    u = TxTable(str(tmp_path / "u"))
    u.init(spark.createDataFrame(rows, "k long, src string, pfx string, v string"))
    up = TxTable(str(tmp_path / "u"), partition_by=["src", "pfx"])
    up.append(
        spark.createDataFrame(
            [(100, "s1", "p0", "x")], "k long, src string, pfx string, v string"
        )
    )
    with pytest.raises(MixedPartitionLayoutError):
        up.partition_files({"src": ["s1"], "pfx": ["p0"]})
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got2 = sorted(
            r["k"]
            for r in up.read_partitions(spark, {"src": ["s1"], "pfx": ["p0"]}).collect()
        )
    assert any("full scan" in str(x.message) for x in w)
    want2 = sorted(
        r["k"]
        for r in up.read(spark).where("src = 's1' and pfx = 'p0'").collect()
    )
    assert got2 == want2 and 100 in got2


def test_compact_small_merges_only_small_files(spark, tmp_path):
    """Incremental OPTIMIZE (r8 VERDICT #3): compact_small bin-packs
    only the live files below the size threshold -- the big file's rel
    survives untouched, the small ones merge, contents are unchanged,
    and a second run with nothing to merge is a no-commit no-op."""
    t = TxTable(str(tmp_path / "t"))
    big = spark.range(20000).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
    )
    t.init(big.repartition(1))  # one ~incompressible several-hundred-KB file
    for i in range(4):
        t.append(
            spark.createDataFrame([(100000 + i, f"s{i}")], "k long, v string")
        )
    live0 = t._live_files()
    sizes = {f: os.path.getsize(os.path.join(t.root, f)) for f in live0}
    big_rel = max(sizes, key=sizes.get)
    assert sizes[big_rel] > 0.01 * 1024 * 1024  # fixture sanity: it IS big
    before = sorted((r["k"], r["v"]) for r in t.read(spark).collect())

    v = t.compact_small(spark, target_mb=1, small_mb=0.01)
    assert v == t._snapshot_version()
    live1 = t._live_files()
    assert big_rel in live1, "well-sized file must not be rewritten"
    assert len(live1) == 2  # big + one merged file
    assert sorted((r["k"], r["v"]) for r in t.read(spark).collect()) == before

    # nothing left to merge (one small merged file): no-op, no commit
    assert t.compact_small(spark, target_mb=1, small_mb=0.01) is None
    assert t._snapshot_version() == v


def test_compact_small_partitioned_preserves_layout(spark, tmp_path):
    """On a hive-partitioned table the merged small files land ~one
    per touched partition value, every surviving file still carries
    the col= component (strict pruning keeps working), and rows are
    conserved."""
    t = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    t.init(
        spark.createDataFrame(
            [(i, i % 2, f"r{i}") for i in range(8)], "k long, grp int, v string"
        )
    )
    for i in range(3):
        t.append(
            spark.createDataFrame(
                [(100 + 2 * i, 0, "x"), (101 + 2 * i, 1, "y")],
                "k long, grp int, v string",
            )
        )
    before = sorted(tuple(r) for r in t.read(spark).collect())
    n_before = len(t._live_files())
    assert t.compact_small(spark, small_mb=1) is not None
    live = t._live_files()
    assert len(live) < n_before
    assert len(live) == 2  # one merged file per grp value
    assert all("grp=" in f for f in live)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == before
    # strict pruning still works post-compaction
    files = t.partition_files("grp", [0])
    assert files and all("grp=0" in f for f in files)


def test_compact_if_due_policy_counter(spark, tmp_path):
    """compact_if_due fires only at the commit threshold and resets
    through the rewrite: the counter counts commits since the last
    whole-table rewrite, a due-but-nothing-to-merge call stays
    commit-free, and cluster_by tables refuse compact_small."""
    t = TxTable(str(tmp_path / "t"))
    t.init(spark.createDataFrame([(0, "z")], "k long, v string"))
    assert t.commits_since_rewrite() == 0
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert t.commits_since_rewrite() == 2
    assert t.compact_if_due(spark, None) is None          # disabled
    assert t.compact_if_due(spark, 3) is None             # not due yet
    v = t.compact_if_due(spark, 2, small_mb=1)            # due: merges 3 smalls
    assert v is not None
    assert t.commits_since_rewrite() == 0                 # reset by the rewrite
    assert len(t._live_files()) == 1
    cl = TxTable(str(tmp_path / "c"), cluster_by=(["k"], ["k"], 2))
    cl.init(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    with pytest.raises(ValueError, match="cluster_by"):
        cl.compact_small(spark)


def test_repartition_layout_empty_flattens(spark, tmp_path):
    """The partition_by setter's fail-loud error points at
    repartition_layout as the flatten path -- so it must BE one:
    repartition_layout([]) rewrites every file without hive
    components, logs the explicit empty spec (bare handles stop
    inheriting the old layout), and strict pruning afterwards refuses
    with not-a-partition-column."""
    t = TxTable(str(tmp_path / "t"), partition_by=["grp"])
    rows = [(i, i % 2, f"r{i}") for i in range(6)]
    t.init(spark.createDataFrame(rows, "k long, grp int, v string"))
    before = sorted(tuple(r) for r in t.read(spark).collect())
    t.repartition_layout(spark, [])
    assert t.partition_by == []
    assert all("=" not in f for f in t._live_files()), t._live_files()
    assert sorted(tuple(r) for r in t.read(spark).collect()) == before
    bare = TxTable(str(tmp_path / "t"))
    assert bare.partition_by == []  # inherits the logged EMPTY spec
    with pytest.raises(ValueError, match="not a partition column"):
        t.partition_files("grp", [0])
    # and the single-col form without values fails with the call-form
    # hint, not a bare NoneType TypeError
    u = TxTable(str(tmp_path / "u"), partition_by=["g"])
    u.init(spark.createDataFrame([(1, 0)], "k long, g int"))
    with pytest.raises(ValueError, match="missing values"):
        u.partition_files("g")
