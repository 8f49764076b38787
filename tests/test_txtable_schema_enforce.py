"""Schema enforcement at the commit point (Delta's): a stale
handle's blind append must never re-log a schema that loses or
retypes columns the newest logged schema has -- before the fix, an
old-schema append landing after a concurrent add-column evolution
made every evolved column silently vanish from reads (data intact in
the files, invisible to every consumer)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.sources.txtable import (
    MetadataChangedError,
    TxTable,
)


def _df(spark, rows, schema="k long, v string"):
    return spark.createDataFrame(rows, schema)


def test_stale_append_after_evolution_raises_not_regresses(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TxTable(root)
    t.init(_df(spark, [(1, "a")]))
    stale = TxTable(root)  # opened before the evolution
    t.append(
        _df(spark, [(2, "b", 9.5)], "k long, v string, score double"),
        evolve_schema=True,
    )
    with pytest.raises(ValueError, match="missing=\\['score'\\]"):
        stale.append(_df(spark, [(3, "c")]))
    # the evolved column is still visible -- nothing regressed
    got = TxTable(root).read(spark)
    assert "score" in got.columns
    assert {r["k"]: r["score"] for r in got.collect()} == {1: None, 2: 9.5}
    # the sanctioned path works from the same stale handle
    stale.append(_df(spark, [(3, "c")]), evolve_schema=True)
    assert "score" in TxTable(root).read(spark).columns


def test_append_rejects_extra_and_retyped_columns(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="extra=\\['score'\\]"):
        t.append(_df(spark, [(2, "b", 1.0)], "k long, v string, score double"))
    with pytest.raises(ValueError, match="retyped=\\['v'\\]"):
        t.append(_df(spark, [(2, 3)], "k long, v long"))


def test_append_realigns_column_order(spark, tmp_path):
    """Order-only differences are fine -- the append binds by name
    and realigns to the logged order (Delta by-name binding)."""
    t = TxTable(str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]))
    t.append(
        spark.createDataFrame([("b", 2)], "v string, k long")
    )
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [(1, "a"), (2, "b")]
    assert [f.name for f in t.logged_schema().fields] == ["k", "v"]


def test_concurrent_evolution_blocks_stale_append_at_publish(
    spark, tmp_path
):
    """The race the early check cannot see: the evolution lands
    BETWEEN the stale append's schema check and its publish.  The
    commit-point guard (publish head re-check + bump re-check) must
    abort the stale append instead of letting it regress the newest
    schema."""
    root = str(tmp_path / "t")
    t = TxTable(root)
    t.init(_df(spark, [(1, "a")]))
    stale = TxTable(root)

    orig = TxTable._commit

    def racing(self, mapping, removes, op, base_version=None, **kw):
        if op == "append" and self is stale and not getattr(
            self, "_fired", False
        ):
            self._fired = True
            TxTable(root).append(
                _df(spark, [(5, "e", 1.0)], "k long, v string, score double"),
                evolve_schema=True,
            )
        return orig(self, mapping, removes, op, base_version, **kw)

    TxTable._commit = racing
    try:
        with pytest.raises(MetadataChangedError, match="stale"):
            stale.append(_df(spark, [(3, "c")]))
    finally:
        TxTable._commit = orig

    got = TxTable(root).read(spark)
    assert "score" in got.columns
    assert sorted(r["k"] for r in got.collect()) == [1, 5]


def test_widening_merge_and_rewrites_still_pass(spark, tmp_path):
    """The guard is one-directional: commits whose schema CONTAINS
    the newest logged one (equal, or evolve-widened) publish freely,
    and whole-set-replacing ops (overwrite/restore) may change schema
    in any direction -- no surviving file can be misread through it."""
    t = TxTable(str(tmp_path / "t"), retain_history=True)
    t.init(_df(spark, [(1, "a")]))
    t.merge(
        _df(spark, [(1, "A", True)], "k long, v string, flag boolean"),
        "k",
        evolve_schema=True,
    )
    assert "flag" in TxTable(t.root).read(spark).columns
    t.compact(spark, n_files=1)  # rewrite carries the evolved schema
    t.overwrite(_df(spark, [(9, "z")]))  # full replace may narrow
    assert TxTable(t.root).read(spark).columns == ["k", "v"]
    t.restore(2)  # rollback re-logs the as-of schema, wide again
    assert "flag" in TxTable(t.root).read(spark).columns


def test_drop_column_race_blocks_blind_append_at_publish(spark, tmp_path):
    """The drop-resurrection race (r9 ADVICE): a stale handle's blind
    append races drop_column.  Containment alone passes (the pre-drop
    schema is a strict SUPERSET of the post-drop one), so the commit
    point must ALSO reject staged columns whose physical name is
    tombstoned -- otherwise the append re-logs the old schema as
    newest and logically resurrects the dropped column and its bytes
    (Delta raises MetadataChangedException here)."""
    root = str(tmp_path / "t")
    t = TxTable(root)
    t.init(
        spark.createDataFrame(
            [(1, "a", 9.5)], "k long, v string, score double"
        )
    )
    stale = TxTable(root)

    orig = TxTable._commit

    def racing(self, mapping, removes, op, base_version=None, **kw):
        if op == "append" and self is stale and not getattr(
            self, "_fired", False
        ):
            self._fired = True
            TxTable(root).drop_column("score")
        return orig(self, mapping, removes, op, base_version, **kw)

    TxTable._commit = racing
    try:
        with pytest.raises(MetadataChangedError, match="tombstoned"):
            stale.append(
                spark.createDataFrame(
                    [(2, "b", 1.0)], "k long, v string, score double"
                )
            )
    finally:
        TxTable._commit = orig

    got = TxTable(root).read(spark)
    assert "score" not in got.columns  # the drop survived the race
    assert sorted(r["k"] for r in got.collect()) == [1]


def test_drop_column_race_blocks_blind_append_at_bump(spark, tmp_path):
    """Same race, narrower window: the drop lands AFTER the stale
    append's pre-publish state check but BEFORE its CAS, so the
    version-bump guard (_guard_blind_bump) is the last line -- it must
    read the winning drop entry's dropped_physical and abort."""
    root = str(tmp_path / "t")
    t = TxTable(root)
    t.init(
        spark.createDataFrame(
            [(1, "a", 9.5)], "k long, v string, score double"
        )
    )
    stale = TxTable(root)

    orig = TxTable._assert_schema_advances

    def fire_after_precheck(self, *a, **kw):
        orig(self, *a, **kw)
        if self is stale and not getattr(self, "_fired", False):
            self._fired = True
            TxTable(root).drop_column("score")

    TxTable._assert_schema_advances = fire_after_precheck
    try:
        with pytest.raises(MetadataChangedError, match="tombstoned"):
            stale.append(
                spark.createDataFrame(
                    [(2, "b", 1.0)], "k long, v string, score double"
                )
            )
    finally:
        TxTable._assert_schema_advances = orig

    got = TxTable(root).read(spark)
    assert "score" not in got.columns
    assert sorted(r["k"] for r in got.collect()) == [1]


def test_evolve_readd_after_drop_still_passes_the_tombstone_guard(
    spark, tmp_path
):
    """The sanctioned re-add path must NOT trip the new guard: an
    evolve append reusing a dropped logical name binds a FRESH
    physical name (column_map entry), so its staged physical set
    never intersects dropped_physical."""
    root = str(tmp_path / "t")
    t = TxTable(root)
    t.init(
        spark.createDataFrame(
            [(1, "a", 9.5)], "k long, v string, score double"
        )
    )
    t.drop_column("score")
    t.append(
        spark.createDataFrame(
            [(2, "b", 7.0)], "k long, v string, score double"
        ),
        evolve_schema=True,
    )
    got = {r["k"]: r["score"] for r in TxTable(root).read(spark).collect()}
    assert got == {1: None, 2: 7.0}  # old bytes stay dead


@pytest.mark.parametrize("how", ["delete_where", "delete"])
def test_dv_delete_keeps_a_peers_evolved_schema(spark, tmp_path, how):
    """A dv delete stages no data, so its commit logs no schema.  A
    handle used to carry its last staged schema as leftover state:
    after H wrote (k, v) and G evolved the table to (k, v, score), H's
    dv delete re-logged struct<k,v> and every read silently lost
    ``score``."""
    root = str(tmp_path / "t")
    h = TxTable(root)
    h.init(_df(spark, [(1, "a"), (2, "b")]))
    TxTable(root).append(
        _df(spark, [(3, "c", 9.5)], "k long, v string, score double"),
        evolve_schema=True,
    )
    if how == "delete_where":
        h.delete_where(spark, F.col("k") == 1, dv=True)
    else:
        h.delete(_df(spark, [(1, "x")]), "k", dv=True)
    fresh = TxTable(root)
    assert "score" in fresh.logged_schema().fieldNames()
    got = fresh.read(spark)
    assert {r["k"]: r["score"] for r in got.collect()} == {2: None, 3: 9.5}


@pytest.mark.parametrize("how", ["append", "merge"])
def test_failed_evolve_write_leaks_no_metadata(spark, tmp_path, how):
    """Metadata an evolve write computes must not outlive the write.
    Re-adding a dropped column binds it to a fresh physical name; when
    that write then fails its CHECK, the handle's next plain append
    must log the pre-failure state: no column map, the post-drop
    schema."""
    root = str(tmp_path / "t")
    t = TxTable(root, constraints={"positive": "a > 0"})
    t.init(spark.createDataFrame([(1, "x", 1.0)], "a long, b string, c double"))
    t.drop_column("c")
    before = t.logged_schema().simpleString()
    bad = spark.createDataFrame([(-1, "y", 2.0)], "a long, b string, c double")
    with pytest.raises(ValueError, match="CHECK constraint violated"):
        if how == "append":
            t.append(bad, evolve_schema=True)
        else:
            t.merge(bad, "a", evolve_schema=True)
    t.append(spark.createDataFrame([(2, "z")], "a long, b string"))
    fresh = TxTable(root)
    assert fresh._column_map() == {}
    assert fresh.logged_schema().simpleString() == before
    assert sorted(r["a"] for r in fresh.read(spark).collect()) == [1, 2]


@pytest.mark.parametrize("how", ["drop", "rename"])
def test_evolve_merge_reads_metadata_after_its_snapshot(
    spark, tmp_path, monkeypatch, how
):
    """An evolve-merge must build its frame from the schema at its own
    snapshot.  A peer's drop/rename that commits while the merge runs
    its CHECK job lands after that snapshot and must abort the merge;
    had the merge evolved before taking the snapshot, the peer's
    commit would sit below it, unchecked, and the merge would re-log
    the stale schema -- the dropped ``d`` back in the logged schema,
    its tombstoned bytes served again from untouched files."""
    root = str(tmp_path / "t")
    h = TxTable(root)
    h.init(spark.createDataFrame([(1, "a", 1.0)], "k long, v string, d double"))
    check = h._check_constraints

    def racing_check(df):
        monkeypatch.setattr(h, "_check_constraints", check)
        peer = TxTable(root)
        if how == "drop":
            peer.drop_column("d")
        else:
            peer.rename_column("d", "d2")
        check(df)

    monkeypatch.setattr(h, "_check_constraints", racing_check)
    try:
        h.merge(
            _df(spark, [(2, "b", True)], "k long, v string, e boolean"),
            "k",
            evolve_schema=True,
        )
    except MetadataChangedError:
        pass
    fresh = TxTable(root)
    assert "d" not in fresh.logged_schema().fieldNames()
    got = fresh.read(spark)
    assert "d" not in got.columns
    if how == "rename":
        assert [r["d2"] for r in got.where("k = 1").collect()] == [1.0]
