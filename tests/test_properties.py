"""Property-based invariants (hypothesis) for the operators whose
correctness is a conservation law rather than a fixed expectation.

Each example generates a whole batch of rows and runs one Spark job,
so example counts stay small but row coverage is wide."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.operators.blame import (
    BY_VEHICLE,
    allocate_blame,
)
from nyc_crash_mapper_etl_script_spark.operators.cdc import classify

FLAGS = [
    "hasvehicle_bicycle",
    "hasvehicle_scooter",
    "hasvehicle_motorcycle",
    "hasvehicle_busvan",
    "hasvehicle_car",
    "hasvehicle_suv",
    "hasvehicle_truck",
    "hasvehicle_other",
]
TALLIES = [
    "number_of_cyclist_injured",
    "number_of_cyclist_killed",
    "number_of_motorist_injured",
    "number_of_motorist_killed",
    "number_of_pedestrian_injured",
    "number_of_pedestrian_killed",
]

blame_row = st.tuples(
    st.tuples(*[st.one_of(st.none(), st.booleans()) for _ in FLAGS]),
    st.tuples(*[st.integers(min_value=0, max_value=5) for _ in TALLIES]),
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(blame_row, min_size=1, max_size=25))
def test_blame_spread_conserves_tallies(spark, rows):
    """For every mode and outcome, the 8-way by-vehicle spread sums
    back to the raw tally (the blame factor is 1/#open-gates and each
    open gate receives the full allocated value) -- the conservation
    law behind main.py:650-790."""
    data = [
        (i, *flags, *tallies) for i, (flags, tallies) in enumerate(rows)
    ]
    schema = (
        "rid long, "
        + ", ".join(f"{f} boolean" for f in FLAGS)
        + ", "
        + ", ".join(f"{t} int" for t in TALLIES)
    )
    df = allocate_blame(spark.createDataFrame(data, schema), only_null=False)
    checks = []
    for mode, src in [
        ("cyclist", F.col("number_of_cyclist_{o}")),
        ("motorist", F.col("number_of_motorist_{o}")),
        ("pedestrian", F.col("number_of_pedestrian_{o}")),
    ]:
        for outcome in ["injured", "killed"]:
            total = sum(
                (F.col(f"{mode}_{outcome}_by{veh}") for veh in list(BY_VEHICLE)[1:]),
                F.col(f"{mode}_{outcome}_by{list(BY_VEHICLE)[0]}"),
            )
            tally = F.col(f"number_of_{mode}_{outcome}").cast("double")
            checks.append(
                F.max(F.abs(total - tally)).alias(f"{mode}_{outcome}")
            )
    worst = df.agg(*checks).first()
    for name, err in worst.asDict().items():
        assert err is not None and err < 1e-9, (name, err)


cdc_universe = st.dictionaries(
    st.integers(min_value=0, max_value=40),
    st.tuples(st.booleans(), st.booleans(), st.booleans(), st.booleans()),
    min_size=1,
    max_size=30,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(universe=cdc_universe)
def test_cdc_classify_partitions_keys(spark, universe):
    """classify() assigns exactly the reference's classes
    (walkmapper/mysql2carto.py:203-248): insert = src-only non-tombstone,
    update = both sides and fingerprint differs, skip = both sides and
    equal, delete = tombstoned src row present in target."""
    src_rows, tgt_rows, expect = [], [], {}
    for k, (in_src, in_tgt, changed, tomb) in universe.items():
        if in_tgt:
            tgt_rows.append((k, f"v{k}"))
        if in_src:
            src_rows.append((k, f"w{k}" if changed else f"v{k}", tomb))
            if tomb:
                # tombstone never synced -> skip (the reference only
                # issues DELETEs for rows present in the target,
                # mysql2carto.py:221-241)
                expect[k] = "delete" if in_tgt else "skip"
            elif not in_tgt:
                expect[k] = "insert"
            else:
                expect[k] = "update" if changed else "skip"
    if not src_rows:
        return
    src = spark.createDataFrame(src_rows, "k long, payload string, tomb boolean")
    tgt = spark.createDataFrame(tgt_rows or [(-(10 ** 9), "none")], "k long, payload string")
    got = {
        r["k"]: r["cdc_class"]
        for r in classify(src, tgt, "k", ["payload"], is_delete=F.col("tomb")).collect()
    }
    for k, cls in expect.items():
        assert got.get(k) == cls, (k, cls, got.get(k))


# ---------------------------------------------------------------------------
# TxTable: transactional semantics vs an in-memory model
# ---------------------------------------------------------------------------

_tx_key = st.integers(min_value=0, max_value=9)
_tx_ym = st.sampled_from(["2024-05", "2024-06"])
_tx_row = st.tuples(_tx_key, st.text("abcde", min_size=1, max_size=3), _tx_ym)


def _tx_batch(min_size=1):
    # distinct keys within one batch (merge/append sources are keyed)
    return st.lists(
        _tx_row, min_size=min_size, max_size=4, unique_by=lambda r: r[0]
    )


_tx_op = st.one_of(
    st.tuples(st.just("append"), _tx_batch()),
    st.tuples(st.just("merge"), _tx_batch()),
    st.tuples(st.just("crashed_merge"), _tx_batch()),
    st.tuples(st.just("delete"), st.lists(_tx_key, min_size=1, max_size=3)),
    st.tuples(st.just("compact"), st.just(None)),
    st.tuples(st.just("overwrite"), _tx_batch(min_size=0)),
    st.tuples(st.just("delete_where_k_ge"), _tx_key),
    st.tuples(st.just("merge_update_v"), _tx_batch()),
    # deletion-vector forms: same model semantics as their rewrite
    # twins, but no file churn -- interleavings with merge/compact/
    # overwrite pin the non-resurrection invariant (a rewrite of a
    # dv'd file must materialize, never resurrect)
    st.tuples(st.just("dv_delete"), st.lists(_tx_key, min_size=1, max_size=3)),
    st.tuples(st.just("dv_delete_where_k_ge"), _tx_key),
    # multi-writer rebase: a blind append lands between the merge's
    # snapshot and its publish; the conflict checker rebases (Delta
    # write_serializable), so the model is merge-applied-THEN-append
    # -- appended rows survive even when their keys overlap the merge
    st.tuples(
        st.just("merge_racing_append"), st.tuples(_tx_batch(), _tx_batch())
    ),
    # column mapping under random interleaving: rename the value
    # column (metadata-only commit over the stable physical name);
    # row values never change, so the MODEL is untouched -- only the
    # name every subsequent op and the final read bind
    st.tuples(st.just("rename_v"), st.integers(min_value=0, max_value=2)),
)


import pytest as _pytest


def _make_store(kind):
    if kind == "fake_object_store":
        from nyc_crash_mapper_etl_script_spark.sources.logstore import (
            FakeObjectStore,
        )

        return FakeObjectStore()
    return None  # POSIX default


@_pytest.mark.parametrize("store_kind", ["posix", "fake_object_store"])
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(init=_tx_batch(), ops=st.lists(_tx_op, min_size=1, max_size=4))
def test_txtable_matches_model_under_random_ops(
    spark, tmp_path_factory, store_kind, init, ops
):
    """Any interleaving of append/merge/delete/compact -- including a
    merge killed at the commit point -- leaves the table equal to the
    obvious in-memory model, for both TxTable.read and a plain
    parquet read of the root.  Parametrized over the commit backend:
    POSIX link-CAS and the object-store-semantics fake must satisfy
    the same model."""
    from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

    root = str(tmp_path_factory.mktemp("txprop") / "t")
    # checkpoint_every=2: every generated op sequence crosses several
    # checkpoints, so the model compare also pins ckpt-resumed folds
    tx = TxTable(
        root,
        partition_by=["ym"],
        log_store=_make_store(store_kind),
        checkpoint_every=2,
    )

    names = {"v": "v"}

    def df_of(rows):
        return spark.createDataFrame(
            rows, f"k long, {names['v']} string, ym string"
        )

    tx.init(df_of(init))
    model = list(init)  # blind-append multiset semantics
    for op, arg in ops:
        if op == "append":
            tx.append(df_of(arg))
            model += arg
        elif op == "merge":
            tx.merge(df_of(arg), "k")
            keys = {r[0] for r in arg}
            model = [r for r in model if r[0] not in keys] + arg
        elif op == "crashed_merge":
            orig = TxTable._publish
            try:
                TxTable._publish = lambda self, e, base_version=None, **kw: (_ for _ in ()).throw(
                    RuntimeError("crash")
                )
                try:
                    tx.merge(df_of(arg), "k")
                except RuntimeError:
                    pass
            finally:
                TxTable._publish = orig
            # model unchanged: the commit never happened
        elif op == "delete":
            tx.delete(spark.createDataFrame([(k,) for k in arg], "k long"), "k")
            model = [r for r in model if r[0] not in set(arg)]
        elif op == "compact":
            tx.compact(spark)
        elif op == "overwrite":
            # deliberately the ORIGINAL name: a whole-set replace may
            # change schema in any direction (schema_enforce test), so
            # across a live rename this both replaces the logical name
            # AND must prune the stale map entry (overwrite's colmap
            # reconciliation) -- the model's binding resets with it
            tx.overwrite(
                spark.createDataFrame(arg, "k long, v string, ym string")
            )
            model = list(arg)
            names["v"] = "v"
        elif op == "delete_where_k_ge":
            from pyspark.sql import functions as FF

            tx.delete_where(spark, FF.col("k") >= arg)
            model = [r for r in model if r[0] < arg]
        elif op == "merge_update_v":
            # UPDATE semantics: matched keys take v (and ym column
            # value stays the SOURCE's? no -- only set_cols change);
            # unmatched source rows ignored
            tx.merge_update(df_of(arg), "k", set_cols=[names["v"]])
            vmap = {r[0]: r[1] for r in arg}
            model = [
                (k, vmap.get(k, v), ym) for (k, v, ym) in model
            ]
        elif op == "dv_delete":
            tx.delete(
                spark.createDataFrame([(k,) for k in arg], "k long"),
                "k",
                dv=True,
            )
            model = [r for r in model if r[0] not in set(arg)]
        elif op == "dv_delete_where_k_ge":
            from pyspark.sql import functions as FF

            tx.delete_where(spark, FF.col("k") >= arg, dv=True)
            model = [r for r in model if r[0] < arg]
        elif op == "merge_racing_append":
            m_arg, a_arg = arg
            orig = TxTable._commit
            fired = []

            def racing(self, mapping, removes, op_, base_version=None,
                       _a=a_arg, _f=fired, _o=orig, **kw):
                if op_ == "merge" and not _f:
                    _f.append(1)
                    TxTable(
                        root,
                        partition_by=["ym"],
                        log_store=_make_store(store_kind),
                    ).append(df_of(_a))
                return _o(self, mapping, removes, op_, base_version, **kw)

            TxTable._commit = racing
            try:
                tx.merge(df_of(m_arg), "k")
            finally:
                TxTable._commit = orig
            keys = {r[0] for r in m_arg}
            model = [r for r in model if r[0] not in keys] + m_arg + a_arg
        elif op == "rename_v":
            target = "v" if arg == 0 else f"v_{arg}"
            if target != names["v"]:
                tx.rename_column(names["v"], target)
                names["v"] = target
            # model untouched: a rename changes no row

    vn = names["v"]
    got = sorted((r["k"], r[vn], r["ym"]) for r in tx.read(spark).collect())
    assert got == sorted(model)
    if model and not tx._live_dvs() and vn == "v":
        # the plain-parquet-read invariant holds exactly while no dv
        # is OUTSTANDING and no column map is live (dv'd rows need the
        # TxTable reader; a renamed column's PHYSICAL name is what
        # plain parquet sees -- logical==physical only when the map is
        # empty, and renaming back to "v" empties it)
        plain = sorted(
            (r["k"], r["v"], r["ym"])
            for r in spark.read.parquet(root).select("k", "v", "ym").collect()
        )
        assert plain == sorted(model)
    # (an empty table has zero parquet files -- only TxTable.read,
    # which carries the schema in its log, can type it)


@_pytest.mark.parametrize("store_kind", ["posix", "fake_object_store"])
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(init=_tx_batch(), ops=st.lists(_tx_op, min_size=1, max_size=4))
def test_txtable_matches_model_from_mixed_layout(
    spark, tmp_path_factory, store_kind, init, ops
):
    """The same random-op model, but the table STARTS in the
    pre-upgrade state (flat init by a bare handle, ops through a
    partitioned handle): every rewrite must reach the rows living in
    flat files (r8 _scoped_removes), every read must see them, and
    read_partitions must equal the filtered read on every layout the
    op sequence leaves behind (strict pruning when the layout is
    clean, full-scan fallback when it is mixed).  Parametrized over
    the commit backend like the clean-layout model test."""
    from pyspark.sql import functions as FF

    from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

    root = str(tmp_path_factory.mktemp("txmix") / "t")
    TxTable(root).init(  # flat era: no spec logged, files carry no ym=
        spark.createDataFrame(init, "k long, v string, ym string")
    )
    tx = TxTable(
        root,
        partition_by=["ym"],
        log_store=_make_store(store_kind),
        checkpoint_every=2,
    )
    model = list(init)
    names = {"v": "v"}

    def df_of(rows):
        return spark.createDataFrame(
            rows, f"k long, {names['v']} string, ym string"
        )

    for op, arg in ops:
        if op == "append":
            tx.append(df_of(arg))
            model += arg
        elif op == "merge":
            tx.merge(df_of(arg), "k")
            keys = {r[0] for r in arg}
            model = [r for r in model if r[0] not in keys] + arg
        elif op == "crashed_merge":
            orig = TxTable._publish
            try:
                TxTable._publish = lambda self, e, base_version=None, **kw: (
                    _ for _ in ()
                ).throw(RuntimeError("crash"))
                try:
                    tx.merge(df_of(arg), "k")
                except RuntimeError:
                    pass
            finally:
                TxTable._publish = orig
        elif op == "delete":
            tx.delete(
                spark.createDataFrame([(k,) for k in arg], "k long"), "k"
            )
            model = [r for r in model if r[0] not in set(arg)]
        elif op == "compact":
            tx.compact(spark)
        elif op == "overwrite":
            # non-empty: current logical name (map retained across the
            # replace); empty: original name -- schema replace resets
            # the binding and prunes the map (see the clean-layout
            # model's overwrite note)
            tx.overwrite(df_of(arg) if arg else spark.createDataFrame(
                [], "k long, v string, ym string"))
            model = list(arg)
            if not arg:
                names["v"] = "v"
        elif op == "delete_where_k_ge":
            tx.delete_where(spark, FF.col("k") >= arg)
            model = [r for r in model if r[0] < arg]
        elif op == "merge_update_v":
            tx.merge_update(df_of(arg), "k", set_cols=[names["v"]])
            vmap = {r[0]: r[1] for r in arg}
            model = [(k, vmap.get(k, v), ym) for (k, v, ym) in model]
        elif op == "dv_delete":
            tx.delete(
                spark.createDataFrame([(k,) for k in arg], "k long"),
                "k",
                dv=True,
            )
            model = [r for r in model if r[0] not in set(arg)]
        elif op == "dv_delete_where_k_ge":
            tx.delete_where(spark, FF.col("k") >= arg, dv=True)
            model = [r for r in model if r[0] < arg]
        elif op == "merge_racing_append":
            m_arg, a_arg = arg
            orig = TxTable._commit
            fired = []

            def racing(self, mapping, removes, op_, base_version=None,
                       _a=a_arg, _f=fired, _o=orig, **kw):
                if op_ == "merge" and not _f:
                    _f.append(1)
                    TxTable(
                        root,
                        partition_by=["ym"],
                        log_store=_make_store(store_kind),
                    ).append(df_of(_a))
                return _o(self, mapping, removes, op_, base_version, **kw)

            TxTable._commit = racing
            try:
                tx.merge(df_of(m_arg), "k")
            finally:
                TxTable._commit = orig
            keys = {r[0] for r in m_arg}
            model = [r for r in model if r[0] not in keys] + m_arg + a_arg
        elif op == "rename_v":
            target = "v" if arg == 0 else f"v_{arg}"
            if target != names["v"]:
                tx.rename_column(names["v"], target)
                names["v"] = target
            # model untouched: a rename changes no row

    vn = names["v"]
    got = sorted((r["k"], r[vn], r["ym"]) for r in tx.read(spark).collect())
    assert got == sorted(model)
    # pruned-read equivalence on whatever layout the sequence left
    import warnings

    for ym in ("2024-05", "2024-06"):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # mixed-layout fallback warns
            pr = sorted(
                (r["k"], r[vn])
                for r in tx.read_partitions(spark, "ym", [ym]).collect()
            )
        assert pr == sorted(
            (k, v) for (k, v, y) in model if y == ym
        ), f"read_partitions({ym}) diverged from the filtered read"


# --- semantic incremental dedup: streamed == batch on random corpora ------

_vec = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    min_size=4,
    max_size=4,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(_vec, min_size=4, max_size=24),
    split_frac=st.floats(min_value=0.2, max_value=0.8),
    threshold=st.floats(min_value=0.5, max_value=0.99),
)
def test_semantic_incremental_equals_full_on_random_corpora(
    spark, vecs, split_frac, threshold
):
    """Property form of the incremental contract: for ANY corpus,
    split point, and threshold, semantic_dedup_incremental(new,
    assign(old), stored centroids) == full-corpus semantic_dedup with
    the same centroids restricted to new ids, and base ∪ batch keeps
    partition the corpus keeps exactly (round-6 argmax assignment:
    deterministic, oracle-parity arithmetic)."""
    from nyc_crash_mapper_etl_script_spark.operators.similarity import (
        ivf_assign,
        select_centroids,
        semantic_dedup,
        semantic_dedup_incremental,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    split = max(1, int(len(rows) * split_frac))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old = e.where(f"vec_id < {split}")
    new = e.where(f"vec_id >= {split}")
    cents = select_centroids(old, 2)
    full = {
        r["vec_id"]
        for r in semantic_dedup(
            e, threshold=threshold, centroids=cents
        ).collect()
    }
    base = {
        r["vec_id"]
        for r in semantic_dedup(
            old, threshold=threshold, centroids=cents
        ).collect()
    }
    inc = {
        r["vec_id"]
        for r in semantic_dedup_incremental(
            new,
            ivf_assign(old, cents),
            cents,
            threshold=threshold,
        ).collect()
    }
    assert inc == {i for i in full if i >= split}
    assert base == {i for i in full if i < split}
    assert base | inc == full
