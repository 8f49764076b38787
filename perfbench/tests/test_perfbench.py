"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, layers, run  # noqa: E402
from perfbench.trace import (  # noqa: E402
    JobReader,
    PeakRss,
    Span,
    Tracer,
    attribute,
    fold_progress,
    program_cpu_s,
    self_times,
    tree_cpu_s,
)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generator ---------------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    first = gen.BASE_ROWS + 1
    for i, start in ((0, 1), (3, first)):
        a, b = gen.night(7, i, start), gen.night(7, i, start)
        assert a[0].equals(b[0]) and a[1].equals(b[1])
    assert not gen.night(7, 1, first)[1].equals(gen.night(8, 1, first)[1])
    assert gen.base_orders(7).equals(gen.base_orders(7))
    keys = gen.base_orders(7)["o_orderkey"].to_numpy()
    r1, r2 = gen.storage_round(7, 2, keys, len(keys) + 1), gen.storage_round(7, 2, keys, len(keys) + 1)
    assert r1.append.equals(r2.append) and r1.update.equals(r2.update)
    assert (r1.delete_lo, r1.dv_keys, r1.read_lo) == (r2.delete_lo, r2.dv_keys, r2.read_lo)
    assert not r1.update.equals(gen.storage_round(8, 2, keys, len(keys) + 1).update)


def test_every_storage_round_deletes_the_same_number_of_live_rows():
    keys = gen.base_orders(7)["o_orderkey"].to_numpy()
    keys = np.delete(keys, np.arange(100, 5_000, 3))  # holes from earlier rounds
    for i in range(20):
        r = gen.storage_round(7, i, keys, int(keys[-1]) + 1)
        in_range = (keys >= r.delete_lo) & (keys < r.delete_hi)
        assert in_range.sum() == gen.DELETE_RANGE_KEYS
        assert not np.isin(r.dv_keys, keys[in_range]).any()
        assert np.isin(r.dv_keys, keys).all()


def test_each_night_brings_fresh_ids_and_resends_old_ones():
    new0, _ = gen.night(1, 0, 1)
    new1, resent1 = gen.night(1, 1, new0.num_rows + 1)
    ids0 = set(new0["event_id"].to_pylist())
    assert ids0.isdisjoint(new1["event_id"].to_pylist())
    assert set(resent1["event_id"].to_pylist()) <= ids0


# -- metric names and units ----------------------------------------------------


def test_benchmark_json_matches_what_the_run_reports():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.PER_LAYER
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [
        w["name"] for w in b["workloads"]
    ]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


# -- timed loop -------------------------------------------------------------------


class _Fake:
    """A workload whose units take ``unit_s`` each, without Spark."""

    roots: list = []

    def __init__(self, unit_s: float) -> None:
        self.unit_s, self.progress = unit_s, []

    def unit(self) -> dict:
        return {"s": self.unit_s, "write_s": 0.0, "read_s": 0.0, "cpu_s": self.unit_s,
                "write_cpu_s": 0.0, "read_cpu_s": 0.0, "rows": 1}


def test_timed_loop_runs_a_fixed_count_whatever_the_speed():
    for wl in run.WORKLOADS:
        for unit_s in (0.001, 1.0, 5.0):
            args = argparse.Namespace(workload=wl, seconds=20, trace=0)
            units, per_layer = run.timed_units(args, _Fake(unit_s), Tracer(), None, 1, PeakRss())
            assert len(units) == run.UNITS[wl] and per_layer == []


def test_seconds_is_only_a_ceiling():
    wl = max(run.UNITS, key=run.UNITS.get)
    args = argparse.Namespace(workload=wl, seconds=20, trace=0)
    units, _ = run.timed_units(args, _Fake(25.0), Tracer(), None, 1, PeakRss())
    assert run.UNITS[wl] > 1 and len(units) == 1


# -- CPU time ---------------------------------------------------------------------


def test_program_cpu_time_counts_this_process_and_no_jit_here():
    c0 = program_cpu_s()
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert program_cpu_s() - c0 >= 0.25
    assert tree_cpu_s(os.getpid())[1] == 0  # no JVM in this process tree


# -- self time ------------------------------------------------------------------


def test_self_time_subtracts_children_only():
    spans = [
        Span(1, "unit", None, 0.0, 10.0),
        Span(2, "plans.run_nightly", 1, 1.0, 6.0),
        Span(3, "operators.a", 2, 1.5, 2.5),
        Span(4, "operators.b", 2, 3.0, 5.0),
        Span(5, "plancache.memo", 4, 3.5, 4.0),
        Span(6, "exec", 1, 6.0, 9.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({1: 2.0, 2: 2.0, 3: 1.0, 4: 1.5, 5: 0.5, 6: 3.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_tracer_nests_spans_and_wraps_outermost_only():
    class Store:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    t = Tracer()
    for name in ("outer", "inner"):
        t.wrap(Store, name, f"sources.{name}", outermost="sources.")
    assert Store().outer() == 2 and t.take()[0] == []  # disabled: no spans
    t.enabled = True
    with t.span("unit"):
        Store().outer()
    spans, _ = t.take()
    by_name = {s.name: s for s in spans}
    assert set(by_name) == {"unit", "sources.outer"}
    assert by_name["sources.outer"].parent == by_name["unit"].id


def test_stream_progress_fold_sums_batches_with_input():
    p = [
        {"numInputRows": 10, "durationMs": {"addBatch": 5, "walCommit": 2}},
        {"numInputRows": 0, "durationMs": {"addBatch": 100}},
        {"numInputRows": 5, "durationMs": {"addBatch": 7, "latestOffset": 1}},
    ]
    f = fold_progress(p)
    assert (f["batches"], f["input_rows"], f["add_batch_ms"]) == (2, 15, 12)
    assert (f["wal_commit_ms"], f["latest_offset_ms"]) == (2, 1)
    assert {f"streaming.{k}" for k in f} <= set(layers.PER_LAYER)


# -- planted shuffle --------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    from nyc_crash_mapper_etl_script_spark.session import tuned_builder

    s = (
        tuned_builder("perfbench-test")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark-local")))
        .getOrCreate()
    )
    yield s
    s.stop()


def _exec_metrics(spark, plant: bool) -> dict:
    tracer = Tracer(spark.sparkContext)
    reader = JobReader(spark.sparkContext)
    reader.read()
    df = spark.range(0, 20_000, numPartitions=2).selectExpr("id", "id * 3 AS v")
    if plant:
        df = df.repartition(3)
    tracer.enabled = True
    with tracer.span("unit"), tracer.span("exec"):
        df.write.format("noop").mode("overwrite").save()
    spans, counts = tracer.take()
    untagged = attribute(spans, reader.read())
    return layers.unit_metrics(spans, untagged, counts, [], {
        "wall": 1.0, "bytes_added": 0, "files_added": 0, "peak_rss": 0}, cores=2)


def test_planted_shuffle_shows_exactly(spark):
    base = _exec_metrics(spark, plant=False)
    planted = _exec_metrics(spark, plant=True)
    again = _exec_metrics(spark, plant=True)
    assert base["operators.shuffle_write_bytes"] == 0
    assert planted["operators.shuffle_write_bytes"] > 0
    assert planted["operators.shuffle_write_bytes"] == again["operators.shuffle_write_bytes"]
    assert planted["spark.stages"] == base["spark.stages"] + 1
