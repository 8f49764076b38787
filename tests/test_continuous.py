"""plans/continuous.py: the reference nightly as a continuous
incremental pipeline -- an ingest stream (dedup->enrich->blame->
reconcile into the fact TxTable) and a rollup stream chained off the
fact table's commit log."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("spark")


def _row(cid, lat=None, lng=None, ped_inj="1", date="2024-06-01", veh="Sedan"):
    return {
        "collision_id": str(cid),
        "crash_date": f"{date}T00:00:00.000",
        "crash_time": "9:35",
        "latitude": lat,
        "longitude": lng,
        "on_street_name": "MAIN ST",
        "vehicle_type_code1": veh,
        "number_of_motorist_injured": "0",
        "number_of_motorist_killed": "0",
        "number_of_cyclist_injured": "0",
        "number_of_cyclist_killed": "0",
        "number_of_pedestrians_injured": ped_inj,
        "number_of_pedestrians_killed": "0",
        "number_of_persons_injured": ped_inj,
        "number_of_persons_killed": "0",
    }


def _dims(spark):
    def ring(x0, y0, x1, y1):
        return [Row(x=x0, y=y0), Row(x=x1, y=y0), Row(x=x1, y=y1), Row(x=x0, y=y1)]

    districts = spark.createDataFrame(
        [Row(kind="borough", identifier="Brooklyn", the_geom=ring(0.0, 0.0, 2.0, 2.0))]
    )
    intersections = spark.createDataFrame(
        [(1, "A", "syn", ((0.5, 0.5), 8000.0), None),
         (2, "B", "syn", ((1.5, 1.5), 8000.0), None)],
        ("cartodb_id long, name string, borough string, "
         "the_geom struct<center:struct<lng:double,lat:double>,radius_m:double>, "
         "crashcount int"),
    )
    crosswalk = spark.createDataFrame(
        [("Sedan", "CAR"), ("Bike", "BICYCLE")],
        "nyc_vehicletype string, crashmapper_vehicletype string",
    )
    return districts, intersections, crosswalk


def _feed(feed_dir, name, rows):
    with open(feed_dir / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _drain(q):
    """Wait for an availableNow query to finish; a query still running
    after 300 s is stopped and fails the test."""
    if not q.awaitTermination(300):
        q.stop()
        pytest.fail(f"streaming query {q.id} did not drain in 300 s")


def _pipeline(spark, root):
    """Paths + a ``run()`` that drains both streams once, and readers
    for the rollup and its full recompute from the fact table."""
    from nyc_crash_mapper_etl_script_spark.operators.enrichment import (
        intersection_crash_counts,
    )
    from nyc_crash_mapper_etl_script_spark.plans.continuous import (
        continuous_nightly,
    )
    from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

    feed = root / "feed"
    feed.mkdir()
    districts, intersections, crosswalk = _dims(spark)
    table, rollup = str(root / "fact"), str(root / "mv")

    def run():
        q, start_rollup = continuous_nightly(
            spark, str(feed), table, rollup, str(root / "ckpt"),
            districts, intersections, crosswalk,
        )
        _drain(q)
        _drain(start_rollup())

    def counts():
        return {r["cartodb_id"]: r["howmany"]
                for r in TxTable(rollup).read(spark).collect()}

    def full():
        fact = TxTable(table, partition_by=["__ym"]).read(spark)
        return {r["cartodb_id"]: r["howmany"] for r in intersection_crash_counts(
            fact, intersections, months_window=None).collect()}

    return feed, table, rollup, intersections, run, counts, full


def test_continuous_nightly_two_batches(spark, tmp_path_factory):
    """In-stream enrichment, serial ids and the tally merge; the
    chained rollup equals the full recompute after inserts, a tally
    update and a membership-changing update, and the periodic rebuild
    agrees with it."""
    from nyc_crash_mapper_etl_script_spark.plans.continuous import rebuild_rollup
    from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

    feed, table, rollup, intersections, run, counts, full = _pipeline(
        spark, tmp_path_factory.mktemp("continuous"))

    # batch 1: in-circle-A injury crash, geomless crash, out-of-extent
    # crash, and an in-batch duplicate of 101
    _feed(feed, "b1.jsonl", [
        _row(101, lat="0.5", lng="0.5"),
        _row(102),                             # no coords
        _row(103, lat="55.0", lng="99.0"),     # outside borough extent
        _row(101, lat="0.5", lng="0.5"),       # duplicate
    ])
    run()

    tx = TxTable(table, partition_by=["__ym"])
    got = {r["socrata_id"]: r for r in tx.read(spark).collect()}
    assert set(got) == {101, 102, 103}
    # enrichment happened in-stream: district link, flags, blame
    assert got[101]["borough"] == "Brooklyn"
    assert got[101]["hasvehicle_car"] is True
    assert got[101]["blame_factor"] == 1.0
    assert got[101]["pedestrian_injured_bycar"] == 1.0
    assert got[103]["the_geom"] is None       # extent-nulled
    # serial ids assigned, dense, ordered by socrata_id
    assert [got[k]["cartodb_id"] for k in sorted(got)] == [1, 2, 3]
    assert counts() == {1: 1} == full()       # only 101 is in circle A

    # batch 2: new in-circle crash + a tally UPDATE to 101 (5 injured)
    _feed(feed, "b2.jsonl", [
        _row(105, lat="0.51", lng="0.5"),
        _row(101, lat="0.5", lng="0.5", ped_inj="5"),
    ])
    run()

    got2 = {r["socrata_id"]: r for r in tx.read(spark).collect()}
    assert set(got2) == {101, 102, 103, 105}
    assert got2[101]["number_of_pedestrian_injured"] == 5   # C2 merge
    assert got2[105]["cartodb_id"] == 4                      # ids continue
    assert counts() == {1: 2} == full()       # +1 for 105

    # membership-changing update: flip 101 to zero injuries; the
    # merge's file-level retraction keeps the view exact
    _feed(feed, "b3.jsonl", [_row(101, lat="0.5", lng="0.5", ped_inj="0")])
    run()
    assert counts() == {1: 1} == full()       # only 105 qualifies now
    # the periodic rebuild agrees with the incremental view
    rebuild_rollup(spark, table, rollup, intersections)
    assert counts() == {1: 1}


def test_continuous_nightly_chained_two_streams(spark, tmp_path_factory, monkeypatch):
    """The ingest stream writes only the fact TxTable; the rollup
    stream chained off its commit log keeps rollup == full recompute
    across inserts, a tally update, and a membership-changing update
    that empties a group.  The rollup stream's source ships only the
    three columns circle_matches reads plus the change-feed metadata."""
    from nyc_crash_mapper_etl_script_spark.plans import continuous

    read_stream, source_columns = continuous.read_txtable_stream, []

    def recording_read(*args, **kw):
        df = read_stream(*args, **kw)
        source_columns.append(set(df.columns))
        return df

    monkeypatch.setattr(continuous, "read_txtable_stream", recording_read)
    feed, _, _, _, run, counts, full = _pipeline(
        spark, tmp_path_factory.mktemp("chained"))

    _feed(feed, "b1.jsonl", [
        _row(101, lat="0.5", lng="0.5"),
        _row(102),
        _row(104, lat="1.5", lng="1.5"),
    ])
    run()
    assert counts() == {1: 1, 2: 1} == full()

    # batch 2: insert in circle A + tally update (non-membership)
    _feed(feed, "b2.jsonl", [
        _row(105, lat="0.51", lng="0.5"),
        _row(101, lat="0.5", lng="0.5", ped_inj="5"),
    ])
    run()
    assert counts() == {1: 2, 2: 1} == full()

    # batch 3: membership-changing update -- 104 drops to 0 injuries;
    # the merge's file-level retraction decrements circle B to zero
    # and the group vanishes from the rollup
    _feed(feed, "b3.jsonl", [_row(104, lat="1.5", lng="1.5", ped_inj="0")])
    run()
    assert counts() == {1: 2} == full()

    assert source_columns == 3 * [{  # one rollup stream per run()
        "number_of_persons_injured", "number_of_persons_killed", "the_geom",
        "_change_type", "_commit_version",
    }]


def test_rollup_survives_a_failed_first_commit(spark, tmp_path_factory, monkeypatch):
    """A process killed before the rollup's first commit: the re-run
    replays the fact table's change feed into the rollup, which then
    equals the full recompute."""
    from pyspark.sql.streaming import StreamingQueryException

    from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

    feed, _, rollup, _, run, counts, full = _pipeline(
        spark, tmp_path_factory.mktemp("replay"))
    commit = TxTable._commit
    failed = []

    def fail_once(self, *args, **kw):
        if os.path.abspath(self.root) == rollup and not failed:
            failed.append(self.root)
            raise RuntimeError("injected rollup commit failure")
        return commit(self, *args, **kw)

    monkeypatch.setattr(TxTable, "_commit", fail_once)
    _feed(feed, "b1.jsonl", [
        _row(101, lat="0.5", lng="0.5"),
        _row(104, lat="1.5", lng="1.5"),
    ])
    with pytest.raises(StreamingQueryException, match="injected"):
        run()
    assert failed and not TxTable(rollup).exists()
    run()
    assert counts() == {1: 1, 2: 1} == full()


def test_constraints_gate_the_continuous_pipeline(spark, tmp_path_factory):
    """CHECK constraints compose with the streaming pipeline with
    ZERO pipeline changes: the fact table is created with a
    constraint, the pipeline's fresh handles inherit it from the
    commit log, and a poisoned batch fails the stream while the
    table keeps only valid rows."""
    from pyspark.sql.streaming import StreamingQueryException

    from nyc_crash_mapper_etl_script_spark.plans.continuous import (
        continuous_nightly,
    )
    from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

    root = tmp_path_factory.mktemp("cons")
    feed = root / "feed"
    feed.mkdir()
    districts, intersections, crosswalk = _dims(spark)
    table, rollup, ckpt = str(root / "fact"), str(root / "mv"), str(root / "ck")

    def run():  # the constraint guards the fact table: ingest only
        q, _ = continuous_nightly(
            spark, str(feed), table, rollup, ckpt,
            districts, intersections, crosswalk,
        )
        _drain(q)

    # good batch 1 establishes the table -- but FIRST, pin the
    # constraint into the log by pre-creating the table empty-ish:
    # run batch 1 normally, then record the constraint via a handle
    _feed(feed, "b1.jsonl", [_row(101, lat="0.5", lng="0.5")])
    run()
    # attach the constraint going forward (spec rides the next commit)
    guard = TxTable(
        table,
        partition_by=["__ym"],
        constraints={"nonneg_injured": "number_of_persons_injured >= 0"},
    )
    guard.append(guard.read(spark).where("1=0"))  # no-op data, logs the spec
    assert TxTable(table, partition_by=["__ym"]).constraint_spec() is not None

    # batch 2 carries a poisoned row: the sink's append must abort
    _feed(feed, "b2.jsonl", [_row(102, lat="0.5", lng="0.5", ped_inj="-5")])
    with pytest.raises(StreamingQueryException, match="nonneg_injured"):
        run()
    # the table still holds only the valid row
    got = {r["socrata_id"] for r in TxTable(table, partition_by=["__ym"]).read(spark).collect()}
    assert got == {101}
