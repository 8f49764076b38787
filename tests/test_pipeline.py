"""End-to-end pipeline tests: soda fixture -> normalize -> nightly
DAG -> outputs; streaming ingest; sources/sinks roundtrips."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.operators.ingest import normalize_soda_feed
from nyc_crash_mapper_etl_script_spark.plans.nightly import run_backfill, run_nightly
from nyc_crash_mapper_etl_script_spark.schemas import SODA_FEED_SCHEMA
from nyc_crash_mapper_etl_script_spark.sources.readers import read_csv, read_soda_snapshot
from nyc_crash_mapper_etl_script_spark.sources.sinks import append_merge, overwrite_view, write_csv


def _feed_rows():
    base = {
        "number_of_motorist_injured": "0",
        "number_of_motorist_killed": "0",
        "number_of_cyclist_injured": "0",
        "number_of_cyclist_killed": "0",
        "number_of_pedestrians_injured": "1",
        "number_of_pedestrians_killed": "0",
        "number_of_persons_injured": "1",
        "number_of_persons_killed": "0",
    }
    return [
        # normal row inside borough box, with messy streets/arrays
        {
            **base,
            "collision_id": "101",
            "crash_date": "2024-06-01T00:00:00.000",
            "crash_time": "9:35",
            "latitude": "0.5",
            "longitude": "0.5",
            "on_street_name": "  MAIN ST  ",
            "contributing_factor_vehicle_1": "Driver Inattention, Unsafe Speed",
            "vehicle_type_code1": "Sedan",
            "vehicle_type_code2": "'Bike'",
        },
        # missing persons totals -> reconstructed; no coords -> null geom
        {
            **{k: v for k, v in base.items()
               if not k.startswith("number_of_persons")},
            "collision_id": "102",
            "crash_date": "2024-06-02T00:00:00.000",
            "crash_time": "23:59",
            "number_of_motorist_injured": "2",
        },
        # outside the borough extent -> geom nulled by stage 2
        {
            **base,
            "collision_id": "103",
            "crash_date": "2024-06-03T00:00:00.000",
            "crash_time": "0:01",
            "latitude": "55.0",
            "longitude": "99.0",
            "vehicle_type_code1": "Sedan",
        },
        # different month (backfill filter target)
        {
            **base,
            "collision_id": "104",
            "crash_date": "2024-05-10T00:00:00.000",
            "crash_time": "12:00",
            "latitude": "1.2",
            "longitude": "3.0",
        },
    ]


@pytest.fixture(scope="module")
def feed(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("feed") / "feed.jsonl"
    with open(p, "w") as f:
        for r in _feed_rows():
            f.write(json.dumps(r) + "\n")
    return read_soda_snapshot(spark, str(p))


def _districts(spark):
    def ring(x0, y0, x1, y1):
        return [Row(x=x0, y=y0), Row(x=x1, y=y0), Row(x=x1, y=y1), Row(x=x0, y=y1)]

    return spark.createDataFrame(
        [
            Row(kind="borough", identifier="Brooklyn", the_geom=ring(0.0, 0.0, 2.0, 2.0)),
            Row(kind="borough", identifier="Queens", the_geom=ring(2.0, 0.0, 4.0, 2.0)),
            Row(kind="nypd_precinct", identifier="71", the_geom=ring(0.0, 0.0, 2.0, 2.0)),
        ]
    )


def _intersections(spark):
    return spark.createDataFrame(
        [(10, "x", "b", ((0.5, 0.5), 200000.0), None)],
        ("cartodb_id long, name string, borough string, "
         "the_geom struct<center:struct<lng:double,lat:double>,radius_m:double>, "
         "crashcount int"),
    )


def _crosswalk(spark):
    return spark.createDataFrame(
        [("sedan", "CAR"), ("Sedan", "CAR"), ("Bike", "BICYCLE")],
        "nyc_vehicletype string, crashmapper_vehicletype string",
    )


def test_normalize_soda_feed(spark, feed):
    out = {r["socrata_id"]: r for r in normalize_soda_feed(feed).collect()}
    r = out[101]
    assert str(r["date_val"]) == "2024-06-01 09:35:00"
    assert (r["year"], r["month"], r["crash_count"]) == ("2024", "06", 1)
    assert r["on_street_name"] == "MAIN ST"
    assert r["borough"] == ""
    assert r["vehicle_type"] == ["Sedan", "Bike"]
    assert r["contributing_factor"] == ["Driver Inattention", "Unsafe Speed"]
    assert r["the_geom"] == Row(lng=0.5, lat=0.5)
    # reconstructed persons totals (plural feed -> singular fact)
    r2 = out[102]
    assert r2["number_of_persons_injured"] == 3  # 2 motorist + 0 cyclist + 1 ped
    assert r2["number_of_pedestrian_injured"] == 1
    assert r2["the_geom"] is None and r2["longitude"] is None


def _empty_crashes(spark):
    norm = normalize_soda_feed(
        spark.createDataFrame([], SODA_FEED_SCHEMA)
    )
    return norm.withColumn("cartodb_id", F.lit(None).cast("long")).where(F.lit(False))


def test_run_nightly_end_to_end(spark, feed):
    out = run_nightly(
        feed,
        _empty_crashes(spark),
        _districts(spark),
        _intersections(spark),
        _crosswalk(spark),
        reference_date="2024-07-01",
    )
    crashes = {r["socrata_id"]: r for r in out["crashes"].collect()}
    assert len(crashes) == 4
    # serial ids assigned deterministically by socrata_id
    assert [crashes[k]["cartodb_id"] for k in sorted(crashes)] == [1, 2, 3, 4]
    # stage 2: out-of-extent geom nulled
    assert crashes[103]["the_geom"] is None
    # stage 6: pip linkage + int cast
    assert crashes[101]["borough"] == "Brooklyn"
    assert crashes[101]["nypd_precinct"] == 71
    assert crashes[104]["borough"] == "Queens"
    # stage 7: flags from crosswalk (8 kinds present in schema)
    assert crashes[101]["hasvehicle_car"] is True
    assert crashes[101]["hasvehicle_bicycle"] is True
    assert crashes[104]["hasvehicle_car"] is False
    # stage 8: blame
    assert crashes[101]["blame_factor"] == 1.0
    assert crashes[101]["pedestrian_injured_bycar"] == 1.0
    # stage 5: intersection counts + top-k
    inters = {r["cartodb_id"]: r["crashcount"] for r in out["intersections"].collect()}
    assert inters[10] >= 1
    high = out["highcrash"].collect()
    assert high[0]["cartodb_id"] == 10


def test_nightly_idempotent(spark, feed):
    first = run_nightly(
        feed, _empty_crashes(spark), _districts(spark), _intersections(spark),
        _crosswalk(spark), reference_date="2024-07-01",
    )["crashes"]
    # feeding the same batch again on top of the merged table adds 0
    again = run_nightly(
        feed, first, _districts(spark), _intersections(spark),
        _crosswalk(spark), reference_date="2024-07-01",
    )["crashes"]
    assert again.count() == first.count()


def test_backfill_month_filter(spark, feed):
    out = run_backfill(
        feed, _empty_crashes(spark), _districts(spark), _intersections(spark),
        _crosswalk(spark), month="2024-05", reference_date="2024-07-01",
    )["crashes"]
    assert [r["socrata_id"] for r in out.collect()] == [104]


def _updates(spark):
    """101 re-sent with updated tallies and moved coordinates."""
    row = dict(_feed_rows()[0])
    row["number_of_pedestrians_injured"] = "5"
    row["number_of_persons_injured"] = "5"
    row["latitude"] = "1.5"   # moved from (0.5,0.5) -> still Brooklyn
    row["longitude"] = "0.5"
    return spark.createDataFrame(
        [tuple(row.get(f.name) for f in SODA_FEED_SCHEMA.fields)],
        SODA_FEED_SCHEMA,
    )


def test_nightly_with_updates_feed(spark, feed):
    base = run_nightly(
        feed, _empty_crashes(spark), _districts(spark), _intersections(spark),
        _crosswalk(spark), reference_date="2024-07-01",
    )["crashes"]
    out = run_nightly(
        feed, base, _districts(spark), _intersections(spark), _crosswalk(spark),
        updates_feed=_updates(spark), reference_date="2024-07-01",
    )["crashes"]
    r = {x["socrata_id"]: x for x in out.collect()}[101]
    assert r["number_of_pedestrian_injured"] == 5
    assert r["latitude"] == 1.5
    assert r["borough"] == "Brooklyn"  # re-linked after geom move


#: the nightly batch's commit order: the fact table last
_COMMIT_ORDER = ("intersections", "highcrash", "crashes")


def _commit_night(spark, out, root):
    """Overwrite three existing TxTables with a night's outputs, in
    the nightly batch's order, under one job group.  Returns the
    tables and the ids of the jobs the three commits submitted."""
    from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

    tables = {}
    for name in _COMMIT_ORDER:
        tables[name] = TxTable(str(root / name))
        tables[name].init(spark.createDataFrame([], out[name].schema))
    sc = spark.sparkContext
    group = f"commit-night-{root.name}"
    sc.setJobGroup(group, "commit one night")
    try:
        for name in _COMMIT_ORDER:
            tables[name].overwrite(out[name])
    finally:
        sc._jsc.clearJobGroup()
    return tables, sc.statusTracker().getJobIdsForGroup(group)


def test_nightly_commits_do_not_rerun_the_night(spark, feed, tmp_path):
    """The outputs fork after enrichment and after the tallies; both
    forks are shared, so the night's joins, linkage, blame and tallies
    run once in run_nightly and each commit submits only its own jobs.
    The two shared outputs are their own pins, so each is stored once
    and costs one write job; only the top-k view, derived from the
    shared tallies, is pinned before its write."""
    out = run_nightly(
        feed, _empty_crashes(spark), _districts(spark), _intersections(spark),
        _crosswalk(spark), updates_feed=_updates(spark),
        reference_date="2024-07-01",
    )
    tables, jobs = _commit_night(spark, out, tmp_path)
    assert len(jobs) <= len(tables) + 1, sorted(jobs)
    for name, table in tables.items():
        want = out[name]
        got = table.read(spark).select(*want.columns)
        assert sorted(map(str, got.collect())) == sorted(map(str, want.collect())), name


def test_disk_only_shares_released_after_a_night(spark, feed, tmp_path, monkeypatch):
    """Past the size bound every share of a night persists DISK_ONLY;
    the scope unpersists all three once the night is committed."""
    from nyc_crash_mapper_etl_script_spark.functions.materialize import (
        _ENV,
        released_on_exit,
    )

    def disk_only_rdds():
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        out = set()
        for rid in rdds.keySet().toArray():
            level = rdds.get(rid).getStorageLevel()
            if level.useDisk() and not level.useMemory():
                out.add(rid)
        return out

    # file-backed dimensions, so every shared subtree reads files
    dims = []
    for name, df in (("districts", _districts(spark)),
                     ("intersections", _intersections(spark)),
                     ("crosswalk", _crosswalk(spark))):
        df.write.parquet(str(tmp_path / name))
        dims.append(spark.read.parquet(str(tmp_path / name)))
    monkeypatch.setenv(_ENV, "0")
    before = disk_only_rdds()
    with released_on_exit():
        out = run_nightly(
            feed, _empty_crashes(spark), *dims, updates_feed=_updates(spark),
            reference_date="2024-07-01",
        )
        _commit_night(spark, out, tmp_path / "tables")
        assert len(disk_only_rdds() - before) == 3
    assert disk_only_rdds() == before


def test_drain_times_out_loudly(spark):
    """A drain that cannot finish stops its query and raises instead
    of waiting forever."""
    import time

    from nyc_crash_mapper_etl_script_spark.streaming import drain

    q = (
        spark.readStream.format("rate").load()
        .writeStream.foreachBatch(lambda df, batch_id: time.sleep(5))
        .start()
    )
    with pytest.raises(TimeoutError, match="not drained in 1 s; last progress"):
        drain(q, 1)
    assert not q.isActive


def test_streaming_ingest(spark, tmp_path_factory):
    from nyc_crash_mapper_etl_script_spark.streaming.ingest import stream_ingest

    root = tmp_path_factory.mktemp("stream")
    feed_dir = root / "feed"
    feed_dir.mkdir()
    with open(feed_dir / "batch1.jsonl", "w") as f:
        for r in _feed_rows():
            f.write(json.dumps(r) + "\n")
        # in-stream duplicate of 101 -> dropDuplicates keeps one
        f.write(json.dumps(_feed_rows()[0]) + "\n")
    target = str(root / "target")
    q = stream_ingest(
        spark, str(feed_dir), target, str(root / "ckpt"),
        reconcile_tallies=False,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(target)
    assert got.count() == 4
    assert got.select("socrata_id").distinct().count() == 4
    # second run with one new + one replayed row: exactly-once append
    with open(feed_dir / "batch2.jsonl", "w") as f:
        f.write(json.dumps(_feed_rows()[1]) + "\n")
        extra = dict(_feed_rows()[0])
        extra["collision_id"] = "999"
        f.write(json.dumps(extra) + "\n")
    q2 = stream_ingest(
        spark, str(feed_dir), target, str(root / "ckpt"),
        reconcile_tallies=False,
    )
    q2.awaitTermination(120)
    got2 = spark.read.parquet(target)
    assert got2.count() == 5
    assert {r["socrata_id"] for r in got2.select("socrata_id").collect()} == {
        101, 102, 103, 104, 999,
    }


def test_csv_roundtrip(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("csv") / "out")
    df = spark.createDataFrame([(2, "b"), (1, "a")], "id int, v string")
    write_csv(df, p, order_by=["id"])
    back = read_csv(spark, p)
    assert [tuple(r) for r in back.orderBy("id").collect()] == [(1, "a"), (2, "b")]


def test_append_merge_sink(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("merge") / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    base.write.parquet(p)
    staged = spark.createDataFrame([(2, "dup"), (3, "c")], "k long, v string")
    n = append_merge(staged, spark.read.parquet(p), "k", p)
    assert n == 1
    assert spark.read.parquet(p).count() == 3
    n2 = append_merge(staged, spark.read.parquet(p), "k", p)
    assert n2 == 0  # idempotent


def test_overwrite_view(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("view") / "v")
    overwrite_view(spark.range(10).toDF("n"), p)
    assert spark.read.parquet(p).count() == 10
    overwrite_view(spark.range(3).toDF("n"), p)
    assert spark.read.parquet(p).count() == 3


def test_compact_rewrites_small_files(spark, tmp_path_factory):
    from nyc_crash_mapper_etl_script_spark.sources.sinks import compact

    p = str(tmp_path_factory.mktemp("compact") / "t")
    base = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 5).alias("v"))
    base.write.parquet(p)
    # simulate many tiny incremental appends
    for i in range(5):
        spark.range(1000 + i * 10, 1000 + (i + 1) * 10).select(
            F.col("id"), (F.col("id") % 5).alias("v")
        ).repartition(4).write.mode("append").parquet(p)
    before_files = len(spark.read.parquet(p).inputFiles())
    before = {tuple(r) for r in spark.read.parquet(p).collect()}
    n = compact(spark, p)
    after = {tuple(r) for r in spark.read.parquet(p).collect()}
    assert after == before            # contents unchanged
    assert len(spark.read.parquet(p).inputFiles()) == n < before_files


def test_streaming_ingest_reconciles_tallies(spark, tmp_path_factory):
    """C2 on the stream: a replayed row whose tallies changed flows to
    the reconcile path and the repaired snapshot lands beside the
    target (the foreachBatch merge-vs-update classification)."""
    from nyc_crash_mapper_etl_script_spark.streaming.ingest import stream_ingest

    root = tmp_path_factory.mktemp("stream_rec")
    feed_dir = root / "feed"
    feed_dir.mkdir()
    target = str(root / "target")

    with open(feed_dir / "b1.jsonl", "w") as f:
        for r in _feed_rows():
            f.write(json.dumps(r) + "\n")
    q = stream_ingest(spark, str(feed_dir), target, str(root / "ckpt"),
                      reconcile_tallies=True)
    q.awaitTermination(120)
    assert spark.read.parquet(target).count() == 4

    # replay row 101 with a bumped pedestrian tally
    upd = dict(_feed_rows()[0])
    upd["number_of_pedestrians_injured"] = "7"
    upd["number_of_persons_injured"] = "7"
    with open(feed_dir / "b2.jsonl", "w") as f:
        f.write(json.dumps(upd) + "\n")
    q2 = stream_ingest(spark, str(feed_dir), target, str(root / "ckpt"),
                       reconcile_tallies=True)
    q2.awaitTermination(120)

    # no duplicate insert, and the target itself carries the repair
    got = spark.read.parquet(target)
    assert got.count() == 4
    r101 = {r["socrata_id"]: r for r in got.collect()}[101]
    assert r101["number_of_pedestrian_injured"] == 7


def test_macro_bench_nightly_e2e(spark):
    """The synthesized macro workload runs the whole DAG and produces
    enriched rows: every geo-coded crash gets its districts, flags,
    and blame columns."""
    from nyc_crash_mapper_etl_script_spark.plans.macro_bench import nightly_e2e

    out = nightly_e2e(spark, "/root/testdata/sf0.001")
    rows = out.where(F.col("the_geom").isNotNull()).limit(50).collect()
    assert rows
    for r in rows:
        assert r["borough"] is not None          # pip linkage hit
        assert r["nypd_precinct"] is not None    # int-typed kind too
        assert r["blame_factor"] is not None and r["blame_factor"] > 0
    total = out.count()
    geo = out.where(F.col("the_geom").isNotNull()).count()
    assert total > geo > 0.9 * total * 0.95  # ~5% geo-less quirk rows


def test_with_alerts_fires_on_failure(spark, feed):
    """S12: a failing nightly run emits exactly one alert through the
    injected sink and re-raises; a healthy run emits none."""
    from nyc_crash_mapper_etl_script_spark.plans.alerts import with_alerts

    seen = []

    def fake_sink(subject, message):
        seen.append((subject, message))

    def boom(_feed):
        raise ValueError("upstream API said no")

    with pytest.raises(ValueError, match="upstream API said no"):
        with_alerts(boom, feed, alert_sink=fake_sink, subject="nightly")
    assert len(seen) == 1
    assert seen[0][0] == "nightly"
    assert "upstream API said no" in seen[0][1]

    ok = with_alerts(
        run_nightly,
        feed,
        _empty_crashes(spark),
        _districts(spark),
        _intersections(spark),
        _crosswalk(spark),
        alert_sink=fake_sink,
        reference_date="2024-07-01",
    )
    assert seen[1:] == []
    assert set(r["socrata_id"] for r in ok["crashes"].collect()) == {101, 102, 103, 104}
