"""Pins for the materialization policy (functions/materialize.py):
dimensions become local relations, corpus subtrees are shared.

Contract: under the input-bytes bound (the whole local/bench regime)
``share_corpus_subtree`` IS ``localCheckpoint(eager=False)`` -- plans
and bench behavior byte-identical to r12; past the bound it returns a
DISK_ONLY-persisted DataFrame (lineage kept, no storage-memory
pinning) with identical rows.  The estimator reads file-relation leaf
sizes only, so derived/join plans cannot inflate the decision.
"""

from __future__ import annotations

import pyspark
from pyspark import StorageLevel
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.functions.materialize import (
    _ENV,
    file_input_bytes,
    local_dimension,
    share_corpus_subtree,
)


def _docs(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("mat") / "docs.parquet")
    spark.createDataFrame(
        [(i, f"text {i} " * 5) for i in range(200)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def test_file_input_bytes_sums_scan_leaves_not_join_output(
    spark, tmp_path_factory
):
    d = _docs(spark, tmp_path_factory)
    one = file_input_bytes(d)
    assert one > 0
    j = d.select("doc_id").join(d.select("doc_id", "text"), "doc_id")
    # a self-join's input gauge is 2x the file bytes -- NOT the
    # multiplicative join-output estimate
    assert file_input_bytes(j) == 2 * one
    # non-file leaves gauge to zero
    local = spark.createDataFrame([(1,)], "a long")
    assert file_input_bytes(local) == 0


def test_under_bound_is_lazy_local_checkpoint(spark, tmp_path_factory):
    d = _docs(spark, tmp_path_factory)
    out = share_corpus_subtree(d.select("doc_id"))
    # localCheckpoint replaces the plan with an RDD scan (the r12
    # shape): consumers read the one materialization, not the files
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()
    # and it is NOT the persist branch
    assert out.storageLevel != StorageLevel.DISK_ONLY
    assert out.count() == 200


def test_past_bound_is_disk_only_persist_same_rows(
    spark, tmp_path_factory, monkeypatch
):
    d = _docs(spark, tmp_path_factory)
    sub = d.select("doc_id", F.length("text").alias("n"))
    want = sorted(tuple(r) for r in sub.collect())
    monkeypatch.setenv(_ENV, "0")
    out = share_corpus_subtree(sub)
    try:
        assert out.storageLevel == StorageLevel.DISK_ONLY
        got = sorted(tuple(r) for r in out.collect())
        assert got == want
        # lineage is preserved: the plan is NOT truncated to an RDD scan
        assert not out.rdd.isLocallyCheckpointed()
    finally:
        out.unpersist()


def test_operator_results_identical_on_both_branches(
    spark, tmp_path_factory, monkeypatch
):
    from nyc_crash_mapper_etl_script_spark.operators.dedup_text import (
        segment_boilerplate_removal,
    )

    d = _docs(spark, tmp_path_factory).withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, F.lit("shared boiler plate words"))
        .otherwise(F.col("text")),
    )
    base = sorted(
        tuple(r) for r in segment_boilerplate_removal(d, seg_words=2).collect()
    )
    monkeypatch.setenv(_ENV, "0")
    forced = sorted(
        tuple(r) for r in segment_boilerplate_removal(d, seg_words=2).collect()
    )
    assert forced == base
    spark.catalog.clearCache()


def test_share_over_a_disk_only_share_counts_its_files(
    spark, tmp_path_factory, monkeypatch
):
    """A subtree built on a relation shared DISK_ONLY still reads
    that relation's files, so a chain of shares over one corpus takes
    the same branch at every link."""
    d = _docs(spark, tmp_path_factory)
    monkeypatch.setenv(_ENV, "0")
    first = share_corpus_subtree(d.select("doc_id", "text"))
    second = share_corpus_subtree(first.where(F.col("doc_id") % 2 == 0))
    try:
        assert file_input_bytes(second) == file_input_bytes(d)
        assert second.storageLevel == StorageLevel.DISK_ONLY
        assert second.count() == 100
    finally:
        second.unpersist()
        first.unpersist()


_DIM_SCHEMA = (
    "id int, n int, ring array<struct<x:double,y:double>>, "
    "geom struct<center:struct<lng:double,lat:double>,radius_m:double>"
)


def _dim(spark, offset=0):
    return spark.createDataFrame(
        [
            (1 + offset, None, [(0.0, 0.0), (1.0, 0.5)], ((0.1, 0.2), 80.0)),
            (2 + offset, 7, [], ((1.5, 0.5), 8.0)),
            (3 + offset, None, None, None),
        ],
        _DIM_SCHEMA,
    )


def test_local_dimension_same_rows_as_a_local_relation(spark):
    d = _dim(spark)
    out = local_dimension(d)
    assert out.schema == d.schema
    assert out.collect() == d.collect()
    plan = out._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_local_dimension_second_call_is_memoized(spark):
    d = _dim(spark, offset=10)
    first = local_dimension(d)
    sc = spark.sparkContext
    sc.setJobGroup("local-dim-again", "second local_dimension call")
    try:
        again = local_dimension(d)
    finally:
        sc._jsc.clearJobGroup()
    assert again is first
    assert list(sc.statusTracker().getJobIdsForGroup("local-dim-again")) == []


def test_local_dimension_sees_a_same_path_overwrite(spark, tmp_path):
    p = str(tmp_path / "dim")
    _dim(spark).write.parquet(p)
    before = local_dimension(spark.read.parquet(p))
    _dim(spark, offset=100).write.mode("overwrite").parquet(p)
    after = local_dimension(spark.read.parquet(p))
    assert sorted(r["id"] for r in before.collect()) == [1, 2, 3]
    assert sorted(r["id"] for r in after.collect()) == [101, 102, 103]


def test_local_dimension_memo_is_per_session(spark, tmp_path):
    """A parquet dimension's plan key is the same in every session, so
    the session is part of the memo key: another session gets a frame
    of its own, not one bound to the first."""
    from nyc_crash_mapper_etl_script_spark.plancache import plan_key

    p = str(tmp_path / "dim")
    _dim(spark).write.parquet(p)
    other = spark.newSession()
    assert plan_key(spark.read.parquet(p)) == plan_key(other.read.parquet(p))
    mine = local_dimension(spark.read.parquet(p))
    assert local_dimension(spark.read.parquet(p)) is mine
    theirs = local_dimension(other.read.parquet(p))
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert theirs.collect() == mine.collect()
