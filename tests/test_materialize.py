"""Pins for the r13 size-aware shared-materialization policy
(functions/materialize.py).

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
