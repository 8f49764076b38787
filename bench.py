"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE stdout line, the
driver-contract JSON record
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}`` (see ``emit`` / ``LINE_BUDGET``).

Each query executes fully via the noop sink (no driver collect of
wide results -- measures the distributed plan, not row serialization).
The repo's per-layer benchmark (declaration vs execution,
per-operator self time, stage metrics) is ``perfbench/run.py``; this
harness only reports min-of-reps wall time per row.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nyc_crash_mapper_etl_script_spark import harness
from nyc_crash_mapper_etl_script_spark.functions.materialize import released_on_exit
from nyc_crash_mapper_etl_script_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "p1_projection_computed",
    "j1_dedup_anti_join",
    "j5_enrichment_join",
    "j7_circle_containment_agg",
    "j11_update_from_join",
    "w1_per_group_top5_pivot",
    "o3_global_topk",
    "c1_cdc_classify",
    "c2_tally_reconcile",
    "c3_geom_reconcile",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_bruteforce_topk",
    "sim_ivf_topk",
    "sim_pq_topk",
    "text_quality",
    "multimodal_features",
    "sessionize_events",
    "pipeline_corpus_prep",
    "asof_join_events",
    "interval_join_window_agg",
    "rolling_1h_user_value",
    "text_contamination",
    "pack_sequences",
    "dedup_minhash_incremental",
    "pipeline_training_mix",
    "dedup_exact_substring",
    "bloom_semi_join_exact",
    "dedup_segment_boilerplate",
    # the deepest snowflake in the TPC-H battery (7 joins + rollup);
    # the iterative rows (pagerank, connected components) are NOT
    # headlined: their per-iteration lazy checkpoints blur the
    # declaration/execution timing split this harness relies on
    "q9_product_profit",
    # round-5 additions: the remaining training-pipeline shapes
    "quality_model_gate",
    "dedup_semantic_clusters",
    "text_bm25_rank",
    "quality_lm_score",
    "mixture_token_budget",
    "doc_chunk_overlap",
    "dedup_tfidf_cosine",
    "pipeline_rag_prep",
    "dedup_substring_spans",
    "gopher_quality_rules",
    "sketch_kmv_overlap",
    # round-6 additions: incremental SemDeDup (continuous-ingest
    # regime) and the keep-best-per-cluster core on a non-iterative
    # clustering (select_canonical's own perf record)
    "dedup_semantic_incremental",
    "canonical_keep_best",
    # round-7 addition: the exact ray-cast pip through the grid hash
    # join -- the scale-critical spatial path's own perf record (the
    # j6/j7 rows cover only bbox range and nlj shapes)
    "j6_pip_raycast_grid",
]

#: DRIVER-CONTRACT LINE BUDGET: the driver captures only the LAST
#: ~2000 chars of stdout and parses the FINAL line as the round's
#: official bench record (BENCH_r11.json came back
#: ``parsed: null`` when an extra block pushed the line's head outside
#: that window).  Pinned by tests/test_bench_emit.py: the printed line
#: carries ONLY the contract fields (metric/value/unit/queries/sf),
#: compact separators, 2-decimal timings, and stays under this budget;
#: if the registry ever outgrows it, per-query detail spills to a side
#: file and the line keeps the slowest rows inline plus a
#: ``queries_file`` pointer.
LINE_BUDGET = 1850
QUERIES_FILE = "BENCH_QUERIES.json"


def emit(out: dict, stream=None, root: str | None = None,
         budget: int = LINE_BUDGET) -> str:
    """Print the bench record as ONE self-contained driver-contract
    JSON line under ``budget`` chars.

    Timings are rounded to 2 decimals on the wire: 10 ms resolution is
    far inside run-to-run spread on a shared host (BENCH_NOTES.md).  If
    the inline ``queries`` dict would overflow the budget, the FULL
    dict goes to ``QUERIES_FILE`` and the line keeps the slowest rows
    plus ``queries_file``/``queries_elided`` markers.

    Returns the printed line (for tests).
    """
    stream = stream if stream is not None else sys.stdout
    root = root or os.path.dirname(os.path.abspath(__file__))
    compact = {"separators": (",", ":"), "allow_nan": False}
    out = dict(out)
    out["queries"] = {k: round(v, 2) for k, v in out["queries"].items()}
    line = json.dumps(out, **compact)
    if len(line) > budget:
        full = out["queries"]
        with open(os.path.join(root, QUERIES_FILE), "w") as f:
            json.dump(full, f, indent=1)
        keep = dict(sorted(full.items(), key=lambda kv: (-kv[1], kv[0])))
        while keep:
            out["queries"] = keep
            out["queries_file"] = QUERIES_FILE
            out["queries_elided"] = len(full) - len(keep)
            line = json.dumps(out, **compact)
            if len(line) <= budget:
                break
            keep.popitem()  # desc-sorted: drops the fastest row
    print(line, file=stream)
    return line


def parse_stdout(text: str, root: str | None = None) -> dict:
    """Reconstruct the FULL bench record from one run's stdout: the
    final JSON line is the driver-contract record, and a
    ``queries_file`` pointer is resolved against ``root``.  The inverse
    of ``emit`` (tools/run_bench.py writes its result to a file)."""
    root = root or os.path.dirname(os.path.abspath(__file__))
    lines = [l for l in text.splitlines() if l.startswith("{")]
    rec = json.loads(lines[-1])
    qf = rec.pop("queries_file", None)
    if qf is not None:
        qp = qf if os.path.isabs(qf) else os.path.join(root, qf)
        with open(qp) as f:
            rec["queries"] = json.load(f)
        rec.pop("queries_elided", None)
    return rec


def release_cached(spark) -> None:
    """Unpersist every persisted RDD in the session (PER-QUERY
    ISOLATION).  Several queries pin executor storage memory via
    localCheckpoint (LSH signatures, the nightly's staged fact table);
    their RDDs are only freed when the Python refs die AND the
    ContextCleaner runs, so without this a small query timed late in
    the sequence pays earlier queries' cache pressure (the r3
    nine-query regression cluster: every regressed query ran after a
    checkpointing one in the warm pass).  Call it only between timed
    runs that each build a fresh plan, so nothing unpersisted here is
    ever reused."""
    import gc

    gc.collect()
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist(False)
    except Exception:  # noqa: BLE001 -- isolation is best-effort
        pass


def bench_storage(spark, sf_dir: str, reps: int) -> "dict[str, float]":
    """SECOND TIER: the TxTable storage layer's RMW / pruned-scan /
    stream-rollup latency, timed on the OPERATION itself (each op is
    an eager atomic commit, so the headline tier's declare-then-noop
    split would time an already-materialized result).  Fresh table
    per rep, min-of-reps like the headline tier.  Input: ``orders``
    at the bench SF, partitioned by o_orderstatus -- merge_update and
    delete_where rewrite only touched partitions, the pruned scan
    skips files via commit-log stats, and the stream rollup drains
    the three RMW commits through the txtable-changes source.

    tx_stream_drain reads as (Spark streaming bootstrap) + (source
    work): a DO-NOTHING Python streaming source costs ~1.5 s per
    availableNow query on a 32-core host (per-query planner process
    spawn + offset/commit WAL; committed as BENCH_STREAM_FLOOR.json --
    our planner adds ~0.04 s on top), and the availableNow fallback
    runs ONE micro-batch for the whole backlog, so there is no
    per-version overhead to coalesce.  The floor amortizes to zero in
    a long-running consumer; a one-shot drain benchmark pays it in
    full.  tx_stream_drain_steady is that amortized form made a row:
    the same consumer shape drains an 8-commit backlog paced to one
    commit per micro-batch, and the per-batch MARGINAL cost, measured
    bootstrap-free as (t@16 commits - t@8)/8 and committed as
    BENCH_STREAM_STEADY.json, is 0.78 s (0.28 s stateless), 2-5x
    under the bootstrap the one-shot row is dominated by.  Most of
    that stateful-vs-stateless gap is state-store commit traffic,
    O(state partitions) per micro-batch, so both drain rows size the
    rollup's state from its group cardinality instead of inheriting
    the 32 batch-shuffle default (0.37 s/batch in the same artifact's
    rollup4 variant) -- streaming/sizing.py documents the rule.  The rollup projects its two columns at the source (the
    r6 `columns` option -- parquet I/O and Arrow transport skip the
    rest), which is how a real change-feed consumer should read."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from nyc_crash_mapper_etl_script_spark.schemas import load_table
    from nyc_crash_mapper_etl_script_spark.sources.txstream import (
        CHANGE_COL,
        read_txtable_stream,
    )
    from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable
    from nyc_crash_mapper_etl_script_spark.streaming import drain
    from nyc_crash_mapper_etl_script_spark.streaming.sizing import (
        state_partitions,
        state_partitions_for,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
    )
    upd = orders.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    lo, hi = "1994-01-01", "1994-12-31"
    samples: dict[str, list[float]] = {}

    def rec(name, fn):
        spark.sparkContext.setJobDescription(f"bench-storage: {name}")
        try:
            t0 = time.time()
            fn()
            dt = time.time() - t0
        finally:
            spark.sparkContext.setJobDescription(None)
        samples.setdefault(name, []).append(dt)

    for _ in range(reps):
        base = tempfile.mkdtemp(prefix="benchtx_")
        try:
            t = TxTable(
                os.path.join(base, "orders_tx"),
                partition_by=["o_orderstatus"],
                retain_history=True,
            )
            rec("tx_init", lambda: t.init(orders))
            rec(
                "tx_merge_update",
                lambda: t.merge_update(
                    upd, "o_orderkey", set_cols=["o_totalprice"]
                ),
            )
            rec(
                "tx_delete_where",
                lambda: t.delete_where(
                    spark, F.col("o_orderkey") % 97 == 0
                ),
            )
            rec(
                "tx_pruned_scan",
                lambda: t.read_pruned(spark, "o_orderdate", lo, hi)
                .write.format("noop")
                .mode("overwrite")
                .save(),
            )

            def drain():
                # the rollup holds 6 groups (3 statuses x 2 change
                # types): state partitions DERIVED from that
                # cardinality (r13; sizing.state_partitions_for ->
                # 2) instead of the r8 constant 8 -- per-batch
                # state-store commits are O(state partitions)
                # (streaming/sizing.py has the sizing rule + numbers)
                out = os.path.join(base, "feed")
                with state_partitions(spark, state_partitions_for(6)):
                    q = (
                        read_txtable_stream(
                            spark, t.root, columns=["o_orderstatus"]
                        )
                        .groupBy("o_orderstatus", CHANGE_COL)
                        .agg(F.count("*").alias("rows"))
                        .writeStream.format("noop")
                        .outputMode("complete")
                        .option("checkpointLocation", out + "_ck")
                        .trigger(availableNow=True)
                        .start()
                    )
                    if not q.awaitTermination(300):
                        q.stop()
                        raise RuntimeError("tx_stream_drain timed out")
                shutil.rmtree(out + "_ck", ignore_errors=True)

            rec("tx_stream_drain", drain)

            # STEADY-STATE drain (r6 VERDICT item 5): the same rows
            # as 8 separate commits, drained by ONE long-running
            # query paced to one commit per micro-batch
            # (maxVersionsPerBatch=1; availableNow can't pace -- its
            # fallback coalesces the backlog into one batch, so this
            # row uses the default trigger + processAllAvailable,
            # the long-running-consumer mode the floor argument is
            # about).  The row's time is one query bootstrap (same
            # ~1.5 s class as BENCH_STREAM_FLOOR's availableNow
            # measurement) + 8x the true per-batch cost, so
            # per-batch = (tx_stream_drain_steady - floor) / 8 is
            # directly comparable to the one-shot row's
            # (tx_stream_drain - floor) / 1.  This is the number a
            # long-running consumer actually pays per change-feed
            # batch; the bootstrap amortizes away.
            feed = TxTable(os.path.join(base, "orders_feed"))
            feed.init(orders.where(F.col("o_orderkey") % 8 == 0))
            for i in range(1, 8):
                feed.append(orders.where(F.col("o_orderkey") % 8 == i))

            def drain_steady():
                # same cardinality-derived state sizing as drain();
                # at one commit per micro-batch the per-partition
                # state-store commit traffic dominates the marginal
                # cost, so this row feels it 8x
                out = os.path.join(base, "feed_steady")
                with state_partitions(spark, state_partitions_for(6)):
                    q = (
                        read_txtable_stream(
                            spark,
                            feed.root,
                            max_versions_per_batch=1,
                            columns=["o_orderstatus"],
                        )
                        .groupBy("o_orderstatus", CHANGE_COL)
                        .agg(F.count("*").alias("rows"))
                        .writeStream.format("noop")
                        .outputMode("complete")
                        .option("checkpointLocation", out + "_ck")
                        .start()
                    )
                    drain(q, 300)
                    q.stop()
                    q.awaitTermination(300)
                n = len(
                    [
                        c
                        for c in os.listdir(os.path.join(out + "_ck", "commits"))
                        if not c.startswith(".")
                    ]
                )
                assert n == 8, f"steady drain ran {n} batches, expected 8"
                shutil.rmtree(out + "_ck", ignore_errors=True)

            rec("tx_stream_drain_steady", drain_steady)
            # deletion-vector sparse delete, LAST so the dv commit
            # perturbs no other row's feed or scan: O(deleted rows)
            # written instead of rewriting every touched partition
            # (BENCH_DV_AB.json holds the byte asymmetry; this row
            # tracks the wall cost per round)
            rec(
                "tx_dv_delete",
                lambda: t.delete_where(
                    spark, F.col("o_orderkey") % 89 == 0, dv=True
                ),
            )
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return {k: round(min(v), 3) for k, v in samples.items()}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")
    qs = harness.queries()
    names = [n for n in HEADLINE if n in qs] or list(qs)

    from nyc_crash_mapper_etl_script_spark.plans.macro_bench import nightly_e2e

    # the full reference main() DAG over a crash-shaped workload
    # synthesized from `events`.  Its shares run most of the night at
    # declaration, which runq does not time: this row's timer covers
    # only the write of the fact table (tools/decl_bench.py times both)
    names = names + ["nightly_e2e"]

    def build(name):
        return (
            nightly_e2e(spark, sf_dir)
            if name == "nightly_e2e"
            else qs[name](spark, sf_dir)
        )

    def runq(name):
        # a FRESH plan per execution: queries that internally cache a
        # subtree (lazy localCheckpoint in the LSH dedup) must not get
        # to reuse a previous run's materialization -- every timed run
        # recomputes the full operator.  The timer starts after plan
        # declaration: driver-side construction / Catalyst analysis is
        # a fixed per-query cost independent of data scale, so the
        # number measures distributed execution, the quantity that
        # grows with the data.  Relations shared DISK_ONLY are
        # unpersisted when the run ends.
        with released_on_exit():
            df = build(name)
            # label the jobs (guide §1.5) so a UI-enabled run maps stages
            # back to rows; a thread-local setter, microseconds, untimed.
            # try/finally: a raising run must not leak this row's label
            # onto later rows' jobs
            spark.sparkContext.setJobDescription(f"bench: {name}")
            try:
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
            finally:
                spark.sparkContext.setJobDescription(None)
        return dt

    # warm pass (untimed): JVM JIT, parquet footers, physical
    # compilation.  Then REPS timed executions per query, reporting the
    # per-query MINIMUM: this box is a shared VM, and min-of-k is the
    # standard way to read steady-state compute through host noise.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    for name in names:
        runq(name)

    timings: dict[str, float] = {}
    for name in names:
        release_cached(spark)
        timings[name] = round(min(runq(name) for _ in range(reps)), 3)
    release_cached(spark)
    timings.update(bench_storage(spark, sf_dir, reps))
    total = round(sum(timings.values()), 3)
    emit(
        {
            "metric": "steady-state headline-query wall time, noop sink",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
        }
    )


if __name__ == "__main__":
    main()
