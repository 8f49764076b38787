"""Heavy-tier scaling bench (r12 VERDICT items 2 and 5).

The driver's sf0.1 bench rows are all sub-second and dominated by
fixed stage-launch latency, so 8-vs-32-core ratios sit at ~1 for
every row and parallel scaling is unmeasurable.  This tool builds an
opt-in K-times corpus (default 10x sf0.1) and re-times the slowest
rows on it, so core-count ratios mean something.

Synthesis (deterministic, no randomness):
- ``documents`` x K: doc_id offset by copy*10^9; every WORD suffixed
  with the copy index so copies share no k-char window / shingle /
  token (the corpus behaves as K independent sf0.1 corpora -- dedup
  density per copy is preserved, cross-copy explosion is impossible).
- ``orders`` x K: o_orderkey offset by copy*10^10 (preserves %2/%4/%8
  split patterns used by the tx feed rows).
- ``events`` x K: event_id offset by copy*10^9, ts shifted +copy
  seconds (keeps per-user timelines disjoint across copies).

Usage:
  python tools/bench_heavy.py prep  [K] [heavy_dir]
  python tools/bench_heavy.py run   [heavy_dir] [--json out.json]
  python tools/bench_heavy.py quartet [heavy_dir] [--json out.json]

``run`` times the 5 slowest driver-bench rows (noop sink, min of
reps, labeled jobs) at the ambient $SPARK_GRAFT_CPUS -- run it once
at 32 and once at 8 and compare.  ``quartet`` A/Bs the four r12 §9
"plan-real, perf-unproven" rows (set_intersect_except,
text_tfidf_topterms, asof_join_salted_events, pack_concat_text)
with their shared-subtree materialization ON (code as committed) vs
OFF (DataFrame.localCheckpoint patched to identity), settling the
keep/revert question at a scale where cores are no longer idle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import release_cached
from nyc_crash_mapper_etl_script_spark import harness
from nyc_crash_mapper_etl_script_spark.schemas import load_table
from nyc_crash_mapper_etl_script_spark.session import get_spark

DEFAULT_DIR = "/tmp/spark_graft_heavy"
SRC = "/root/testdata/sf0.1"
REPS = int(os.environ.get("SPARK_GRAFT_HEAVY_REPS", "2"))


def prep(spark, k: int, heavy_dir: str) -> None:
    os.makedirs(heavy_dir, exist_ok=True)
    d = spark.read.parquet(f"{SRC}/documents.parquet")
    copies = []
    for c in range(k):
        suffix = F.lit(f"_{c}")
        copies.append(
            d.select(
                (F.col("doc_id") + c * 10**9).alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(w, suffix),
                    ),
                    " ",
                ).alias("text"),
                *[
                    F.col(n)
                    for n in d.columns
                    if n not in ("doc_id", "text")
                ],
            )
        )
    docs = copies[0]
    for c in copies[1:]:
        docs = docs.unionByName(c)
    docs.write.mode("overwrite").parquet(f"{heavy_dir}/documents.parquet")

    o = spark.read.parquet(f"{SRC}/orders.parquet")
    ordu = None
    for c in range(k):
        part = o.withColumn("o_orderkey", F.col("o_orderkey") + c * 10**10)
        ordu = part if ordu is None else ordu.unionByName(part)
    ordu.write.mode("overwrite").parquet(f"{heavy_dir}/orders.parquet")

    ev = load_table(spark, SRC, "events")
    evu = None
    for c in range(k):
        part = ev.withColumn(
            "event_id", F.col("event_id") + c * 10**9
        ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {c} SECONDS"))
        evu = part if evu is None else evu.unionByName(part)
    evu.write.mode("overwrite").parquet(f"{heavy_dir}/events.parquet")
    print(f"prep done: K={k} at {heavy_dir}")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label, fn) -> float:
    best = None
    for _ in range(REPS):
        df = fn()
        spark.sparkContext.setJobDescription(f"heavy: {label}")
        try:
            t0 = time.time()
            _noop(df)
            dt = time.time() - t0
        finally:
            spark.sparkContext.setJobDescription(None)
        best = dt if best is None else min(best, dt)
        release_cached(spark)
    print(f"{label}: {best:.2f}s")
    return round(best, 3)


def _tx_rows(spark, heavy_dir: str, out: dict) -> None:
    """The two streaming drain rows, mirroring bench.py's shapes on
    the heavy orders table (8 commits, one per %8 slice)."""
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

    orders = spark.read.parquet(f"{heavy_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    best = {"drain": None, "steady": None}
    for _ in range(REPS):
        base = tempfile.mkdtemp(prefix="heavytx_")
        try:
            t = TxTable(
                os.path.join(base, "orders_tx"),
                partition_by=["o_orderstatus"],
                retain_history=True,
            )
            t.init(orders)
            feed = TxTable(os.path.join(base, "orders_feed"))
            feed.init(orders.where(F.col("o_orderkey") % 8 == 0))
            for i in range(1, 8):
                feed.append(orders.where(F.col("o_orderkey") % 8 == i))

            spark.sparkContext.setJobDescription("heavy: tx_stream_drain")
            t0 = time.time()
            with state_partitions(spark, state_partitions_for(6)):
                q = (
                    read_txtable_stream(spark, t.root, columns=["o_orderstatus"])
                    .groupBy("o_orderstatus", CHANGE_COL)
                    .agg(F.count("*").alias("rows"))
                    .writeStream.format("noop")
                    .outputMode("complete")
                    .option("checkpointLocation", os.path.join(base, "d_ck"))
                    .trigger(availableNow=True)
                    .start()
                )
                if not q.awaitTermination(1200):
                    q.stop()
                    raise RuntimeError("heavy drain timed out")
            dt = time.time() - t0
            best["drain"] = dt if best["drain"] is None else min(best["drain"], dt)

            spark.sparkContext.setJobDescription("heavy: tx_stream_drain_steady")
            t0 = time.time()
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
                    .option("checkpointLocation", os.path.join(base, "s_ck"))
                    .start()
                )
                drain(q, 1200)
                q.stop()
                q.awaitTermination(300)
            dt = time.time() - t0
            best["steady"] = (
                dt if best["steady"] is None else min(best["steady"], dt)
            )
            spark.sparkContext.setJobDescription(None)
        finally:
            shutil.rmtree(base, ignore_errors=True)
    out["tx_stream_drain"] = round(best["drain"], 3)
    out["tx_stream_drain_steady"] = round(best["steady"], 3)
    print(f"tx_stream_drain: {best['drain']:.2f}s  steady: {best['steady']:.2f}s")


def run(spark, heavy_dir: str) -> dict:
    qs = harness.queries()
    from nyc_crash_mapper_etl_script_spark.plans.macro_bench import nightly_e2e

    out: dict[str, float] = {}
    out["dedup_substring_spans"] = _timed(
        spark, "dedup_substring_spans",
        lambda: qs["dedup_substring_spans"](spark, heavy_dir),
    )
    out["dedup_exact_substring"] = _timed(
        spark, "dedup_exact_substring",
        lambda: qs["dedup_exact_substring"](spark, heavy_dir),
    )
    out["nightly_e2e"] = _timed(
        spark, "nightly_e2e", lambda: nightly_e2e(spark, heavy_dir)
    )
    _tx_rows(spark, heavy_dir, out)
    return out


QUARTET = [
    "set_intersect_except",
    "text_tfidf_topterms",
    "asof_join_salted_events",
    "pack_concat_text",
]


def quartet(spark, heavy_dir: str) -> dict:
    from pyspark.sql import DataFrame

    qs = harness.queries()
    out: dict[str, dict[str, float]] = {}
    real_ckpt = DataFrame.localCheckpoint
    for name in QUARTET:
        out[name] = {}
        # interleaved A/B: ckpt, nockpt, ckpt, nockpt ... so host
        # drift cannot masquerade as a variant difference
        for rep in range(REPS):
            for variant in ("ckpt", "nockpt"):
                if variant == "nockpt":
                    DataFrame.localCheckpoint = (
                        lambda self, eager=True: self
                    )
                try:
                    df = qs[name](spark, heavy_dir)
                    spark.sparkContext.setJobDescription(
                        f"heavy-quartet: {name}/{variant}"
                    )
                    t0 = time.time()
                    _noop(df)
                    dt = time.time() - t0
                finally:
                    DataFrame.localCheckpoint = real_ckpt
                    spark.sparkContext.setJobDescription(None)
                cur = out[name].get(variant)
                out[name][variant] = round(
                    dt if cur is None else min(cur, dt), 3
                )
                release_cached(spark)
        print(f"{name}: {out[name]}")
    return out


def main() -> int:
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    mode = args[0] if args else "run"
    spark = get_spark("bench-heavy")
    if mode == "prep":
        k = int(args[1]) if len(args) > 1 else 10
        heavy_dir = args[2] if len(args) > 2 else DEFAULT_DIR
        prep(spark, k, heavy_dir)
        return 0
    heavy_dir = args[1] if len(args) > 1 else DEFAULT_DIR
    res = quartet(spark, heavy_dir) if mode == "quartet" else run(spark, heavy_dir)
    doc = {
        "mode": mode,
        "heavy_dir": heavy_dir,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "reps": REPS,
        "rows": res,
    }
    print(json.dumps(doc))
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(doc, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
