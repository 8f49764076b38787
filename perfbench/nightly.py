"""``nightly_batch``: a sequence of nights of the reference nightly ETL
(``plans.nightly.run_nightly``), each against the fact table the night
before committed to a TxTable.  Night 0 loads the base fact table and
is the warm pass; the timed nights follow it.

A night is timed from the ``run_nightly`` call (declaration included)
to its last commit, in wall time and in the CPU time of the process
tree (``trace.program_cpu_s``).  The map's clients then read the
published tables back ``READS`` times, apart from the night; the read
time is the median read, and the read CPU time their mean (one read
takes about a tenth of a second, too little to time once).
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.operators.enrichment import (
    intersection_crash_counts,
    update_intersection_counts,
)
from nyc_crash_mapper_etl_script_spark.operators.ingest import normalize_soda_feed
from nyc_crash_mapper_etl_script_spark.operators.reconcile import TALLY_COLS
from nyc_crash_mapper_etl_script_spark.plans import nightly
from nyc_crash_mapper_etl_script_spark.plans.macro_bench import synth_dims, synth_feed
from nyc_crash_mapper_etl_script_spark.schemas import CRASHES_SCHEMA
from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

from perfbench import gen
from perfbench.trace import program_cpu_s

#: reads after each night; their CPU time is taken once over all of
#: them, as one read's is too small to measure apart from the JVM's
#: background work
READS = 20


def _rows(df) -> Counter:
    return Counter(map(tuple, df.collect()))


class NightlyBatch:
    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer = tracer
        self.progress: list[dict] = []

    def load(self, rep: int) -> None:
        """Set-up: the dimensions and an empty fact table, in a fresh
        directory per repetition."""
        self.dir = os.path.join(self.work, f"rep{rep}")
        self.crashes = TxTable(os.path.join(self.dir, "crashes"))
        self.tallies = TxTable(os.path.join(self.dir, "intersections"))
        self.top = TxTable(os.path.join(self.dir, "highcrash"))
        #: the fact table first: its rows are the ones a night changes
        self.tables = [self.crashes, self.tallies, self.top]
        self.roots = [t.root for t in self.tables]
        self.dims = synth_dims(self.spark)
        self.crashes.init(self.spark.createDataFrame([], CRASHES_SCHEMA))
        self.night = 0
        self.next_id = 1

    def warm(self) -> None:
        """Night 0, the base load, is the warm pass."""
        self.unit()

    def _feeds(self, i: int):
        new, resent = gen.night(self.seed, i, self.next_id)
        d = os.path.join(self.dir, "in", f"night{i}")
        os.makedirs(d)
        pq.write_table(new, os.path.join(d, "events.parquet"))
        feed = synth_feed(self.spark, d)
        self.next_id += new.num_rows
        d = os.path.join(self.dir, "in", f"resent{i}")
        os.makedirs(d)
        pq.write_table(resent, os.path.join(d, "events.parquet"))
        # every other re-sent collision also moved (1% south-west, so
        # it stays inside the borough extent)
        lat = F.col("latitude")
        moved = F.col("collision_id").cast("long") % 2 == 0
        updates = synth_feed(self.spark, d).withColumn(
            "latitude",
            F.when(moved, (lat.cast("double") * 0.99).cast("string")).otherwise(lat),
        )
        self.last_updates = updates
        return feed, updates, new.num_rows + resent.num_rows

    def unit(self) -> dict:
        i, self.night = self.night, self.night + 1
        feed, updates, rows = self._feeds(i)
        districts, intersections, crosswalk = self.dims
        c0, t0 = program_cpu_s(), time.perf_counter()
        with self.tracer.span("plans.run_nightly"):
            out = nightly.run_nightly(
                feed,
                self.crashes.read(self.spark),
                districts,
                intersections,
                crosswalk,
                updates_feed=updates,
                months_window=None,
            )
        t1, c1 = time.perf_counter(), program_cpu_s()
        with self.tracer.span("exec"):
            for table, df in ((self.tallies, out["intersections"]),
                              (self.top, out["highcrash"])):
                if table.exists():
                    table.overwrite(df)
                else:
                    table.init(df)
            # the fact table last: the two above still read the night's
            # input through the shared checkpoint
            self.crashes.overwrite(out["crashes"])
        t2, c2 = time.perf_counter(), program_cpu_s()
        reads = []
        for _ in range(READS):
            r0 = time.perf_counter()
            with self.tracer.span("read"):
                self.top.read(self.spark).collect()
                self.tallies.read(self.spark).collect()
            reads.append(time.perf_counter() - r0)
        c3 = program_cpu_s()
        return {"s": t2 - t0, "write_s": t2 - t1, "read_s": statistics.median(reads),
                "cpu_s": c2 - c0, "write_cpu_s": c2 - c1, "read_cpu_s": (c3 - c2) / READS,
                "rows": rows, "changed_rows": rows}

    def live_rows(self) -> int:
        return self.next_id - 1

    def check(self) -> list[str]:
        """Committed tallies equal a recompute over the final fact
        table; ``socrata_id`` is unique; ``cartodb_id`` is dense; the
        last night's re-sent rows carry their re-sent tallies."""
        bad = []
        final = self.crashes.read(self.spark)
        n, n_soc, n_ids, lo, hi = final.agg(
            F.count(F.lit(1)),
            F.countDistinct("socrata_id"),
            F.countDistinct("cartodb_id"),
            F.min("cartodb_id"),
            F.max("cartodb_id"),
        ).first()
        if n != self.live_rows():
            bad.append(f"fact table has {n} rows, fed {self.live_rows()} ids")
        if n_soc != n:
            bad.append(f"socrata_id not unique: {n_soc} distinct of {n}")
        if (n_ids, lo, hi) != (n, 1, n):
            bad.append(f"cartodb_id not dense: {n_ids} distinct in [{lo}, {hi}] of {n}")
        _, intersections, _ = self.dims
        want = update_intersection_counts(
            intersections,
            intersection_crash_counts(final, intersections, months_window=None),
        ).select("cartodb_id", "crashcount")
        got = self.tallies.read(self.spark).select("cartodb_id", "crashcount")
        # both sides are one row per intersection: compare them here
        want, got = _rows(want), _rows(got)
        if want != got:
            diff = sum(((want - got) + (got - want)).values())
            bad.append(f"committed tallies differ from a recompute in {diff} rows")
        resent = normalize_soda_feed(self.last_updates).select("socrata_id", *TALLY_COLS)
        sent = _rows(resent)
        kept = _rows(final.join(resent.select("socrata_id"), "socrata_id", "left_semi")
                     .select("socrata_id", *TALLY_COLS))
        if sent != kept:
            stale = sum(((sent - kept) + (kept - sent)).values())
            bad.append(f"{stale} re-sent rows lack their re-sent tallies")
        return bad

