"""``txtable_mixed``: storage rounds over an ``orders`` TxTable.

One round writes (``append``, ``merge_update``, ``delete_where`` in its
rewrite and deletion-vector forms), reads (``read_pruned``, a full
``read``), drains the new commits through a ``read_txtable_stream``
change-feed consumer into a parquet sink, and then, the consumer having
caught up, vacuums and compacts, so the table's size on disk stays
level from round to round.

Each part is timed in wall time and in the CPU time of the process
tree (``trace.program_cpu_s``).  The same ops are applied to a pandas
model of the table, outside the timed region; the checks compare the table, every read and the
change feed's net rows against it.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.sources.txstream import (
    CHANGE_COL,
    VERSION_COL,
    read_txtable_stream,
)
from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

from perfbench import gen
from perfbench.trace import program_cpu_s

KEY = "o_orderkey"
DRAIN_TIMEOUT_S = 120
#: rounds run as the warm pass.  The first pays for the cold JVM and for
#: starting the change-feed reader's Python workers; the second still
#: runs slower, and less evenly from run to run, than later ones.
WARM_ROUNDS = 2


def _cents(price) -> "F.Column":
    return F.sum(F.round(price * 100).cast("long"))


class TxTableMixed:
    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer = tracer
        self.progress: list[dict] = []
        self.bad: list[str] = []

    def load(self, rep: int) -> None:
        """Set-up: the base table and its model, in a fresh directory
        per repetition."""
        self.dir = os.path.join(self.work, f"rep{rep}")
        self.table = TxTable(
            os.path.join(self.dir, "orders"), partition_by=["o_orderstatus"],
            retain_history=True,
        )
        self.tables = [self.table]
        self.roots = [self.table.root]
        self.cdf = os.path.join(self.dir, "cdf")
        self.cdf_ck = os.path.join(self.dir, "cdf_ck")
        base = gen.base_orders(self.seed)
        self.model = base.to_pandas().set_index(KEY, drop=False)
        self.next_key = base.num_rows + 1
        self.round = 0
        self.table.init(self._frame(base, "base"))
        self.start_version = self.table.history()[0]["version"]

    def warm(self) -> None:
        for _ in range(WARM_ROUNDS):
            self.unit()
        self.timed_from_version = self.table.history()[0]["version"]
        self.timed_from = self.model.copy()

    def _frame(self, t: pa.Table, name: str):
        path = os.path.join(self.dir, "in", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(t, path)
        return self.spark.read.parquet(path)

    def unit(self) -> dict:
        i, self.round = self.round, self.round + 1
        r = gen.storage_round(
            self.seed, i, self.model.index.to_numpy(), self.next_key
        )
        app = self._frame(r.append, f"append{i}")
        upd = self._frame(r.update, f"update{i}")
        key = F.col(KEY)
        t = self.table
        c0, t0 = program_cpu_s(), time.perf_counter()
        t.append(app)
        t.merge_update(upd, KEY, ["o_totalprice"])
        t.delete_where(self.spark, (key >= r.delete_lo) & (key < r.delete_hi))
        t.delete_where(self.spark, key.isin(r.dv_keys), dv=True)
        t1, c1 = time.perf_counter(), program_cpu_s()
        kept = len(t.pruned_files(KEY, r.read_lo, r.read_hi))
        live = len(t.pruned_files(KEY, -(2**62), 2**62))
        pruned = t.read_pruned(self.spark, KEY, r.read_lo, r.read_hi).agg(
            F.count(F.lit(1)), _cents(F.col("o_totalprice"))
        ).first()
        full = {
            row[0]: (row[1], row[2])
            for row in t.read(self.spark).groupBy("o_orderstatus").agg(
                F.count(F.lit(1)), _cents(F.col("o_totalprice"))
            ).collect()
        }
        self._drain()
        t2, c2 = time.perf_counter(), program_cpu_s()
        # maintenance once the consumer has caught up: drop the history
        # it has read, then compact this round's small files (the next
        # drain still reads the files the compaction retires)
        t.vacuum()
        t.compact(self.spark)
        t3, c3 = time.perf_counter(), program_cpu_s()
        changed = self._apply(r)
        self._check_reads(i, r, tuple(pruned), full)
        return {"s": t3 - t0, "write_s": (t1 - t0) + (t3 - t2),
                "read_s": t2 - t1, "cpu_s": c3 - c0,
                "write_cpu_s": (c1 - c0) + (c3 - c2), "read_cpu_s": c2 - c1,
                "rows": changed, "changed_rows": changed,
                "pruned_files_ratio": 1 - kept / live}

    def _drain(self) -> None:
        """Run the change-feed consumer until it has every commit."""
        with self.tracer.span("streaming.drain"):
            q = (
                read_txtable_stream(self.spark, self.table.root,
                                    starting_version=self.start_version)
                .writeStream.format("parquet")
                .option("path", self.cdf)
                .option("checkpointLocation", self.cdf_ck)
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(DRAIN_TIMEOUT_S):
                    raise TimeoutError(f"change-feed drain exceeded {DRAIN_TIMEOUT_S}s")
            finally:
                q.stop()
        self.progress.extend(json.loads(p.json) for p in q.recentProgress)

    def _apply(self, r: gen.StorageRound) -> int:
        """Apply round ``r`` to the model; return the rows it changed."""
        m = self.model
        app = r.append.to_pandas().set_index(KEY, drop=False)
        upd = r.update.to_pandas().set_index(KEY)
        m = pd.concat([m, app])
        m.loc[upd.index, "o_totalprice"] = upd["o_totalprice"]
        keys = m.index.to_numpy()
        doomed = ((keys >= r.delete_lo) & (keys < r.delete_hi)) | np.isin(keys, r.dv_keys)
        self.model = m[~doomed]
        self.next_key += r.append.num_rows
        return len(app) + len(upd) + int(doomed.sum())

    def _check_reads(self, i, r, pruned, full) -> None:
        m = self.model
        cents = (m["o_totalprice"] * 100).round().astype("int64")
        inr = (m.index >= r.read_lo) & (m.index <= r.read_hi)
        if pruned != (int(inr.sum()), int(cents[inr].sum()) if inr.any() else None):
            self.bad.append(f"round {i}: read_pruned gave {pruned}")
        want = {
            s: (int(len(g)), int(cents[g.index].sum()))
            for s, g in m.groupby("o_orderstatus")
        }
        if full != want:
            self.bad.append(f"round {i}: full read differs from the model")

    def live_rows(self) -> int:
        return len(self.model)

    def check(self) -> list[str]:
        """The table equals the model; the change feed's net rows over
        the timed rounds equal the table's diff over them."""
        bad = list(self.bad)
        cols = gen.ORDERS_SCHEMA.names
        got = self.table.read(self.spark).select(*cols).toArrow().cast(
            gen.ORDERS_SCHEMA
        ).sort_by(KEY)
        want = pa.Table.from_pandas(
            self.model.sort_index(), schema=gen.ORDERS_SCHEMA, preserve_index=False
        )
        if not got.equals(want):
            bad.append(f"table ({got.num_rows} rows) differs from the model "
                       f"({want.num_rows} rows)")
        feed = (
            self.spark.read.parquet(self.cdf)
            .where(F.col(VERSION_COL) > self.timed_from_version)
            .select(*cols, CHANGE_COL)
            .toPandas()
        )
        net: Counter = Counter()
        for row in feed.itertuples(index=False):
            net[tuple(row[:-1])] += 1 if row[-1] == "insert" else -1
        for row in self.model[cols].itertuples(index=False):
            net[tuple(row)] -= 1
        for row in self.timed_from[cols].itertuples(index=False):
            net[tuple(row)] += 1
        off = sum(1 for v in net.values() if v)
        if off:
            bad.append(f"change-feed net rows differ from the table diff in {off} rows")
        return bad
