"""Declaration-cost regression guard (r4 VERDICT item 6): the cost of
declaring a FRESH nightly DAG and writing its fact table is a
measured, explained floor.  ``run_nightly`` shares the merged input,
the enriched fact table and the intersection tallies, and under AQE a
lazy localCheckpoint runs its subtree's shuffle stages where it is
declared, so declaration executes most of the night and the write
runs little (tools/decl_bench.py has the per-rep split).  The bound
is therefore on declaration plus execution: work moved between the
two does not trip it, while a wide-tree change that adds work (an
extra unshared subtree, an accidental eager collect, a plan-cache key
regression) cannot silently multiply it.  The bound is GENEROUS, a
warm-process min at the small test SF."""

from __future__ import annotations

import os
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def test_nightly_fresh_declaration_stays_bounded(spark):
    from nyc_crash_mapper_etl_script_spark.plans.macro_bench import (
        nightly_e2e,
    )

    # warm pass: JIT, parquet footers, plancache dimension stats
    nightly_e2e(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    runs = []
    for _ in range(3):
        t0 = time.time()
        df = nightly_e2e(spark, SF_DIR)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        runs.append((round(t1 - t0, 2), round(time.time() - t1, 2)))
    best = min(d + e for d, e in runs)
    # decl+exec at sf0.01 measures 8.7-9.8 s (min of 3) on a loaded
    # 4-vCPU VM; 18 s is twice that, headroom for shared-VM noise
    # while catching a structural 2x
    assert best <= 18.0, f"fresh declare+write regressed (decl, exec): {runs}"
