"""Declaration and execution cost of the nightly DAG
(``macro_bench.nightly_e2e``: ``run_nightly``'s fact-table output).

A service-style caller re-declares the nightly per run; plancache
makes the dimension-stat driver jobs free, and the dimensions are
local relations after the first run (``local_dimension``).  Declaration is Catalyst
analysis of the wide trees plus what localCheckpoint(eager=False)
forces where it is declared: physical planning, codegen and, under
AQE, every shuffle stage below the checkpoint.  ``run_nightly``
shares the merged input, the enriched fact table and the tallies, so
declaring it runs most of the night (the tallies too, which this
one-output caller never writes) and writing the fact table runs
little.  Compare decl+exec totals, not declaration alone; perfbench's
``nightly_batch`` traces the same split (``plans.decl_s`` against
``operators.exec_s``).

Usage: python tools/decl_bench.py [reps]  (SPARK_GRAFT_SF_DIR as in bench.py)
Prints per-rep decl/exec seconds and the min of each and of their sum.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_crash_mapper_etl_script_spark.plans.macro_bench import nightly_e2e
from nyc_crash_mapper_etl_script_spark.session import get_spark


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("decl-bench")

    # warm: one full declare + execute (JIT, footers, codegen cache)
    nightly_e2e(spark, sf_dir).write.format("noop").mode("overwrite").save()

    decls, execs = [], []
    for i in range(reps):
        t0 = time.time()
        df = nightly_e2e(spark, sf_dir)
        d = time.time() - t0
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        e = time.time() - t1
        decls.append(d)
        execs.append(e)
        print(f"rep {i}: decl={d:.3f}s exec={e:.3f}s", flush=True)
    print(
        f"min decl={min(decls):.3f}s  min exec={min(execs):.3f}s  "
        f"min total={min(d + e for d, e in zip(decls, execs)):.3f}s"
    )


if __name__ == "__main__":
    main()
