"""The repository's benchmark.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 20 --trace 0

One process, one client thread, ``local[<cores>]``.  A run starts a
session, sets the workload up ``SETUP_REPS`` times (input synthesis and
base load, each in a fresh directory; ``setup_s`` is the session start
plus their median), runs its warm pass, then runs the workload's fixed
number of timed units (``UNITS``; ``--seconds`` is only a ceiling: no
unit starts once the timed units have used it up), and checks the
outputs outside the timed region.  A fixed count makes every run of a
workload measure the same units, so a faster program is not charged
for reaching later, larger ones.  The last line of standard output is
one JSON object with the keys ``correct``, ``attempted``, ``failed``
and ``metrics``.  With ``--trace 0`` the metrics are the end-to-end
ones below; with ``--trace 1`` every timed unit is traced and the
metrics are the per-layer ones (``perfbench/layers.py``), averaged over
the units.  The tracing overhead is the gap between a traced run's
``trace.unit_cpu_s_p50`` and an untraced run's ``unit_cpu_s_p50``.

Everything a run writes goes under ``perfbench/.work/`` and is removed
at the end.  The exit status is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("nightly_batch", "txtable_mixed")

#: end-to-end metric -> unit.  Medians are over the timed units.
#: The work of a unit is measured as the CPU time it costs
#: (``trace.program_cpu_s``: the process tree, JIT compilation
#: excluded), what a nightly batch pays for.  Its wall time spread by
#: up to 36% between quartiles over ten seeds on a shared 4-vCPU host,
#: more than any bound a regression check could use; it is reported
#: per layer (``trace.unit_s_p50``).
#: write_amp: bytes added to storage per byte of changed rows;
#: space_amp: bytes on disk (data, log, history) per byte of live data.
#: Memory is reported per layer only (``spark.peak_rss_mb``): the peak
#: resident memory of the process tree, and the JVM's heap left after
#: a full collection, both spread by 20-30% between quartiles over ten
#: seeds.
END_TO_END = {
    "setup_s": "s",
    "unit_cpu_s_p50": "s",
    "rows_per_cpu_s": "1/s",
    "write_cpu_s_p50": "s",
    "read_cpu_s_p50": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}

#: timed units per run (nights, storage rounds).  A run's time goes
#: mostly to starting the JVM and to the cold warm pass, so few units
#: fit; one night repeats from run to run as closely as the median of
#: two did.  In about one storage round in ten, some 2 s of CPU time
#: moves between its write and read parts; the median of three rounds
#: passes over such a round.
UNITS = {"nightly_batch": 1, "txtable_mixed": 3}
#: set-ups per run; setup_s takes their median
SETUP_REPS = 3


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def files_on_disk(roots: list[str]) -> dict[tuple[str, str], int]:
    """(table root, file name) -> bytes, for every file under the roots.
    Part-file names are unique per write, so a file the table moves
    into its archive keeps its key, and a new key is a new write."""
    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                out[(root, n)] = os.path.getsize(os.path.join(d, n))
    return out


def live_bytes(spark, table) -> int:
    return sum(
        os.path.getsize(uri.removeprefix("file:"))
        for uri in table.read(spark).inputFiles()
    )


def start_session(work: str):
    cores = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from nyc_crash_mapper_etl_script_spark.session import tuned_builder

    spark = (
        tuned_builder("perfbench")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # compiler threads that live as long as the JVM keep the JIT's
        # CPU time countable (trace.tree_cpu_s); a heap of fixed size
        # keeps the collector's work from varying with how far the heap
        # happened to grow
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UseDynamicNumberOfCompilerThreads "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM, whose exit ends its Python
    workers."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def timed_units(args, wl, tracer, reader, cores, rss) -> tuple[list, list]:
    """Run the workload's timed units, each traced when ``--trace 1``.
    Returns every unit and the per-layer numbers of each."""
    from perfbench.layers import unit_metrics
    from perfbench.trace import attribute

    units, per_layer = [], []
    spent = 0.0
    rss.take()
    while len(units) < UNITS[args.workload] and (not units or spent < args.seconds):
        tracer.enabled = bool(args.trace)
        before = files_on_disk(wl.roots)
        w0 = time.perf_counter()
        with tracer.span("unit"):
            u = wl.unit()
        u["wall"] = time.perf_counter() - w0
        u["peak_rss"] = rss.take()
        tracer.enabled = False
        after = files_on_disk(wl.roots)
        new = [k for k in after if k not in before]
        u["bytes_added"] = sum(after[k] for k in new)
        u["files_added"] = len(new)
        spent += u["s"]
        units.append(u)
        log(f"unit {len(units)}: {u['s']:.3f}s (cpu {u['cpu_s']:.2f}s) "
            f"write {u['write_s']:.3f}s (cpu {u['write_cpu_s']:.2f}s) "
            f"read {u['read_s']:.3f}s (cpu {u['read_cpu_s']:.3f}s) rows {u['rows']}")
        progress, wl.progress = wl.progress, []
        if reader is not None:
            spans, counts = tracer.take()
            untagged = attribute(spans, reader.read())
            per_layer.append(unit_metrics(spans, untagged, counts, progress, u, cores))
    return units, per_layer


def run(args, work: str) -> dict:
    from perfbench import layers
    from perfbench.trace import JobReader, PeakRss, Tracer

    with PeakRss(enabled=bool(args.trace)) as rss:
        t0 = time.perf_counter()
        spark, cores = start_session(work)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark.sparkContext)
            if args.trace:
                layers.instrument(tracer)
            if args.workload == "nightly_batch":
                from perfbench.nightly import NightlyBatch as Workload
            else:
                from perfbench.storage import TxTableMixed as Workload
            wl = Workload(spark, os.path.join(work, "data"), args.seed, tracer)
            loads = []
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                wl.load(rep)
                loads.append(time.perf_counter() - t)
            setup_s = session_s + statistics.median(loads)
            log(f"setup {setup_s:.2f}s (session {session_s:.2f}s, "
                f"loads {', '.join(f'{x:.2f}' for x in loads)}s)")
            t = time.perf_counter()
            wl.warm()
            log(f"warm {time.perf_counter() - t:.2f}s")
            reader = JobReader(spark.sparkContext) if args.trace else None
            if reader:
                reader.read()
            wl.progress = []
            units, per_layer = timed_units(args, wl, tracer, reader, cores, rss)
            t = time.perf_counter()
            bad = wl.check()
            log(f"check {time.perf_counter() - t:.2f}s")
            for b in bad:
                log("CHECK FAILED:", b)
            on_disk = sum(files_on_disk(wl.roots).values())
            live = sum(live_bytes(spark, t) for t in wl.tables)
            row_bytes = live_bytes(spark, wl.tables[0]) / wl.live_rows()
            persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
            log_files = sum(len(os.listdir(t._log_dir())) for t in wl.tables)
        finally:
            stop_session(spark)
    cpu_s = sum(u["cpu_s"] for u in units)
    unit_cpu_s_p50 = statistics.median(u["cpu_s"] for u in units)
    if args.trace:
        metrics = {k: statistics.fmean(m[k] for m in per_layer) for k in layers.PER_LAYER}
        metrics["session.start_s"] = session_s
        metrics["functions.materialize.persisted_rdds_end"] = persisted
        metrics["sources.txtable.log_files"] = log_files
        metrics["trace.unit_s_p50"] = statistics.median(u["s"] for u in units)
        metrics["trace.unit_cpu_s_p50"] = unit_cpu_s_p50
        names = layers.PER_LAYER
    else:
        changed = sum(u["changed_rows"] for u in units) * row_bytes
        metrics = {
            "setup_s": setup_s,
            "unit_cpu_s_p50": unit_cpu_s_p50,
            "rows_per_cpu_s": sum(u["rows"] for u in units) / cpu_s,
            "write_cpu_s_p50": statistics.median(u["write_cpu_s"] for u in units),
            "read_cpu_s_p50": statistics.median(u["read_cpu_s"] for u in units),
            "write_amp": sum(u["bytes_added"] for u in units) / changed,
            "space_amp": on_disk / live,
        }
        names = END_TO_END
    return {
        "correct": not bad,
        "attempted": len(units),
        "failed": len(bad),
        "metrics": {k: {"value": metrics[k], "unit": names[k]} for k in names},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # everything temporary stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still works there
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
