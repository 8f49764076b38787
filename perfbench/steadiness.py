"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workload nightly_batch --seeds 1-10 \
        --trace 0 --out runs.jsonl

Runs ``perfbench/run.py`` once per seed, one run at a time, appends each
run's result line to ``--out`` (with its seed, exit code and wall time),
and prints, per metric, the median over the runs, the quartiles as
``statistics.quantiles(values, n=4)`` gives them, and their distance as
a share of the median next to the metric's bound in ``BENCHMARK.json``.
``--summary runs.jsonl`` prints the table of runs recorded earlier.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(rows: list[dict]) -> str:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    outs = [r["out"] for r in rows if r["out"]]
    lines = [
        f"runs {len(rows)}, exit codes {sorted({r['rc'] for r in rows})}, "
        f"all correct {all(o['correct'] for o in outs) and len(outs) == len(rows)}, "
        f"wall s median {statistics.median(r['wall'] for r in rows):.1f} "
        f"max {max(r['wall'] for r in rows):.1f}",
        "| metric | unit | median | q1 | q3 | (q3-q1)/median | bound |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, m in outs[0]["metrics"].items():
        vals = [o["metrics"][name]["value"] for o in outs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name, "")
        lines.append(f"| {name} | {m['unit']} | {med:.5g} | "
                     f"{q1:.5g} | {q3:.5g} | {spread:.3f} | {bound} |")
    names = list(outs[0]["metrics"])
    lines += ["", "| seed | wall s | " + " | ".join(names) + " |",
              "|---" * (len(names) + 2) + "|"]
    for r in rows:
        vals = [f"{r['out']['metrics'][n]['value']:.5g}" if r["out"] else "-" for n in names]
        lines.append(f"| {r['seed']} | {r['wall']:.1f} | " + " | ".join(vals) + " |")
    return "\n".join(lines)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--seconds", type=int)
    p.add_argument("--out")
    p.add_argument("--summary")
    args = p.parse_args(argv)
    if args.summary:
        with open(args.summary) as f:
            print(summary([json.loads(line) for line in f]))
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    rows = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(args.seconds or bench["run_seconds"]),
            "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        try:
            out = json.loads(lines[-1])
        except (IndexError, ValueError):
            out = None
        row = {"workload": args.workload, "seed": seed, "trace": args.trace,
               "rc": proc.returncode, "wall": time.perf_counter() - t0,
               "out": out}
        rows.append(row)
        print(json.dumps(row), file=sys.stderr, flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(row) + "\n")
    print(summary(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
