"""Run bench.py once and write its FULL record (the contract line,
with any ``queries_file`` pointer resolved back into the complete
``queries`` dict) to a JSON file -- the shape of the committed
``BENCH_local_r{N}.json`` artifacts.

bench.py prints one JSON line, but past ``bench.LINE_BUDGET`` that
line carries only the slowest rows plus a pointer to
``BENCH_QUERIES.json``, so a bare ``python bench.py > out.json`` can
hold a partial record.  Use::

    python tools/run_bench.py BENCH_local_r14.json
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    out_path = (
        sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "BENCH_local.json")
    )
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=3600,
    )
    sys.stderr.write(r.stderr)
    if r.returncode != 0:
        sys.exit(r.returncode)
    sys.path.insert(0, REPO)
    import bench

    rec = bench.parse_stdout(r.stdout, root=REPO)
    with open(out_path, "w") as f:
        json.dump(rec, f, indent=1)
    print(f"{out_path}: total={rec['value']}s, {len(rec['queries'])} rows")


if __name__ == "__main__":
    main()
