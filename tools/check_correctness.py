"""Self-check mirroring the driver's t2 gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at the given sf,
compare row-count, column names, and an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from nyc_crash_mapper_etl_script_spark.functions.materialize import released_on_exit
from nyc_crash_mapper_etl_script_spark.schemas import TESTDATA_TABLES
from nyc_crash_mapper_etl_script_spark.session import get_spark


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.12g}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}
    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with released_on_exit():
                sdf = fn(spark, sf_dir)
                srows = sdf.collect()
                scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"err": f"spark error: {e}"[:500]}
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            results[name] = {"spark_rows": len(srows), "err": None, "no_oracle": True}
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            drows = res.fetchall()
            dcols = [d[0] for d in res.description]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"err": f"duckdb error: {e}"[:500]}
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            sh = value_hash([tuple(r) for r in srows], scols)
            dh = value_hash(drows, dcols)
            if sh != dh:
                problems.append("value-hash mismatch")
                # show a diff sample
                sset = {tuple(norm_cell(v) for v in r) for r in
                        [tuple(r) for r in srows]}
                dset = {tuple(norm_cell(v) for v in r) for r in drows}
                for x in list(sset - dset)[:3]:
                    print(f"        spark-only: {x}")
                for x in list(dset - sset)[:3]:
                    print(f"        duck-only:  {x}")
        results[name] = {
            "rows_match": len(srows) == len(drows),
            "schema_match": sorted(scols) == sorted(dcols),
            "hash_match": not problems,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": "; ".join(problems) or None,
        }
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
        else:
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(qs) - len(failures)}/{len(qs)} passed")
    if json_out:
        import json as _json

        with open(json_out, "w") as fh:
            _json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_failed": len(failures),
                    "results": results,
                },
                fh,
                indent=1,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
