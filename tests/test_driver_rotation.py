"""Driver-sample rotation pin (r11 VERDICT item 4): the driver's
correctness gate samples the FIRST 50 names of ``queries()`` in
order, so the registry leads with ``_DRIVER_SAMPLE_HEAD`` --
REGISTRY.md Tranche 1 (never-driver-sampled rows) plus 15 retained
core rows.  These tests keep the head honest: real names, exactly
the sample size, every head row oracle-twinned, and queries() /
oracle_sql() agreeing on the order (the driver zips them by name,
but a divergent prefix would silently change what gets sampled)."""

from __future__ import annotations

import glob
import json
import os

import duckdb

from nyc_crash_mapper_etl_script_spark import harness
from nyc_crash_mapper_etl_script_spark.schemas import TESTDATA_TABLES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_head_is_exactly_the_driver_sample_size():
    assert len(harness._DRIVER_SAMPLE_HEAD) == 50
    assert len(set(harness._DRIVER_SAMPLE_HEAD)) == 50


def test_head_names_exist_and_lead_the_registry():
    q = list(harness.queries())
    assert q[:50] == harness._DRIVER_SAMPLE_HEAD
    assert len(q) == len(set(q))


def test_head_rows_are_all_full_value_oracle_twinned():
    osql = harness.oracle_sql()
    missing = [n for n in harness._DRIVER_SAMPLE_HEAD if n not in osql]
    assert not missing, missing


def test_oracle_sql_order_matches_queries_order():
    q = [n for n in harness.queries() if n in harness.oracle_sql()]
    assert q == list(harness.oracle_sql())


def test_no_oracle_returns_a_128_bit_column():
    """DuckDB widens ``sum`` over BIGINT to HUGEINT (over DECIMAL to
    DECIMAL(38, s)), a type class Spark's ``long`` sums never return,
    so the twin's values may hash unlike the row's while rows and
    schema match; ``CAST(sum(...) AS BIGINT)`` is the fix.  Each
    oracle is only bound, which resolves its result types unrun."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = f"/root/testdata/sf0.001/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    wide = []
    for name, sql in harness.oracle_sql().items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, map(str, rel.types)):
            if typ in ("HUGEINT", "UHUGEINT") or typ.startswith("DECIMAL(38"):
                wide.append((name, col, typ))
    assert not wide, wide


def test_rotation_actually_advances_coverage():
    """The point of the rotation: the current head must contain rows
    no committed driver sample has ever checked (until every row has
    been sampled at least once, when this pin can retire)."""
    sampled = set()
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        try:
            d = json.load(open(p))
        except ValueError:
            continue
        sampled |= set(d.get("queries", d))
    never = [
        n for n in harness._DRIVER_SAMPLE_HEAD if n not in sampled
    ]
    all_names = set(harness.queries())
    if all_names - sampled:  # rows remain unsampled somewhere
        assert never, (
            "head contains no never-driver-sampled rows -- rotate "
            "_DRIVER_SAMPLE_HEAD to the next REGISTRY.md tranche"
        )
