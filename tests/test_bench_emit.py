"""Driver-contract pin for bench.py's stdout record: the driver
captures only the last ~2000 chars of stdout and parses the FINAL
line as the round's official bench artifact (BENCH_r11.json was
``parsed: null`` when an extra block doubled the line past that
window).  These tests pin the contract: bench prints exactly one
line, self-contained, compact, and under LINE_BUDGET at the current
registry size AND at a projected ~80-row registry.

No SparkSession needed -- ``emit``/``parse_stdout`` are pure.
"""

import io
import json
import math
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench


def _out(names, t=12.34):
    queries = {n: t for n in names}
    return {
        "metric": "steady-state headline-query wall time, noop sink",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
    }


STORAGE_ROWS = [
    "tx_init", "tx_merge_update", "tx_delete_where", "tx_pruned_scan",
    "tx_stream_drain", "tx_stream_drain_steady", "tx_dv_delete",
]


def current_names():
    """The real row set a bench run emits today (HEADLINE +
    nightly_e2e + the storage tier) -- if HEADLINE grows, this test
    grows with it and the budget check stays honest."""
    return bench.HEADLINE + ["nightly_e2e"] + STORAGE_ROWS


def test_final_line_parses_and_fits_current_registry(tmp_path):
    buf = io.StringIO()
    line = bench.emit(
        _out(current_names()), stream=buf, root=str(tmp_path)
    )
    # a record that fits the budget prints exactly one line: the
    # returned contract line
    assert buf.getvalue() == line + "\n"
    rec = json.loads(line)  # parses standalone
    assert len(line) < 1900, len(line)
    assert set(rec) == {"metric", "value", "unit", "queries", "sf"}
    assert len(rec["queries"]) == len(current_names())
    assert not os.path.exists(tmp_path / bench.QUERIES_FILE)
    # and parse_stdout reads it back unchanged
    assert bench.parse_stdout(buf.getvalue(), root=str(tmp_path)) == rec


def test_final_line_even_inside_2000_char_tail_with_sentinel(tmp_path):
    """The actual driver failure mode: the driver keeps only the last
    2000 chars of stdout -- the final line must be fully inside that
    window (i.e. recoverable by the driver's parse).  The sentinel
    line that once preceded it is gone, so the window now holds the
    whole of stdout."""
    buf = io.StringIO()
    line = bench.emit(_out(current_names()), stream=buf, root=str(tmp_path))
    tail = buf.getvalue()[-2000:]
    final = tail.rstrip("\n").split("\n")[-1]
    assert json.loads(final) == json.loads(line)


def test_spill_to_pointer_at_80_rows(tmp_path):
    names = [f"op_{i:02d}_{'x' * 14}" for i in range(80)]  # ~20 chars
    out = _out(names)
    out["queries"] = {n: 10.0 + i / 100 for i, n in enumerate(names)}
    buf = io.StringIO()
    line = bench.emit(out, stream=buf, root=str(tmp_path))
    assert len(line) < 1900
    rec = json.loads(line)
    # parse_stdout resolves the pointer back to the full dict
    merged = bench.parse_stdout(buf.getvalue(), root=str(tmp_path))
    assert len(merged["queries"]) == 80
    assert "queries_file" not in merged
    full = json.load(open(tmp_path / bench.QUERIES_FILE))
    assert len(full) == 80
    assert rec["queries_file"] == bench.QUERIES_FILE
    assert rec["queries_elided"] == 80 - len(rec["queries"])
    # inline subset is the SLOWEST rows and values match the side file
    kept = rec["queries"]
    assert kept  # pointer shape still carries real inline data
    floor = max(v for k, v in full.items() if k not in kept)
    assert min(kept.values()) >= floor
    assert all(full[k] == v for k, v in kept.items())
    # total is still the full total, not the inline subset's
    assert rec["value"] == out["value"]


def test_no_spill_below_budget(tmp_path):
    out = _out(["q1", "q2"])
    line = bench.emit(out, stream=io.StringIO(), root=str(tmp_path))
    rec = json.loads(line)
    assert "queries_file" not in rec
    assert not os.path.exists(tmp_path / bench.QUERIES_FILE)


def test_two_decimal_rounding_on_wire(tmp_path):
    out = _out(["q1"])
    out["queries"] = {"q1": 1.2345}
    rec = json.loads(
        bench.emit(out, stream=io.StringIO(), root=str(tmp_path))
    )
    assert rec["queries"]["q1"] == 1.23


def test_values_finite_assertion():
    # json.dumps(allow_nan=False) is the backstop on the contract
    # line itself: a NaN timing must raise, not print bad JSON
    out = _out(["q1"])
    out["queries"] = {"q1": math.nan}
    try:
        bench.emit(out, stream=io.StringIO(), root="/tmp")
    except ValueError:
        pass
    else:
        raise AssertionError("NaN timing must not serialize")


# -- property pin: emit -> parse_stdout is lossless ------------------


from hypothesis import given, settings, strategies as st

_name = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_0123456789", min_size=1, max_size=40
).filter(lambda s: not s.isdigit())
_timing = st.floats(
    min_value=0.0, max_value=1000.0, allow_nan=False, allow_infinity=False
).map(lambda v: round(v, 3))


@settings(max_examples=60, deadline=None)
@given(
    queries=st.dictionaries(_name, _timing, min_size=1, max_size=120),
)
def test_emit_parse_roundtrip_property(tmp_path_factory, queries):
    """For ANY registry shape (1-120 rows, arbitrary names/timings),
    the emitted stdout must (a) end in a standalone-parsable contract
    line under LINE_BUDGET + slack, (b) survive the driver's
    2000-char tail capture, and (c) reconstruct via parse_stdout to
    the full 2-decimal queries dict."""
    tmp = tmp_path_factory.mktemp("emit")
    out = {
        "metric": "m",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": dict(queries),
        "sf": 0.1,
    }
    buf = io.StringIO()
    line = bench.emit(out, stream=buf, root=str(tmp))
    text = buf.getvalue()
    # (a) final line parses standalone and respects the budget
    final = text.rstrip("\n").split("\n")[-1]
    assert final == line
    rec = json.loads(final)
    assert len(final) <= bench.LINE_BUDGET + 60  # 60: wrapper slack at
    # pathological single-row-overflow shapes (real names are <41 chars)
    # (b) the driver's tail capture still yields a parsable final line
    json.loads(text[-2000:].rstrip("\n").split("\n")[-1])
    # (c) lossless reconstruction
    merged = bench.parse_stdout(text, root=str(tmp))
    assert merged["queries"] == {
        k: round(v, 2) for k, v in queries.items()
    }
    assert merged["value"] == out["value"]
    # inline or spilled, never both stale: pointer keys never survive
    assert "queries_file" not in merged
