"""Pins for the r13 optimization round's operator-internal changes.

substring_span_stats (default path): the first-occurrence aggregate
now also counts occurrences and drops count==1 keys BEFORE the join
back to the exploded windows.  A unique window's only occurrence has
__e == min(__e), so it could never survive the __e != __f filter --
dropping those keys is value-identical -- but it is what keeps the
join's build side duplicate-sized instead of corpus-sized: without
it, Catalyst's leaf-derived size estimate put the FULL per-window
aggregate (one row per distinct window in the corpus) under the
broadcast threshold and collected tens of millions of rows through
the driver into a single-threaded hash relation (heavy-tier bench:
50 s and invariant from 8 to 32 cores).
"""

from __future__ import annotations

import re


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_span_firsts_build_side_is_count_filtered(spark):
    from nyc_crash_mapper_etl_script_spark.operators.dedup_text import (
        substring_span_stats,
    )

    docs = spark.createDataFrame(
        [(1, "abcdefghij" * 30), (2, "abcdefghij" * 30), (3, "unique text here")],
        "doc_id long, text string",
    )
    plan = _plan(substring_span_stats(docs, k=40))
    # the firsts aggregate (min(__e) + count(1) per window hash) must
    # sit DIRECTLY under a Filter keeping its occurrence count >= 2 --
    # that filter is the size bound that makes the join's build side
    # duplicate-sized instead of corpus-sized (driver-side broadcast
    # hazard)
    firsts_filter = re.compile(
        r"Filter [^\n]*\b(__c#\d+L?) >= 2\)[^\n]*\n"
        r"[ :|+-]*HashAggregate\(keys=\[h1#\d+L?, h2#\d+L?\], "
        r"functions=\[min\(__e#\d+\), count\(1\)\], "
        r"output=\[[^\]]*, \1\]\)"
    )
    assert firsts_filter.search(plan), plan


def test_span_unique_and_duplicated_windows_account_identically(spark):
    from nyc_crash_mapper_etl_script_spark.operators.dedup_text import (
        substring_span_stats,
    )

    w = "y" * 40
    docs = spark.createDataFrame(
        [
            (1, w + "solo-unique-tail"),  # holds first occurrence
            (2, "pad" + w),  # later occurrence -> 40 dup chars
            (3, "entirely distinct text with no repeats padpadpad"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in substring_span_stats(docs, k=40).collect()}
    assert out[1]["removed_chars"] == 0 and out[1]["n_spans"] == 0
    assert out[2]["removed_chars"] == 40 and out[2]["n_spans"] == 1
    assert out[3]["removed_chars"] == 0 and out[3]["n_dup_windows"] == 0
    # kept_chars always reconciles
    for r in out.values():
        assert r["kept_chars"] == r["n_chars"] - r["removed_chars"]
