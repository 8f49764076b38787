"""Seeded input generator.  Every input the program sees comes from
here, as a pyarrow table derived only from ``(seed, unit index)`` and,
for the storage ops, the set of keys live in the table at that point
(itself a function of the seed).  Each timed unit gets fresh rows: a
new feed slice or a new table version, never a repeat of an earlier
input (a repeat would be served by the plan-identity memo in
``plancache``, which real traffic never hits that way).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

#: nightly_batch sizes: the first ("base") night fills the fact table;
#: each later night brings NEW_PER_NIGHT new collisions plus
#: RESENT_PER_NIGHT re-sent ones (changed tallies, half of them moved)
BASE_ROWS = 5_000
NEW_PER_NIGHT = 1_000
RESENT_PER_NIGHT = 100

#: txtable_mixed sizes (rows per op in one storage round)
ORDERS_ROWS = 20_000
APPEND_ROWS = 600
UPDATE_ROWS = 400
DELETE_RANGE_KEYS = 300
DV_DELETE_KEYS = 100
READ_RANGE_KEYS = 2_000

_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_SPAN_S = 300 * 86_400


def _rng(seed: int, *unit: int) -> np.random.Generator:
    return np.random.default_rng([seed, *unit])


def events(ids: np.ndarray, values: np.ndarray) -> pa.Table:
    """An ``events`` table (the columns ``macro_bench.synth_feed``
    reads).  The timestamp is a function of the id, so a re-sent
    collision keeps its date."""
    ids = np.asarray(ids, dtype=np.int64)
    ts = _T0 + ((ids * 7919) % _SPAN_S).astype("timedelta64[s]")
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "value": pa.array(np.asarray(values, dtype=np.float64)),
    })


def night(seed: int, i: int, first_id: int) -> tuple[pa.Table, pa.Table]:
    """Night ``i``'s feed slice: new collision ids starting at
    ``first_id``, and re-sent ids with new values, hence changed
    tallies.  Night 0 is the base load; its re-sent ids are among its
    own new ones, so the warm pass runs the update path too."""
    rng = _rng(seed, 1, i)
    n = BASE_ROWS if i == 0 else NEW_PER_NIGHT
    ids = np.arange(first_id, first_id + n)
    new = events(ids, rng.uniform(0, 10, n))
    pool = ids if i == 0 else np.arange(1, first_id)
    resent = np.sort(rng.choice(pool, RESENT_PER_NIGHT, replace=False))
    return new, events(resent, rng.uniform(10, 20, RESENT_PER_NIGHT))


ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.date32()),
    ("o_orderpriority", pa.string()),
])


def orders(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    days = np.datetime64("1992-01-01") + rng.integers(0, 2400, n).astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, 1500, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n, p=[0.49, 0.49, 0.02])),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n), 2)),
        "o_orderdate": pa.array(days),
        "o_orderpriority": pa.array(
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)
        ),
    }, schema=ORDERS_SCHEMA)


def base_orders(seed: int) -> pa.Table:
    return orders(_rng(seed, 2, 0), np.arange(1, ORDERS_ROWS + 1))


@dataclass
class StorageRound:
    """One storage round's op inputs."""

    append: pa.Table
    update: pa.Table          # o_orderkey, o_totalprice of live rows
    delete_lo: int            # delete_where o_orderkey in [lo, hi)
    delete_hi: int
    dv_keys: list[int]        # delete_where(dv=True) o_orderkey in keys
    read_lo: int              # read_pruned o_orderkey in [lo, hi]
    read_hi: int


def storage_round(seed: int, i: int, live_keys: np.ndarray, next_key: int) -> StorageRound:
    """Round ``i``'s ops over a table whose live keys are
    ``live_keys`` (sorted) and whose next unused key is ``next_key``."""
    rng = _rng(seed, 3, i)
    app = orders(rng, np.arange(next_key, next_key + APPEND_ROWS))
    upd_keys = np.sort(rng.choice(live_keys, UPDATE_ROWS, replace=False))
    update = pa.table({
        "o_orderkey": pa.array(upd_keys, pa.int64()),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, UPDATE_ROWS), 2)),
    })
    # the range spans exactly DELETE_RANGE_KEYS live keys, and the
    # deletion-vector keys lie outside it, so every round deletes as many
    # rows as every other
    at = int(rng.integers(0, len(live_keys) - DELETE_RANGE_KEYS))
    lo, hi = int(live_keys[at]), int(live_keys[at + DELETE_RANGE_KEYS])
    rest = np.concatenate([live_keys[:at], live_keys[at + DELETE_RANGE_KEYS:]])
    dv = np.sort(rng.choice(rest, DV_DELETE_KEYS, replace=False))
    rlo = int(rng.integers(1, max(2, next_key - READ_RANGE_KEYS)))
    return StorageRound(
        append=app,
        update=update,
        delete_lo=lo,
        delete_hi=hi,
        dv_keys=[int(k) for k in dv],
        read_lo=rlo,
        read_hi=rlo + READ_RANGE_KEYS,
    )
