"""Seeded generator for the benchmark's input tables.

Writes the shapes the registry rows expect (one parquet file per table,
un-zoned ``timestamp[us]`` time columns) at scale factor 0.1: 100k
``events`` over 30 days and 1,500 users, and the 15k-row TPC-H
``customer`` table. Columns are independent uniform draws over the
value sets the registry's literals name (event types, market segments),
so every row has non-empty output. The same seed writes the same values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
N_USERS = 1_500

_US_PER_DAY = 86_400 * 1_000_000


def epoch_us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def events(rng: np.random.Generator, n: int = 100_000) -> pa.Table:
    """Time-ordered events; ``event_id`` follows ``ts``."""
    ts = np.sort(epoch_us(EVENTS_START) + rng.integers(0, EVENTS_DAYS * _US_PER_DAY, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, N_USERS, n).astype("int64")),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def customer(rng: np.random.Generator, n: int = 15_000) -> pa.Table:
    """The TPC-H ``customer`` table; the fixed table the source scans
    read in every format."""
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
            "c_mktsegment": _pick(
                rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n
            ),
        }
    )


def write_tables(out_dir: str, seed: int, tables: tuple[str, ...]) -> None:
    """Write the named tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    # one generator per table: a table's values depend on the seed only
    makers = {"events": (0, events), "customer": (1, customer)}
    for name in tables:
        stream, make = makers[name]
        table = make(np.random.default_rng([seed, stream]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
