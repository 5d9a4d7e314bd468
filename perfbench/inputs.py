"""Seeded synthetic input table for the benchmark.

The suite's queries read tables by name from a scale-factor directory
(``<dir>/<table>.parquet``).  The benchmark's workloads read only
``events``, written here with the schema and value distributions of the
bench-scale test table (sf0.1): time-sorted readings over January 2024,
each from one of ``n * 15 // 1000`` users (the grid cells: 1,500 for
sf0.1's 100,000 rows), an exponential ``value`` of mean 50 rounded to
cents, one of five event types and a ``{"k": int}`` JSON ``props``
string.

The same seed always gives a byte-identical table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
JAN_2024_US = 1_704_067_200_000_000
MONTH_US = 30 * 86_400 * 1_000_000


def write_events(out_dir: str, seed: int, n: int) -> None:
    """Write ``<out_dir>/events.parquet`` with ``n`` rows."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, MONTH_US, n)) + JAN_2024_US
    n_users = max(1, n * 15 // 1000)
    value = np.round(rng.exponential(50.0, n), 2)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
