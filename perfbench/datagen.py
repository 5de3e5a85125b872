"""Seeded `events` table with the schema of the engine's testdata.

The table is a pure function of (seed, size): the same seed writes the
same rows. Its shape follows the driver's `events`, so the trade feed,
the medallion pipeline, the `reference_ops` queries and their DuckDB
oracles run on it unchanged: ids 0..n-1 in time order, exponential
inter-arrival times over 30 days, 5 event types (the trade feed's
products), 1500 users, skewed positive values with cents, props
`{"k": 0..99}` (the trade size).

It is written as one single-row-group parquet file, the layout the
driver ships and `io.load_table` compacts on first load.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400_000_000


def write_events(out_dir: str, seed: int, n: int) -> str:
    """Write `events.parquet` with `n` rows under `out_dir`; return its path."""
    rng = np.random.default_rng(seed)
    gaps = rng.exponential(1.0, n)
    ts = EPOCH_2024_US + np.floor(np.cumsum(gaps) / gaps.sum() * SPAN_US * 0.9999)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": pa.array(ts.astype("int64"), type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n).astype("int64")),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(table, path, row_group_size=n)
    return path
