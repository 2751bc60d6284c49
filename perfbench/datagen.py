"""Seeded generator of the input the Spark workload reads.

``events`` mirrors the shape of the project's sf-scaled test data: the
same column names and Arrow types, the same row and user counts per
scale factor, and the same value distributions (sorted uniform
timestamps over 30 days, uniform users and event types, exponential
values, small JSON props). Every value comes from a NumPy generator
seeded with ``(seed, EVENTS_STREAM)``, so one seed always yields the
same table, and the program under test sees only this file.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# the generator stream of the events table
EVENTS_STREAM = 7


def rows(sf: float) -> int:
    """Rows of ``events`` at scale factor ``sf``."""
    return int(1_000_000 * sf)


def events(seed: int, sf: float) -> pa.Table:
    """``events`` at scale factor ``sf``: 0.1 matches the reference
    size, 100,000 events of 1,500 users."""
    rng = np.random.default_rng([seed, EVENTS_STREAM])
    m = rows(sf)
    users = max(1, int(15_000 * sf))
    start_us = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, m))
    return pa.table({
        "event_id": pa.array(np.arange(m, dtype=np.int64)),
        "ts": pa.array(start_us + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, users, m, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, m)],
        "value": np.round(rng.exponential(50.0, m), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
    })


def write_events(out_dir: str, seed: int, sf: float) -> str:
    """Write ``<out_dir>/events.parquet``; return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(events(seed, sf), os.path.join(out_dir, "events.parquet"))
    return out_dir
