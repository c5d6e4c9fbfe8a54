"""Seeded `events` table for the query sweep, in the layout the package's
query registry and its DuckDB oracles read (`<dir>/events.parquet`).

The row count scales with `sf` like the repo's own test slices (sf 0.01 →
10k events); values follow the same domains.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_TS0_2024 = dt.datetime(2024, 1, 1)


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(micros.astype("int64") + epoch, type=pa.timestamp("us"))


def generate(out: str, sf: float, seed: int) -> None:
    """Write `events.parquet` under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_ev = max(1_000, int(1_000_000 * sf))
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    table = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(_TS0_2024, ev_us),
        "user_id": rng.integers(0, max(15, n_ev // 66), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    pq.write_table(table, os.path.join(out, "events.parquet"))
