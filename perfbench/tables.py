"""Seeded ``events`` table for ``analyst_mix``.

The registry entries read ``<sf_dir>/<table>.parquet`` in the layout of
the engine's synthetic test tables (TESTDATA.md). The benchmark may read
only its own checkout, so it makes the one table its mix reads, with the
same columns and value domains as the 0.01 scale: 10k events of 150 users
over January 2024, five event types, a skewed ``value`` and a ``props``
JSON string with 100 distinct keys. The rows come from numpy; the parquet
is written by the engine's Spark session, so its size is what that
session's writer makes of the rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENTS_ROWS = 10_000


def events_frame(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 0xA11A])
    n = EVENTS_ROWS
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, n, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def write_events(spark, sf_dir: str, seed: int) -> str:
    """Write ``<sf_dir>/events.parquet`` (one part file); return its path."""
    path = os.path.join(sf_dir, "events.parquet")
    spark.createDataFrame(events_frame(seed)).coalesce(1).write.parquet(path)
    return path
