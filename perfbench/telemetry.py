"""Dense seeded telemetry shared by retention_lifecycle and stream_ingest:
every series reports every 30 s (with sub-cadence jitter), so a series-day
holds 2880 points and the 1m -> 1h -> 1d fan-in is real."""

from __future__ import annotations

import numpy as np
import pandas as pd

CADENCE_S = 30
START = np.datetime64("2024-01-01T00:00:00", "us")
SCHEMA = "series string, ts timestamp, value double"
# histogram range of the p90 read; values stay well inside it
HIST_LO, HIST_HI, HIST_BINS = 0.0, 100.0, 20


def make_telemetry(seed: int, n_series: int, hours: int) -> pd.DataFrame:
    """(series, ts, value) rows, time-ordered within each series."""
    rng = np.random.default_rng(seed)
    n = hours * 3600 // CADENCE_S
    slot_us = np.arange(n, dtype=np.int64) * CADENCE_S * 1_000_000
    day_phase = 2 * np.pi * (slot_us / 1e6) / 86400.0
    frames = []
    for i in range(n_series):
        jitter = rng.integers(0, CADENCE_S * 1_000_000, n)
        level = rng.uniform(30.0, 70.0)
        value = (level + 10.0 * np.sin(day_phase + rng.uniform(0, 2 * np.pi))
                 + np.cumsum(rng.normal(0.0, 0.05, n)) + rng.normal(0.0, 2.0, n))
        frames.append(pd.DataFrame({
            "series": f"m{i:04d}",
            "ts": (START.astype(np.int64) + slot_us + jitter).astype("datetime64[us]"),
            "value": np.round(value, 3),
        }))
    return pd.concat(frames, ignore_index=True)


def stats_mismatches(got, want, keys: list[str]) -> str:
    """Compare two tier-statistics frames (the ``rollup_raw`` columns) on
    their keys. Counts, extremes and first/last points must be equal; sums
    and second moments equal to 1e-9 relative. Returns "" when they match."""
    from pyspark.sql import functions as F

    exact = ["n", "min_x", "max_x", "first_ts", "first_x", "last_ts", "last_x"]
    close = ["sum_x", "m2", "sum_w"]
    g = got.select(*keys, *[F.col(c).alias(f"g_{c}") for c in exact + close])
    w = want.select(*keys, *[F.col(c).alias(f"w_{c}") for c in exact + close])
    j = g.join(w, keys, "full_outer")
    bad = None
    for c in exact:
        cond = ~F.col(f"g_{c}").eqNullSafe(F.col(f"w_{c}"))
        bad = cond if bad is None else bad | cond
    for c in close:
        gc, wc = F.col(f"g_{c}"), F.col(f"w_{c}")
        cond = (gc.isNull() | wc.isNull()
                | (F.abs(gc - wc) > 1e-9 * F.greatest(F.abs(wc), F.lit(1.0))))
        bad = bad | cond
    row = j.agg(F.count(F.lit(1)).alias("rows"),
                F.sum(F.when(bad, 1).otherwise(0)).alias("bad")).first()
    n_got, n_want = got.count(), want.count()
    if row["bad"] or n_got != n_want:
        return f"{row['bad']} of {row['rows']} keys differ ({n_got} vs {n_want} rows)"
    return ""
