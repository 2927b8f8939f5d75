"""Duration-based (time-range) rolling windows.

The reference's ``roll_*`` surface is row-count-windowed (``width`` rows
— roll_vec.h's count_na/n_obs machinery); a retention/tier engine also
needs TIME-windowed rollups ("trailing 1 hour"), where each row's frame
is every observation in ``[t - duration, t]`` regardless of how many
rows that is.  Spark expresses this natively as a RANGE frame over the
epoch — still ONE hash exchange + ONE sort + ONE WindowExec, identical
plan shape to the row-count ops, so the same 100 TB partitioning story
holds (frames are resolved per-partition by a running two-pointer scan,
never materializing the window).

Bounds are inclusive on both ends, matching SQL ``RANGE BETWEEN
INTERVAL d PRECEDING AND CURRENT ROW`` (DuckDB oracle in the
``roll_mean_range_1h`` driver query) and pandas ``rolling(closed=
'both')`` (tests/test_time_windows.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

from roll_spark.operators.base import Cols, _as_list

_AGGS = {
    "mean": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "sd": F.stddev_samp,
    "var": F.var_samp,
}


def _epoch_micros(df: DataFrame, order: str) -> Column:
    """Order key as int64 microseconds (RANGE frames need a numeric
    order key; µs integers make the bound arithmetic exact)."""
    dt = df.schema[order].dataType
    c = F.col(order)
    if isinstance(dt, TimestampNTZType):
        c = c.cast("timestamp")  # session TZ pinned UTC; diffs exact
        dt = TimestampType()
    if isinstance(dt, (TimestampType, DateType)):
        return F.unix_micros(c.cast("timestamp"))
    # numeric order key: treat duration as the same unit scaled to µs
    return (c.cast("double") * F.lit(1_000_000)).cast("long")


def roll_time(
    df: DataFrame,
    value: str,
    by: Cols,
    order: str,
    duration_s: float,
    *,
    aggs: Sequence[str] = ("mean",),
    min_obs: int = 1,
    prefix: str = "t_",
) -> DataFrame:
    """Trailing-duration rolling aggregates over ``[t - duration_s, t]``.

    One output column per entry of ``aggs`` named ``{prefix}{agg}``;
    every agg shares one RANGE frame (single WindowExec).  ``min_obs``
    gates each statistic on the window's non-null count, mirroring the
    row-count ops' gate (reference roll_vec.h n_obs >= min_obs).
    """
    bad = [a for a in aggs if a not in _AGGS]
    if bad:
        raise ValueError(f"unknown aggs {bad}; pick from {sorted(_AGGS)}")
    keys = _as_list(by)
    t_us = "__roll_t_us"
    out = df.withColumn(t_us, _epoch_micros(df, order))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(t_us))
        .rangeBetween(-int(round(duration_s * 1_000_000)), 0)
    )
    v = F.col(value)
    cnt = F.count(v).over(w)
    cols = {}
    for a in aggs:
        expr = _AGGS[a](v).over(w)
        if a != "count":
            expr = F.when(cnt >= F.lit(min_obs), expr)
        cols[f"{prefix}{a}"] = expr
    return out.withColumns(cols).drop(t_us)


def ewma_time(
    df: DataFrame,
    value: str,
    by: Cols,
    order: str,
    halflife_s: float,
    *,
    min_obs: int = 1,
    out: str = "ewma",
) -> DataFrame:
    """Time-decay EWMA over irregular event times (adjusted form):
    each row's statistic weights every prior observation by
    ``2^(-(t_i - t_j)/halflife)`` — the reference's exp-decay weights
    (roll_check.h:68) generalized from row-indexed to true event-time
    decay, which is what conversation telemetry needs (turn gaps are
    wildly irregular).

    Arrow path (kernels.conv_ewma_time): sequential in time per series
    but fully vectorized (blocked rebased cumsums, no per-row Python),
    one Arrow pass. The op is EXPANDING, so the
    overlap-padded chunking of operators.chunked does not apply (the
    overlap would be the whole prefix); instead the kernel is O(n) with
    O(1) state and a 10^9-turn conversation costs one linear pass.
    """
    from roll_spark.operators.arrow_ops import _apply_kernel
    from roll_spark.operators import kernels as K

    t_us = "__roll_t_us"
    df = df.withColumn(t_us, _epoch_micros(df, order))

    def kernel(cols):
        return {out: K.conv_ewma_time(cols[value], cols[t_us], halflife_s,
                                      min_obs=min_obs)}

    res = _apply_kernel(df, [value, t_us], [*_as_list(by)], [order, ],
                        [(out, "double")], kernel)
    return res.drop(t_us)


def decayed_count(
    df: DataFrame,
    by: Cols,
    order: str,
    halflife_s: float,
    *,
    min_obs: int = 1,
    out: str = "decayed_n",
) -> DataFrame:
    """Time-decayed event count per series: each row's statistic is
    sum over prior events of ``2^(-(t_i - t_j)/halflife)`` — the
    recency/activity score of an event stream (agent turn rate, error
    burst detection). For a Poisson stream of rate r the expectation is
    r·halflife/ln2, so ``ln2/halflife * decayed_n`` estimates the
    instantaneous events/sec.

    Expanding like ewma_time (same O(n)/O(1)-state blocked kernel =
    its denominator), so it runs each series whole for the same
    reason."""
    from roll_spark.operators.arrow_ops import _apply_kernel
    from roll_spark.operators import kernels as K

    t_us = "__roll_t_us"
    df = df.withColumn(t_us, _epoch_micros(df, order))

    def kernel(cols):
        return {out: K.conv_decayed_count(cols[t_us], halflife_s,
                                          min_obs=min_obs)}

    res = _apply_kernel(df, [t_us], [*_as_list(by)], [order, ],
                        [(out, "double")], kernel)
    return res.drop(t_us)
