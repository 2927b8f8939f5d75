"""Shared window-spec and NA-gate helpers for the native Catalyst path.

The reference's shared parameter semantics (SURVEY.md §2.1) are factored
here once so every operator applies identical min_obs / na_restore /
complete_obs gating. Reference evidence for the gates:
``/root/reference/inst/include/roll_vec.h:491-501`` (min_obs + na_restore),
``/root/reference/src/roll.cpp:103-125`` (complete_obs row mask).
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F

from roll_spark.config import EPS, RollSpec

Cols = str | Sequence[str]


def _as_list(cols: Cols) -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols)


def ordered_window(by: Cols, order: Cols) -> WindowSpec:
    """Partition-by-series, order-by-time window (no frame)."""
    return Window.partitionBy(*_as_list(by)).orderBy(*_as_list(order))


def rolling_window(by: Cols, order: Cols, width: int) -> WindowSpec:
    """Trailing count window ending at the current row.

    ``width=1`` -> just the current row; the expanding window is the
    degenerate ``width >= series length`` case, exactly as in the
    reference (``roll_vec.h:13-37``).
    """
    return ordered_window(by, order).rowsBetween(-(width - 1), Window.currentRow)


def masked(value: Column, mask_cols: Sequence[Column]) -> Column:
    """complete_obs row mask: NULL the value when ANY sibling is NULL."""
    cond = None
    for c in mask_cols:
        cond = c.isNull() if cond is None else (cond | c.isNull())
    if cond is None:
        return value
    return F.when(cond, F.lit(None)).otherwise(value)


def complete_obs_maskable(fn):
    """Grow a single-series op a ``mask_cols=`` keyword.

    The reference accepts MATRIX input on every vector op: with
    complete_obs=TRUE a row missing ANY column is excluded from every
    column's windows (row mask built at src/roll.cpp:103-125). The
    long-format equivalent is masking the value column against its
    sibling columns BEFORE windowing — ``mask_cols`` names those
    siblings. The mask applies before everything downstream (min_obs
    counts, na_restore) exactly as the reference masks the matrix
    first. Works on both the native Catalyst path and the Arrow
    dispatch (the masked value travels as a temp column, dropped from
    the result).
    """

    @functools.wraps(fn)
    def wrapper(df, value, *args, mask_cols: Cols | None = None, **kw):
        if not mask_cols:
            return fn(df, value, *args, **kw)
        tmp = f"__rs_cm_{value}"
        df = df.withColumn(
            tmp, masked(F.col(value), [F.col(c) for c in _as_list(mask_cols)])
        )
        return fn(df, tmp, *args, **kw).drop(tmp)

    return wrapper


def gate(
    spec: RollSpec,
    value: Column,
    stat: Column,
    n_obs: Column,
    *,
    need_two: bool = False,
) -> Column:
    """Apply min_obs (+ optional n_obs>1) and na_restore gates to a stat.
    Each gate reads ``n_obs`` once: Spark evaluates every use of a window
    aggregate as its own window function."""
    min_obs = max(spec.effective_min_obs, 2) if need_two else spec.effective_min_obs
    gated = F.when(n_obs >= F.lit(min_obs), stat)
    if spec.na_restore:
        return F.when(value.isNull(), F.lit(None)).otherwise(gated)
    return gated


def clamp_var(v: Column) -> Column:
    """Reference eps clamp: var>eps -> var; |var|<=eps -> 0; var<-eps -> NULL.

    (``roll_vec.h:2404-2412`` in RollVarOfflineVec.)
    """
    return (
        F.when(v > F.lit(EPS), v)
        .when(v > F.lit(-EPS), F.lit(0.0))
        .otherwise(F.lit(None).cast("double"))
    )
