"""Scalar helpers: weight constructors and derived-series expressions.

Weight vectors follow the reference's contract (R/roll.R:113; RollSpec
docstring): one weight per window slot, NEWEST slot last; vectors may
be longer than ``width`` (only the last ``width`` entries apply).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from roll_spark.operators.base import Cols, ordered_window


def equal_weights(width: int) -> tuple[float, ...]:
    """rep(1, width) — the reference default."""
    return (1.0,) * width


def exp_weights(width: int, lam: float = 0.9, *, length: int | None = None) -> tuple[float, ...]:
    """Exponential-decay weights ``lam^(n-1) .. lam^0`` (newest = 1).

    The reference's own weighted test fixture is ``0.9^(2w:1)`` — a
    vector twice the window length (tests/testthat/test-roll.R:22);
    pass ``length=2*width`` to reproduce it.
    """
    n = width if length is None else length
    return tuple(float(lam**k) for k in range(n - 1, -1, -1))


def linear_weights(width: int) -> tuple[float, ...]:
    """1..width (newest heaviest) — the classic WMA weighting."""
    return tuple(float(k) for k in range(1, width + 1))


# -- derived numeric series over the transcripts schema ----------------------


def text_len(text: str = "text") -> Column:
    """Per-turn text length; empty strings -> 0 (zeros in the series)."""
    return F.length(F.col(text)).cast("double")


def latency_s(ts: str, by: Cols, order: Cols) -> Column:
    """Inter-turn latency in seconds: ts - lag(ts) per series; NULL at
    the first turn (the NA the min_obs/na_restore machinery handles)."""
    ow = ordered_window(by, order)
    return (
        F.unix_micros(F.col(ts)) - F.unix_micros(F.lag(F.col(ts)).over(ow))
    ).cast("double") / 1e6


__all__ = [
    "equal_weights",
    "exp_weights",
    "linear_weights",
    "text_len",
    "latency_s",
]
