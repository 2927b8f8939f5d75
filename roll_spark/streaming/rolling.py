"""Stateful streaming rolling statistics — applyInPandasWithState over
the batch kernels.

The batch engine's Arrow path evaluates a whole series per task; a LIVE
transcript stream instead delivers each conversation's turns
incrementally across micro-batches. Every window op's output depends on
at most the trailing ``width`` rows (the reference's no-memory-of-
evicted-rows property), so the state store carries, per series, just
the trailing ``width-1`` raw values plus the row count. Each micro-batch
runs the SAME vectorized batch kernel the Arrow path uses over
``[carry | micro-batch]`` and keeps the batch rows' outputs — the
overlap identity operators/chunked.py uses across chunks, applied
across micro-batches. One code path serves the 11 window ops, with no
per-row Python. ``ewma`` is expanding rather than windowed, so it
carries its own four numbers (kernels.online_ewma_time).

Correctness contract: rows must arrive IN (series, order) ORDER across
micro-batches (append-only transcript tails — turn k+1 never lands in
an earlier batch than turn k). Within a micro-batch rows are sorted by
the order column first, so any intra-batch shuffling is fine;
cross-batch disorder is the caller's watermarking problem, the same
contract run_stream_to_tier enforces for tier buckets. The streamed
output is proven row-identical to the batch kernels in
tests/test_streaming_rolling.py, up to float reassociation where a
batch kernel sums a window shorter than the carried one (mean/sum's
running head; var/scale/cov over a series shorter than the width).

Scale shape: state per key is O(width) floats (the trailing window),
partitioned by the series key across executors by the state store —
10^9 conversations at width 100 is ~800 GB of state spread over the
cluster, the same order as any per-key windowed aggregation.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as TT
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from roll_spark.operators import kernels as K
from roll_spark.operators.base import Cols, _as_list

# A numeric order column is interpreted as epoch-SECONDS (the engine-wide
# _epoch_micros convention, time_windows.py:40). This CHANGED from
# epoch-microseconds in 0.3.0 — a caller still passing epoch-µs would get
# t*1e6 values past int64 range and silent garbage event times, so reject
# anything implausibly large for seconds: 1e12 s is year ~33658, while
# today's epoch-µs values are ~1.7e15. Documented in README (breaking
# changes, 0.4.0).
_MAX_PLAUSIBLE_EPOCH_SECONDS = 1e12


def _numeric_order_to_us(o: pd.Series) -> np.ndarray:
    v = o.to_numpy(dtype=np.float64, na_value=np.nan)
    if np.isnan(v).any():
        raise ValueError(
            "numeric order column contains NULL/NaN values; event times "
            "must be present for every row"
        )
    if v.size and np.abs(v).max() > _MAX_PLAUSIBLE_EPOCH_SECONDS:
        raise ValueError(
            "numeric order column looks like epoch-microseconds (max "
            f"|value| {np.abs(v).max():.3g} > {_MAX_PLAUSIBLE_EPOCH_SECONDS:g}); "
            "since 0.4.0 numeric order values are epoch-SECONDS — divide "
            "by 1e6 or pass a timestamp column"
        )
    return np.round(v * 1e6).astype(np.int64)


# op -> whole-series batch kernel f(v, width, min_obs, p, r0) over the
# (rows, k) input array v (k = 2 for cov: value, y) whose first row is
# series row r0 + 1. Only quantile reads p; only idxmin/idxmax read r0.
_WINDOW = {
    "mean": lambda v, w, mo, p, r0: K.conv_mean(v[:, 0], w, min_obs=mo),
    "sum": lambda v, w, mo, p, r0: K.conv_sum(v[:, 0], w, min_obs=mo),
    "var": lambda v, w, mo, p, r0: K.conv_var(v[:, 0], w, min_obs=mo),
    "scale": lambda v, w, mo, p, r0: K.conv_scale(v[:, 0], w, min_obs=mo),
    "quantile": lambda v, w, mo, p, r0: K.conv_quantile(v[:, 0], w, p, min_obs=mo),
    "cov": lambda v, w, mo, p, r0: K.conv_cov(v[:, 0], v[:, 1], w, min_obs=mo),
    "min": lambda v, w, mo, p, r0: K.window_minmax(v[:, 0], w, "min", mo),
    "max": lambda v, w, mo, p, r0: K.window_minmax(v[:, 0], w, "max", mo),
    "prod": lambda v, w, mo, p, r0: K.window_prod(v[:, 0], w, mo),
    "idxmin": lambda v, w, mo, p, r0: K.window_idxminmax(v[:, 0], w, "min", mo, r0),
    "idxmax": lambda v, w, mo, p, r0: K.window_idxminmax(v[:, 0], w, "max", mo, r0),
}
_OPS = (*_WINDOW, "ewma")


def _window_step(op, width, min_obs, p, state, v):
    """One series' micro-batch through a window op: ``(state, v) ->
    (out, state)``, pure. ``state`` is the stored ``(hist, aux, lower,
    upper)`` tuple or None; ``v`` the batch's (rows, k) inputs in order.

    hist holds the trailing raw values (cov: interleaved (x, y) pairs)
    and aux[0] the series row count. Every layout stream_roll has ever
    written keeps the trailing raw values in hist and, for idxmin/
    idxmax, the row count in aux[0]; the other ops ignore aux. A longer
    carry (a stream resumed with a smaller width) truncates exactly; a
    shorter one is NaN-padded on the left, and pads count as unobserved.
    """
    keep = width - 1
    hist = np.asarray(state[0] if state else [], dtype=np.float64)
    hist = hist.reshape(-1, v.shape[1])
    hist = hist[max(0, len(hist) - keep):]
    rows = float(state[1][0]) if state and state[1] else 0.0
    xp = np.concatenate([np.full((keep - len(hist), v.shape[1]), np.nan), hist, v])
    out = _WINDOW[op](xp, width, min_obs, p, rows - keep)[keep:]
    # not xp[-keep:]: at width 1 that is the whole array
    tail = xp[len(xp) - keep:]
    # plain python floats only: the state tuple is pickled into the JVM
    # state store, which rejects numpy scalar types
    return out, (tail.ravel().tolist(), [rows + len(v)], [], [])


def _ewma_step(halflife_s, min_obs, state, x, t_us):
    """The ewma twin of :func:`_window_step`: aux carries
    kernels.online_ewma_time's (num, den, t, n_obs)."""
    carry = None
    if state:
        carry = dict(zip(("num", "den", "t", "n_obs"), state[1]))
    out, s = K.online_ewma_time(x, t_us, halflife_s, min_obs=min_obs, state=carry)
    return out, ([], [float(s[k]) for k in ("num", "den", "t", "n_obs")], [], [])


def stream_roll(
    sdf: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    op: str = "mean",
    p: float = 0.5,
    y: str | None = None,
    min_obs: int = 1,
    halflife_s: float | None = None,
    out: str = "roll_out",
) -> DataFrame:
    """Rolling ``op`` over a streaming DataFrame, one output row per
    input row, state carried per series across micro-batches.

    op: 'mean' | 'sum' | 'var' | 'min' | 'max' | 'prod' (direct window
    product — exact zeros/signs; streaming any/all are stream min/max
    over a derived 0/1 column) | 'idxmin' | 'idxmax' (window-relative
    extreme index, most-recent ties, series position while expanding) |
    'scale' (z-score of the most recent non-NA window value) |
    'quantile' (equal-weight HF2 at ``p``) | 'cov' (pairwise-complete,
    over ``value`` and ``y``) — each the batch kernel over the carried
    trailing window plus the micro-batch — | 'ewma' (time-decay EWMA
    over the ORDER column's event time at ``halflife_s`` — expanding,
    so ``width`` is ignored; the carry is four numbers).
    """
    if op not in _OPS:
        raise ValueError(f"op must be one of {_OPS}")
    if op == "cov" and y is None:
        raise ValueError("op='cov' needs the second series column y")
    if op == "ewma" and halflife_s is None:
        raise ValueError("op='ewma' needs halflife_s")
    by_l = _as_list(by)
    order_l = _as_list(order)
    if len(order_l) != 1:
        raise ValueError("stream_roll needs exactly one order column")
    ocol = order_l[0]
    inputs = [value, y] if op == "cov" else [value]

    by_fields = [f for f in sdf.schema if f.name in by_l]
    order_field = [f for f in sdf.schema if f.name == ocol][0]
    out_schema = TT.StructType(
        by_fields + [order_field, TT.StructField(out, TT.DoubleType())]
    )
    # state: the carry flattened to double arrays (hist may hold NaNs for
    # missing turns). lower/upper are always empty; the schema keeps
    # them because Spark refuses a checkpoint whose state schema changed.
    state_schema = TT.StructType([
        TT.StructField("hist", TT.ArrayType(TT.DoubleType())),
        TT.StructField("aux", TT.ArrayType(TT.DoubleType())),
        TT.StructField("lower", TT.ArrayType(TT.DoubleType())),
        TT.StructField("upper", TT.ArrayType(TT.DoubleType())),
    ])

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            # same guard as streaming/sessions.py: an empty group batch
            # (possible under future timeout modes) yields nothing and
            # leaves state untouched instead of crashing on concat.
            return
        batch = pd.concat(frames, ignore_index=True)
        batch = batch.sort_values(ocol, kind="stable")
        v = batch[inputs].to_numpy(dtype=np.float64, na_value=np.nan)
        prev = state.get if state.exists else None
        if op == "ewma":
            o = batch[ocol]
            if str(o.dtype).startswith("datetime64"):
                t_us = o.astype("int64").to_numpy() // 1000  # ns -> us
            else:
                # numeric order column: SECONDS, the same convention as
                # the batch engine's _epoch_micros (time_windows.py:40) —
                # a batch ewma_time pipeline ported to streaming keeps
                # its decay rate unchanged. Guarded against epoch-µs
                # callers (int64 overflow) — see _numeric_order_to_us.
                t_us = _numeric_order_to_us(o)
            res, new = _ewma_step(halflife_s, min_obs, prev, v[:, 0], t_us)
        else:
            res, new = _window_step(op, width, min_obs, p, prev, v)
        state.update(new)
        data = {c: batch[c].to_numpy() for c in by_l + [ocol]}
        data[out] = res
        yield pd.DataFrame(data)

    return sdf.groupBy(*by_l).applyInPandasWithState(
        fold, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
