"""Native Catalyst Window implementations of the roll_* operator surface.

This is the engine's fast path for equal weights: every statistic is a
built-in JVM aggregate over ``Window.partitionBy(series).orderBy(time)
.rowsBetween(-(width-1), 0)``, so the whole pipeline stays inside
whole-stage codegen — one hash exchange on the series key + one sort,
then all window aggregates share the same WindowExec.

Semantics match the reference kernels (file:line cites inline per op,
into the reference ``roll`` package). Weighted / exponential-decay inputs are
dispatched to the Arrow kernel path (roll_spark.operators.arrow_ops),
mirroring the reference's own online/offline algorithm dispatch
(``src/roll.cpp:378-394``). So are the quantile ops at every width:
they need each window's order statistics, which a Window frame only
gets by sorting a width-long array per row, where the Arrow kernel
selects from one wavelet matrix per series. Equal-weight sum and mean
of a float/double column take their Arrow kernels wider than
NATIVE_MAX_WIDTH: their native cost grows with the width (Spark's
sliding frame re-aggregates its buffer for every row), and the Arrow
kernels cut an expanding window to the series length. On the Arrow
path a double NaN counts as missing, like NULL, and outputs are double.

Scale notes (100 TB): the only shuffle is hashpartitioning(series key);
all ops below reuse the same (partition, sort) so Catalyst collapses
them into a single WindowExec; skewed series are handled by the chunked
overlap path in roll_spark.operators.chunked.

DATA CONTRACT: every roll_* op requires the (by, order) key tuple —
e.g. (conv_id, turn_idx) / (user_id, ts) — to be UNIQUE and NON-NULL
per row. Window ordering over duplicate or NULL order keys is
ill-defined, and the Arrow path's wide-frame join-back relies on the
keys to re-align kernel outputs (see roll_spark.operators.arrow_ops;
ROLL_SPARK_DEBUG_KEYS=1 asserts the contract at runtime).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from roll_spark.config import EPS, RollSpec
from roll_spark.operators.base import (
    Cols,
    _as_list,
    clamp_var,
    complete_obs_maskable,
    gate,
    masked,
    ordered_window,
    rolling_window,
)


def _spec(width, min_obs, na_restore, weights, **kw) -> RollSpec:
    return RollSpec(
        width=width,
        weights=None if weights is None else tuple(weights),
        min_obs=min_obs,
        na_restore=na_restore,
        **kw,
    )


def _dispatch_weighted(op: str):
    """Arrow kernel path for non-equal weights, wide sums/means and the
    quantile ops (reference src/roll.cpp:378)."""
    from roll_spark.operators import arrow_ops

    return getattr(arrow_ops, op)


def _check_positive_weights(weights, op: str) -> None:
    if weights is not None and any(w <= 0 for w in weights):
        raise ValueError(
            f"{op}: weights must be positive (order statistics are only "
            "weight-invariant for positive weights)"
        )


# Width above which an equal-weight float/double sum or mean leaves the
# native Window for its Arrow kernel, the one width dispatch left (the
# sorted-window statistics run their Arrow kernels at every width).
# Spark's sliding ROWS frame re-aggregates its whole buffer for every
# row, so a native sum/mean grows with the width (O(n^2) expanding), the
# Arrow kernel's only with n·min(w, n) in C. On the rolling_batch input
# (seed 5, 22.6k rows, local[4], median of 11 alternating pairs)
# native/Arrow walls were sum 0.164/0.157 s and mean 0.118/0.105 at w96,
# 0.142/0.122 and 0.117/0.101 at w128, 0.122/0.110 and 0.122/0.094 at
# w192: Arrow leads by 5-20 % from ~w96 (sum won only 7 and 8 of 11
# pairs at w96 and w192). Too small a gain to also move which widths
# count a double NaN as missing, so the value stays.
NATIVE_MAX_WIDTH = 256


def _wide_sum_to_arrow(df: DataFrame, value: str, spec: RollSpec) -> bool:
    """An equal-weight sum/mean leaves the native path above
    NATIVE_MAX_WIDTH only for a float/double column. Spark sums an
    integer column exactly to bigint and a decimal one to decimal; the
    float64 kernel would turn both into a double."""
    return spec.width > NATIVE_MAX_WIDTH and isinstance(
        df.schema[value].dataType, (DoubleType, FloatType)
    )


# ---------------------------------------------------------------------------
# single-series ops
# ---------------------------------------------------------------------------


@complete_obs_maskable
def roll_sum(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    weights: Sequence[float] | None = None,
    out: str = "roll_sum",
) -> DataFrame:
    """Rolling/expanding sum (reference roll_sum, roll_vec.h:383-511).

    Weighted input, and a float/double column under equal weights wider
    than NATIVE_MAX_WIDTH, take the Arrow kernel (kernels.conv_sum): it
    is O(n) per series for an expanding window, where Spark's sliding
    frame re-aggregates its whole buffer for each row. On that path a
    double NaN counts as missing, like NULL, and the output is double
    for every input type; integer and decimal columns under equal
    weights stay native at any width and keep their exact sum type."""
    spec = _spec(width, min_obs, na_restore, weights)
    if not spec.is_equal_weight or _wide_sum_to_arrow(df, value, spec):
        return _dispatch_weighted("roll_sum")(df, value, by, order, spec, out=out)
    w = rolling_window(by, order, width)
    v = F.col(value)
    return df.withColumn(out, gate(spec, v, F.sum(v).over(w), F.count(v).over(w)))


@complete_obs_maskable
def roll_mean(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    weights: Sequence[float] | None = None,
    out: str = "roll_mean",
) -> DataFrame:
    """Rolling/expanding mean (reference roll_mean, roll_vec.h:814-1011).

    Paths as in :func:`roll_sum`: a float/double column wider than
    NATIVE_MAX_WIDTH (an expanding mean included) runs the Arrow kernel
    conv_mean, where a double NaN counts as missing."""
    spec = _spec(width, min_obs, na_restore, weights)
    if not spec.is_equal_weight or _wide_sum_to_arrow(df, value, spec):
        return _dispatch_weighted("roll_mean")(df, value, by, order, spec, out=out)
    w = rolling_window(by, order, width)
    v = F.col(value)
    return df.withColumn(out, gate(spec, v, F.avg(v).over(w), F.count(v).over(w)))


@complete_obs_maskable
def roll_prod(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    weights: Sequence[float] | None = None,
    out: str = "roll_prod",
) -> DataFrame:
    """Rolling product with separate zero tracking (roll_vec.h:582-743).

    Native path uses the sign/zero-safe log-sum decomposition:
    ``prod = [n_zero > 0 ? 0 : sign * exp(sum log|x|)]``. The reference
    multiplies directly; the Arrow path reproduces that exactly — this
    path is FP-equivalent at ~1e-15 relative, which the engine's own
    tests bound. Weighted product is ``prod(w_k * x_k)`` (prod_w *
    prod_x, roll_vec.h:720-723).
    """
    spec = _spec(width, min_obs, na_restore, weights)
    if not spec.is_equal_weight:
        return _dispatch_weighted("roll_prod")(df, value, by, order, spec, out=out)
    w = rolling_window(by, order, width)
    v = F.col(value)
    n_obs = F.count(v).over(w)
    n_zero = F.count(F.when(v == 0, F.lit(1))).over(w)
    n_neg = F.count(F.when(v < 0, F.lit(1))).over(w)
    log_abs = F.sum(F.when(v != 0, F.log(F.abs(v)))).over(w)
    sign = F.when(n_neg % 2 == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
    prod = F.when(n_zero > 0, F.lit(0.0)).otherwise(sign * F.exp(log_abs))
    return df.withColumn(out, gate(spec, v, prod, n_obs))


@complete_obs_maskable
def roll_min(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    weights: Sequence[float] | None = None,
    out: str = "roll_min",
) -> DataFrame:
    """Rolling min (reference monotonic-deque kernel, roll_vec.h:1018-1106).

    The reference routes roll_min as roll_quantile(p=0) and accepts
    weights (R/roll.R:251); for positive weights the order statistic is
    weight-invariant, so the native F.min path applies unchanged —
    non-positive weights (which WOULD change mass-based selection) are
    rejected, mirroring the reference's weight check."""
    _check_positive_weights(weights, "roll_min")
    spec = _spec(width, min_obs, na_restore, None)
    w = rolling_window(by, order, width)
    v = F.col(value)
    return df.withColumn(out, gate(spec, v, F.min(v).over(w), F.count(v).over(w)))


@complete_obs_maskable
def roll_max(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    weights: Sequence[float] | None = None,
    out: str = "roll_max",
) -> DataFrame:
    """Rolling max (roll_vec.h:1181-1270). Weights as in roll_min."""
    _check_positive_weights(weights, "roll_max")
    spec = _spec(width, min_obs, na_restore, None)
    w = rolling_window(by, order, width)
    v = F.col(value)
    return df.withColumn(out, gate(spec, v, F.max(v).over(w), F.count(v).over(w)))


def _idx_extreme(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    min_obs: int | None,
    na_restore: bool,
    out: str,
    want_min: bool,
) -> DataFrame:
    """Window-relative index of the min/max (roll_vec.h:1345-1659).

    Contract: while expanding (row r <= width, 1-based), result = the
    1-based series position of the extreme; once rolling, result =
    ``width - r + r_extreme`` (1 = oldest slot, width = newest slot).
    Ties break toward the MOST RECENT occurrence (offline kernel uses
    ``<=`` on candidate compare, roll_vec.h:1484).
    """
    spec = _spec(width, min_obs, na_restore, None)
    w = rolling_window(by, order, width)
    ow = ordered_window(by, order)
    v = F.col(value)
    rn = F.row_number().over(ow)
    # struct ordering: extreme value first, then recency. For min we want the
    # smallest value with the LARGEST rn -> negate rn so lexicographic min
    # lands on the most recent tie.
    if want_min:
        s = F.min(F.when(v.isNotNull(), F.struct(v.alias("v"), (-rn).alias("nj")))).over(w)
        rn_ext = -s.getField("nj")
    else:
        s = F.max(F.when(v.isNotNull(), F.struct(v.alias("v"), rn.alias("j")))).over(w)
        rn_ext = s.getField("j")
    idx = F.when(rn <= F.lit(width), rn_ext).otherwise(F.lit(width) - rn + rn_ext)
    n_obs = F.count(v).over(w)
    return df.withColumn(out, gate(spec, v, idx, n_obs).cast("int"))


@complete_obs_maskable
def roll_idxmin(
    df, value, by, order, width, *, min_obs=None, na_restore=False,
    weights=None, out="roll_idxmin"
) -> DataFrame:
    """Reference routes roll_idxmin as an idx-quantile at p=0
    (R/roll.R:345): positive weights never change WHICH element is the
    extreme, so they are validated and the weight-free kernel applies."""
    _check_positive_weights(weights, "roll_idxmin")
    return _idx_extreme(df, value, by, order, width, min_obs, na_restore, out, True)


@complete_obs_maskable
def roll_idxmax(
    df, value, by, order, width, *, min_obs=None, na_restore=False,
    weights=None, out="roll_idxmax"
) -> DataFrame:
    """Weights as in roll_idxmin (R/roll.R:392)."""
    _check_positive_weights(weights, "roll_idxmax")
    return _idx_extreme(df, value, by, order, width, min_obs, na_restore, out, False)


@complete_obs_maskable
def roll_quantile(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    p: float,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    weights: Sequence[float] | None = None,
    out: str = "roll_quantile",
) -> DataFrame:
    """Exact rolling quantile, Hyndman-Fan type 2 (R quantile(type=2)).

    Reference algorithm (RollQuantileOfflineVec, roll_vec.h:1956-2095):
    scan the sorted window from the TOP accumulating weight mass until
    mass/total >= 1-p; emit that value, averaging with the next lower
    order statistic when the mass hits 1-p exactly (within sqrt(eps),
    roll_vec.h:2083). Under equal weights this reduces to: c =
    max(1, ceil(n*(1-p))); emit sorted[n-c] (0-based), averaging with
    sorted[n-c-1] when n*(1-p) is an integer — i.e. HF definition 2.

    p=0 / p=1 short-circuit to roll_min / roll_max, mirroring the
    reference's endpoint specialization (src/roll.cpp:864-894).

    Runs the Arrow kernel (kernels.conv_quantile) at every width. Equal
    weights select from one wavelet matrix per series, O(n log n) at
    any width; weighted windows are sorted in row blocks with a fixed
    memory budget. A double NaN counts as missing, like NULL, and the
    output is double for every input type.
    """
    if p == 0.0:
        return roll_min(df, value, by, order, width, min_obs=min_obs,
                        na_restore=na_restore, weights=weights, out=out)
    if p == 1.0:
        return roll_max(df, value, by, order, width, min_obs=min_obs,
                        na_restore=na_restore, weights=weights, out=out)
    spec = _spec(width, min_obs, na_restore, weights, p=p)
    return _dispatch_weighted("roll_quantile")(df, value, by, order, spec, out=out)


@complete_obs_maskable
def roll_quantiles(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    ps: Sequence[float],
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    weights: Sequence[float] | None = None,
    outs: Sequence[str] | None = None,
) -> DataFrame:
    """All quantiles of ``ps`` from ONE Arrow pass (kernels.conv_quantiles):
    every probability shares the per-series wavelet matrix (equal
    weights) or the per-block argsort (weighted), so k probabilities
    cost one shuffle and one sort, not k. An interior p's column is
    identical to roll_quantile's (tests/test_quantiles_multi.py asserts
    it). p=0 / p=1 give the smallest / largest observed value in the
    same pass, as roll_min / roll_max do for positive weights; unlike
    those native ops, they follow roll_quantile's NaN rule and output
    type.
    """
    ps = list(ps)
    outs = list(outs) if outs is not None else [
        f"q_{str(p_).replace('.', '_')}" for p_ in ps
    ]
    if len(outs) != len(ps):
        raise ValueError("outs must match ps in length")
    if any(p_ in (0.0, 1.0) for p_ in ps):
        _check_positive_weights(weights, "roll_quantiles")
    spec = _spec(width, min_obs, na_restore, weights)
    return _dispatch_weighted("roll_quantiles")(df, value, by, order, spec, ps, outs)


@complete_obs_maskable
def roll_median(
    df, value, by, order, width, *, min_obs=None,
    na_restore=False, weights=None, out="roll_median"
) -> DataFrame:
    """roll_median = roll_quantile(p=0.5) (reference R/roll.R:441-448)."""
    return roll_quantile(
        df, value, by, order, width, 0.5, min_obs=min_obs,
        na_restore=na_restore, weights=weights, out=out
    )


@complete_obs_maskable
def roll_var(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    weights: Sequence[float] | None = None,
    center: bool = True,
    out: str = "roll_var",
) -> DataFrame:
    """Unbiased rolling variance (roll_vec.h:2114-2425).

    Weighted denominator is ``sum_w - sumsq_w/sum_w`` (= n-1 under equal
    weights, so the native path is var_samp), with the reference's eps
    clamp: var<=eps -> 0, var<-eps -> NULL. Requires n_obs > 1.
    ``center=False`` uses the raw second moment about zero.
    """
    spec = _spec(width, min_obs, na_restore, weights, center=center)
    if not spec.is_equal_weight:
        return _dispatch_weighted("roll_var")(df, value, by, order, spec, out=out)
    w = rolling_window(by, order, width)
    v = F.col(value)
    n_obs = F.count(v).over(w)
    if center:
        raw = F.var_samp(v).over(w)
    else:
        raw = F.sum(v * v).over(w) / (n_obs - 1)
    return df.withColumn(out, gate(spec, v, clamp_var(raw), n_obs, need_two=True))


@complete_obs_maskable
def roll_sd(
    df, value, by, order, width, *, min_obs=None,
    na_restore=False, weights=None, center=True, out="roll_sd"
) -> DataFrame:
    """sqrt of roll_var with identical gates (roll_vec.h:2430-2744)."""
    tmp = f"__var_{out}"
    res = roll_var(
        df, value, by, order, width, min_obs=min_obs,
        na_restore=na_restore, weights=weights, center=center, out=tmp
    )
    return res.withColumn(out, F.sqrt(F.col(tmp))).drop(tmp)


@complete_obs_maskable
def roll_scale(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    weights: Sequence[float] | None = None,
    center: bool = True,
    scale: bool = True,
    out: str = "roll_scale",
) -> DataFrame:
    """Rolling z-score of the most recent non-missing value in the window.

    Reference RollScaleOfflineVec (roll_vec.h:3016-3180): x_last is the
    most recent non-NA value in the window; center subtracts the
    weighted mean, scale divides by sqrt(unbiased var) (RMS about zero
    when center=False). When scaling: NULL unless n_obs > 1 AND
    var > eps (no clamp-to-zero here).
    """
    spec = _spec(width, min_obs, na_restore, weights,
                 center=center, scale=scale)
    if not spec.is_equal_weight:
        return _dispatch_weighted("roll_scale")(df, value, by, order, spec, out=out)
    w = rolling_window(by, order, width)
    v = F.col(value)
    n_obs = F.count(v).over(w)
    x_last = F.last(v, ignorenulls=True).over(w)
    mean = F.avg(v).over(w)
    centered = (x_last - mean) if center else x_last
    if scale:
        if center:
            var = F.var_samp(v).over(w)
        else:
            var = F.sum(v * v).over(w) / (n_obs - 1)
        stat = F.when((n_obs > 1) & (var > F.lit(EPS)), centered / F.sqrt(var))
    else:
        stat = centered
    return df.withColumn(out, gate(spec, v, stat, n_obs))


# ---------------------------------------------------------------------------
# two-series ops (cov / cor / crossprod)
# ---------------------------------------------------------------------------


def _pairwise(df: DataFrame, x: str, y: str) -> tuple[Column, Column, Column]:
    """Pairwise-complete masking: a row enters the window only when both
    x and y are observed (reference any_na_xy, src/roll.cpp:125-155).
    For the 2-column long-format API, complete_obs=True and pairwise
    completeness coincide."""
    xv, yv = F.col(x), F.col(y)
    both = xv.isNotNull() & yv.isNotNull()
    return F.when(both, xv), F.when(both, yv), both


def roll_cov(
    df: DataFrame,
    x: str,
    y: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    weights: Sequence[float] | None = None,
    center: bool = True,
    out: str = "roll_cov",
) -> DataFrame:
    """Rolling unbiased covariance (roll_vec.h:3801-4152).

    Denominator sum_w - sumsq_w/sum_w; requires n_obs > 1.
    """
    spec = _spec(width, min_obs, na_restore, weights, center=center)
    if not spec.is_equal_weight:
        return _dispatch_weighted("roll_cov")(df, x, by, order, spec, y=y, out=out)
    w = rolling_window(by, order, width)
    xm, ym, both = _pairwise(df, x, y)
    n_obs = F.count(F.when(both, F.lit(1))).over(w)
    if center:
        stat = F.covar_samp(xm, ym).over(w)
    else:
        stat = F.sum(xm * ym).over(w) / (n_obs - 1)
    restore_ref = F.when(F.col(x).isNull() | F.col(y).isNull(), F.lit(None)).otherwise(F.lit(1.0))
    return df.withColumn(out, gate(spec, restore_ref, stat, n_obs, need_two=True))


def roll_cor(
    df: DataFrame,
    x: str,
    y: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    weights: Sequence[float] | None = None,
    out: str = "roll_cor",
) -> DataFrame:
    """Rolling correlation = scaled covariance (roll_vec.h:4112-4125):
    sumsq_xy / (sqrt(sumsq_x) sqrt(sumsq_y)); NULL when either centered
    sum of squares <= eps; requires n_obs > 1."""
    spec = _spec(width, min_obs, na_restore, weights)
    if not spec.is_equal_weight:
        return _dispatch_weighted("roll_cor")(df, x, by, order, spec, y=y, out=out)
    w = rolling_window(by, order, width)
    xm, ym, both = _pairwise(df, x, y)
    n_obs = F.count(F.when(both, F.lit(1))).over(w)
    # sumsq about the pairwise-complete means; eps gate is on the raw
    # (undivided) sums of squares in the reference — with equal weights
    # sumsq = var*(n-1), same sign/zero structure.
    ssx = F.var_samp(xm).over(w) * (n_obs - 1)
    ssy = F.var_samp(ym).over(w) * (n_obs - 1)
    # NOT F.corr: its internal ck/sqrt(xMk*yMk) division happens INSIDE
    # the window aggregate, where no F.when can guard it — a zero-variance
    # window is a runtime DIVIDE_BY_ZERO under ANSI mode (Spark 4
    # default). Composing covar/stddev keeps the division in the
    # projection, where the eps gate's If short-circuits it.
    stat = F.when(
        (ssx > F.lit(EPS)) & (ssy > F.lit(EPS)),
        F.covar_samp(xm, ym).over(w)
        / (F.stddev_samp(xm).over(w) * F.stddev_samp(ym).over(w)),
    )
    restore_ref = F.when(F.col(x).isNull() | F.col(y).isNull(), F.lit(None)).otherwise(F.lit(1.0))
    return df.withColumn(out, gate(spec, restore_ref, stat, n_obs, need_two=True))


def roll_crossprod(
    df: DataFrame,
    x: str,
    y: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    weights: Sequence[float] | None = None,
    out: str = "roll_crossprod",
) -> DataFrame:
    """Rolling raw cross product sum(w * x * y) (roll_vec.h:4935-5115).

    Uncentered, unscaled, NOT divided by the unbiased denominator;
    gates on min_obs only (roll_vec.h:5081).
    """
    spec = _spec(width, min_obs, na_restore, weights)
    if not spec.is_equal_weight:
        return _dispatch_weighted("roll_crossprod")(df, x, by, order, spec, y=y, out=out)
    w = rolling_window(by, order, width)
    xm, ym, both = _pairwise(df, x, y)
    n_obs = F.count(F.when(both, F.lit(1))).over(w)
    stat = F.sum(xm * ym).over(w)
    restore_ref = F.when(F.col(x).isNull() | F.col(y).isNull(), F.lit(None)).otherwise(F.lit(1.0))
    return df.withColumn(out, gate(spec, restore_ref, stat, n_obs))


# ---------------------------------------------------------------------------
# logical ops (Kleene three-valued)
# ---------------------------------------------------------------------------


@complete_obs_maskable
def roll_any(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int = 1,
    na_restore: bool = False,
    out: str = "roll_any",
) -> DataFrame:
    """Rolling Kleene OR (reference emit roll_vec.h:115-127): TRUE if any
    observed TRUE in the window; FALSE only when the window is FULLY
    observed (n_obs == min(width, row)); else NULL. min_obs defaults to
    1 in the reference wrapper (R/roll.R:28)."""
    spec = _spec(width, min_obs, na_restore, None)
    w = rolling_window(by, order, width)
    ow = ordered_window(by, order)
    v = F.col(value).cast("boolean")
    rn = F.row_number().over(ow)
    n_obs = F.count(v).over(w)
    n_true = F.count(F.when(v, F.lit(1))).over(w)
    full = F.least(F.lit(width), rn)
    stat = (
        F.when(n_true > 0, F.lit(True))
        .when(n_obs == full, F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )
    return df.withColumn(out, gate(spec, v, stat, n_obs))


@complete_obs_maskable
def roll_all(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int = 1,
    na_restore: bool = False,
    out: str = "roll_all",
) -> DataFrame:
    """Rolling Kleene AND (emit roll_vec.h:277-289): FALSE if any observed
    FALSE; TRUE only when the window is fully observed; else NULL."""
    spec = _spec(width, min_obs, na_restore, None)
    w = rolling_window(by, order, width)
    ow = ordered_window(by, order)
    v = F.col(value).cast("boolean")
    rn = F.row_number().over(ow)
    n_obs = F.count(v).over(w)
    n_false = F.count(F.when(~v, F.lit(1))).over(w)
    full = F.least(F.lit(width), rn)
    stat = (
        F.when(n_false > 0, F.lit(False))
        .when(n_obs == full, F.lit(True))
        .otherwise(F.lit(None).cast("boolean"))
    )
    return df.withColumn(out, gate(spec, v, stat, n_obs))
