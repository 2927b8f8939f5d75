"""Higher-moment, cardinality and rank rolling ops.

These extend the reference surface (jasonjfoster/roll has mean/var/sd as
its highest moments — roll_vec.h:2114) with the third/fourth standardized
moments and rolling distinct counts that a transcript-analytics tier
needs (burstiness / heavy-tail detection on latency + value series).

Execution: acf runs on the native Catalyst path; every sorted-window
statistic (nunique, percentrank, trimmed mean, spearman, entropy) and
skew/kurt runs only its Arrow kernel, at every width. Their JVM forms
sort or scan a width-long array per row and were slower at every width
measured, or tied only below ~20. On these paths a double NaN counts
as missing, like NULL; nunique returns int and the others double.

Numerical strategy for skew/kurt: power sums about a fixed centre lose
~(|window mean - centre| / sd)^k digits to cancellation, and in a
drifting series the window mean sits far from every fixed centre.
kernels.conv_skew_kurt takes two passes over each window instead:
the window's own mean, then its central moments M2..M4. On the native
path neither power sums nor Spark's own ``skewness``/``kurtosis``
aggregates pay off: the former cancel, and the latter, re-aggregated
for every row of a sliding frame, cost more per call than one Arrow
pass.

Definitions (bias-corrected sample forms, identical to DuckDB / pandas
/ Excel SKEW + KURT):

    G1 = g1 * sqrt(n(n-1)) / (n-2),          g1 = (M3/n) / (M2/n)^1.5
    G2 = ((n+1)*g2 + 6) * (n-1)/((n-2)(n-3)), g2 = n*M4/M2^2 - 3

NULL gates: n_obs < 3 (skew) / < 4 (kurt), or M2 <= eps (constant
window), plus the engine-wide min_obs / na_restore gates.
"""

from __future__ import annotations

from decimal import Decimal

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as TT

from roll_spark.config import EPS
from roll_spark.operators.base import (
    Cols,
    complete_obs_maskable,
    gate,
    rolling_window,
)
from roll_spark.operators.window_ops import _spec


@complete_obs_maskable
def roll_skew(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    out: str = "roll_skew",
) -> DataFrame:
    """Bias-corrected rolling sample skewness (G1): roll_skew_kurt with
    the kurtosis output dropped."""
    tmp = f"__kurt_{out}"
    return roll_skew_kurt(df, value, by, order, width, min_obs=min_obs,
                          na_restore=na_restore, out_skew=out,
                          out_kurt=tmp).drop(tmp)


@complete_obs_maskable
def roll_kurt(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    out: str = "roll_kurt",
) -> DataFrame:
    """Bias-corrected rolling excess kurtosis (G2): roll_skew_kurt with
    the skewness output dropped."""
    tmp = f"__skew_{out}"
    return roll_skew_kurt(df, value, by, order, width, min_obs=min_obs,
                          na_restore=na_restore, out_skew=tmp,
                          out_kurt=out).drop(tmp)


@complete_obs_maskable
def roll_skew_kurt(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    out_skew: str = "roll_skew",
    out_kurt: str = "roll_kurt",
    out_jb: str | None = None,
) -> DataFrame:
    """Fused skew + kurt: one Arrow pass computes both
    stats from the same per-window central moments
    (kernels.conv_skew_kurt), vs 2x everything for two calls. A double
    NaN counts as missing, like NULL.

    ``out_jb`` additionally emits the Jarque-Bera normality statistic
    JB = n/6 * (g1^2 + g2^2/4) over the window (g1/g2 the UNcorrected
    sample moments, the standard JB definition) from the same moments;
    NULL under the kurtosis gates (n < 4 or zero variance)."""
    from roll_spark.operators import kernels as K
    from roll_spark.operators.arrow_ops import _apply_kernel

    spec = _spec(width, min_obs, na_restore, None)
    outs = [out_skew, out_kurt] + ([out_jb] if out_jb is not None else [])

    def kernel(cols):
        res = K.conv_skew_kurt(cols[value], width, min_obs=spec.effective_min_obs,
                               na_restore=na_restore)
        return {o: res[:, j] for j, o in enumerate(outs)}

    return _apply_kernel(df, [value], by, order, [(o, "double") for o in outs], kernel)


@complete_obs_maskable
def roll_nunique(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    out: str = "roll_nunique",
) -> DataFrame:
    """Rolling distinct-value count over the trailing window, on any
    scalar column type: the values' integer codes (see :func:`_coded`)
    run kernels.conv_nunique, one wavelet-matrix rank count per row,
    O(n log n) per series at any width. NULL and a double NaN are
    missing; -0.0 equals 0.0.
    """
    from roll_spark.operators import kernels as K

    spec = _spec(width, min_obs, na_restore, None)
    res = _coded(df, value, by, order, out, lambda x: K.conv_nunique(
        x, width, min_obs=spec.effective_min_obs, na_restore=na_restore))
    o = F.col(out)
    return res.withColumn(out, F.when(o.isNotNull() & ~F.isnan(o), o.cast("int")))


def roll_acf(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    lags: "Sequence[int]" = (1, 2, 3),
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    out_prefix: str = "acf_",
    out_q: str | None = None,
) -> DataFrame:
    """Fused rolling autocorrelation function: cor(x_t, x_{t-j}) over the
    trailing width-window for EVERY lag j in ``lags``, in one pass —
    seasonality / self-similarity detection on transcript series
    (turn-latency periodicity, burst echo).

    Plan shape: ONE Exchange + ONE Sort + TWO WindowExec nodes total —
    one offset node computing every lag column, one frame node computing
    every lag's pairwise-complete moment set (all lags' aggregates share
    the sliding frame, so Catalyst keeps them in a single node). k
    separate roll_cor calls would cost 2k Window nodes (interleaved
    Projects defeat CollapseWindow).

    Per-lag semantics are EXACTLY roll_cor(x, lag_j(x)) on the reference
    gates (pairwise-complete mask, eps on the centered sums of squares,
    n_obs > 1, min_obs): column j of this fused op is bit-identical to
    the sequential composition (tests/test_moments.py asserts it).

    ``out_q`` additionally emits the Ljung-Box portmanteau statistic
    Q = n(n+2) * sum_j acf_j^2 / (n - j) over the window (n = the
    window's observed count) — the standard "is there ANY
    autocorrelation" test score, a pure projection over the fused
    columns (zero extra window work); NULL when any acf_j is NULL or
    n <= max(lags).
    """
    from roll_spark.operators.base import ordered_window

    spec = _spec(width, min_obs, na_restore, None)
    lags = list(lags)
    ow = ordered_window(by, order)
    w = rolling_window(by, order, width)
    v = F.col(value)
    # 1: all lag columns in one withColumns -> ONE offset WindowExec
    df = df.withColumns({f"__lag{j}": F.lag(v, j).over(ow) for j in lags})
    # 2: all frame aggregates in one withColumns -> ONE frame WindowExec
    aggs = {}
    for j in lags:
        y = F.col(f"__lag{j}")
        both = v.isNotNull() & y.isNotNull()
        xm, ym = F.when(both, v), F.when(both, y)
        aggs[f"__n{j}"] = F.count(F.when(both, F.lit(1))).over(w)
        aggs["__n0"] = F.count(v).over(w)
        aggs[f"__cov{j}"] = F.covar_samp(xm, ym).over(w)
        aggs[f"__sdx{j}"] = F.stddev_samp(xm).over(w)
        aggs[f"__sdy{j}"] = F.stddev_samp(ym).over(w)
    df = df.withColumns(aggs)
    # 3: gated correlations in the projection (division OUTSIDE the
    # window aggregate — ANSI-safe, see roll_cor)
    outs, tmps = {}, []
    for j in lags:
        n_obs = F.col(f"__n{j}")
        ssx = F.col(f"__sdx{j}") * F.col(f"__sdx{j}") * (n_obs - 1)
        ssy = F.col(f"__sdy{j}") * F.col(f"__sdy{j}") * (n_obs - 1)
        stat = F.when(
            (ssx > F.lit(EPS)) & (ssy > F.lit(EPS)),
            F.col(f"__cov{j}") / (F.col(f"__sdx{j}") * F.col(f"__sdy{j}")),
        )
        restore_ref = F.when(
            v.isNull() | F.col(f"__lag{j}").isNull(), F.lit(None)
        ).otherwise(F.lit(1.0))
        outs[f"{out_prefix}{j}"] = gate(spec, restore_ref, stat, n_obs, need_two=True)
        tmps += [f"__lag{j}", f"__n{j}", f"__cov{j}", f"__sdx{j}", f"__sdy{j}"]
    df = df.withColumns(outs)
    if out_q is not None:
        n0 = F.col("__n0").cast("double")
        q = None
        for j in lags:
            a = F.col(f"{out_prefix}{j}")
            term = a * a / (n0 - j)
            q = term if q is None else q + term
        df = df.withColumn(
            out_q, F.when(n0 > max(lags), n0 * (n0 + 2) * q)
        )
    return df.drop(*tmps, "__n0")


@complete_obs_maskable
def roll_percentrank(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    out: str = "roll_percentrank",
) -> DataFrame:
    """Rolling percent rank of the CURRENT value within its trailing
    window: (#{observed v <= x_t} - 1) / (n_obs - 1), in [0, 1] — a
    distribution-free "how extreme is this turn" score.  Tie convention
    is MAX-rank (counts v <= x), so tied values all score at the top of
    their tie group; SQL PERCENT_RANK uses min-rank (#{v < x}). The
    kernel and the DuckDB oracle share the max-rank convention.

    Any orderable column type: the values' order-keeping integer codes
    (see :func:`_coded`) run kernels.conv_percentrank, one wavelet-matrix
    rank count per row, O(n log n) per series at any width. NULL when
    the current value is missing or n_obs < max(min_obs, 2); a double
    NaN is missing, like NULL.
    """
    from roll_spark.operators import kernels as K

    spec = _spec(width, min_obs, na_restore, None)
    return _coded(df, value, by, order, out, lambda x: K.conv_percentrank(
        x, width, min_obs=spec.effective_min_obs, na_restore=na_restore),
        ordered=True)


@complete_obs_maskable
def roll_trimmed_mean(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    alpha: float = 0.2,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    out: str = "roll_trimmed_mean",
) -> DataFrame:
    """Rolling trimmed mean: drop floor(alpha * n_obs) observed values
    from EACH end of the sorted window, average the rest — the standard
    robust location estimate for heavy-tailed telemetry (latency
    spikes) that roll_mean smears and roll_median over-discards.

    alpha in [0, 0.5): at least one value always survives, so the only
    NULL gates are min_obs / na_restore. The trim count uses the same
    float64 ``floor(alpha * n)`` in the kernel and the DuckDB oracle, so
    boundary fills agree bit-for-bit.

    Runs the blocked Arrow kernel (kernels.conv_trimmed_mean) at every
    width; a double NaN counts as missing, like NULL, and the output is
    double for every input type.
    """
    if not 0.0 <= alpha < 0.5:
        raise ValueError(f"alpha must be in [0, 0.5), got {alpha}")
    from roll_spark.operators import kernels as K
    from roll_spark.operators.arrow_ops import _one

    spec = _spec(width, min_obs, na_restore, None)
    return _one(df, value, by, order, spec, K.conv_trimmed_mean, out, alpha=alpha)


def roll_spearman(
    df: DataFrame,
    x: str,
    y: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    out: str = "roll_spearman",
) -> DataFrame:
    """Rolling Spearman rank correlation (pairwise-complete, exact
    average-rank ties) — the robust twin of roll_cor: invariant to any
    monotone transform of either series, which is what heavy-tailed
    transcript telemetry (latency vs length) actually calls for.

    Mid-rank of e among window values v: (#{v<e} + #{v<=e} + 1)/2, then
    Pearson over the ranks with centered two-pass sums — mid-ranks are
    half-integers so their sums are EXACT in float64 and a
    tie-degenerate window hits the ssx > 0 gate identically in the
    kernel and the DuckDB oracle.

    Runs the Arrow kernel (kernels.conv_spearman: one argsort + one
    global reduceat per block, O(w log w) per row) at every width. A
    NaN in either input is missing, like NULL, so its pair leaves the
    window.
    """
    from roll_spark.operators import kernels as K
    from roll_spark.operators.arrow_ops import _two

    spec = _spec(width, min_obs, na_restore, None)
    return _two(df, x, y, by, order, spec, K.conv_spearman, out)


def roll_entropy(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    na_restore: bool = False,
    out: str = "roll_entropy",
) -> DataFrame:
    """Rolling empirical Shannon entropy (natural log) of the exact
    values in the trailing window — the behavioral-diversity signal for
    transcript streams: an agent stuck re-issuing the same tool call
    drives the entropy of its event/tool types toward 0 (+0.0), while
    varied behavior approaches ln(#distinct).

    Works on any scalar column type: the values' integer codes (see
    :func:`_coded`) run the Arrow kernel (kernels.conv_entropy,
    O(w log w) per row) at every width. A double NaN is missing, like
    NULL.
    """
    from roll_spark.operators import kernels as K

    spec = _spec(width, min_obs, na_restore, None)
    return _coded(df, value, by, order, out, lambda x: K.conv_entropy(
        x, width, min_obs=spec.effective_min_obs, na_restore=na_restore))


def _coded(df, value, by, order, out, fn, ordered=False):
    """``df`` plus the double column ``out`` = ``fn(codes)`` per series,
    where ``codes`` factorizes the series' values of ``value`` (any
    scalar type) to float64 integer codes: equal values share a code, a
    missing value (NULL, or a double NaN) is NaN, and -0.0 equals 0.0.
    With ``ordered`` the codes also compare as the values do. Bigint and
    decimal values cross as strings, so distinct values never merge in
    a float64 cast; ordered, they are ranked as exact numbers."""
    from roll_spark.operators.arrow_ops import _apply_kernel

    src, exact = value, None
    dtype = df.schema[value].dataType
    if isinstance(dtype, (TT.LongType, TT.DecimalType)):
        src = f"__codes_{out}"
        df = df.withColumn(src, F.col(value).cast("string"))
        exact = int if isinstance(dtype, TT.LongType) else Decimal

    def kernel(cols):
        import pandas as pd

        codes, uniques = pd.factorize(cols[src], sort=ordered and exact is None,
                                      use_na_sentinel=True)
        if ordered and exact is not None:
            # rank the numbers, not their digit strings ("10" < "9");
            # a missing value's -1 picks the appended -1
            keys = np.array([exact(u) for u in uniques], dtype=object)
            codes = np.append(np.argsort(np.argsort(keys)), -1)[codes]
        x = codes.astype("float64")
        x[codes < 0] = np.nan
        return {out: fn(x)}

    res = _apply_kernel(df, [src], by, order, [(out, "double")], kernel)
    return res.drop(src) if src != value else res


def roll_iqr(
    df: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    min_obs: int | None = None,
    weights: "Sequence[float] | None" = None,
    out: str = "iqr",
) -> DataFrame:
    """Rolling interquartile range (exact HF2 q75 - q25) — the robust
    scale twin of roll_sd (MAD's rank-based sibling): both quartiles
    come off the fused roll_quantiles pass, so this is exactly as
    expensive as a single rolling median (one Arrow pass). NaN and
    output types as in roll_quantile.
    """
    from roll_spark.operators.window_ops import roll_quantiles

    q = roll_quantiles(
        df, value, by, order, width, (0.25, 0.75),
        min_obs=min_obs, weights=weights,
        outs=("__iqr_q25", "__iqr_q75"),
    )
    return (
        q.withColumn(out, F.col("__iqr_q75") - F.col("__iqr_q25"))
        .drop("__iqr_q25", "__iqr_q75")
    )
