"""Higher-moment, cardinality and rank rolling ops.

These extend the reference surface (jasonjfoster/roll has mean/var/sd as
its highest moments — roll_vec.h:2114) with the third/fourth standardized
moments and rolling distinct counts that a transcript-analytics tier
needs (burstiness / heavy-tail detection on latency + value series).

Execution: acf runs on the native Catalyst path; nunique, percentrank
and trimmed mean run native up to NATIVE_MAX_WIDTH and on their Arrow
kernels above it; skew/kurt, spearman and entropy run only their Arrow
kernels (spearman's and entropy's O(w^2) JVM higher-order-function forms
were slower at every width measured).

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
from roll_spark.operators.window_ops import NATIVE_MAX_WIDTH, _spec


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
    """Rolling distinct-value count over the trailing window.

    collect_list drops NULLs (matching the engine-wide observed-values
    convention), array_distinct dedups JVM-side — no Python, no extra
    shuffle beyond the one hash exchange every window op pays.  The
    collect_list form holds a width-long array per row in JVM heap, so
    widths above NATIVE_MAX_WIDTH route to the blocked Arrow
    kernel (kernels.conv_nunique), same dispatch rule as roll_quantile.
    """
    spec = _spec(width, min_obs, na_restore, None)
    if width > NATIVE_MAX_WIDTH:
        from roll_spark.operators import kernels as K
        from roll_spark.operators.arrow_ops import _one

        res = _one(df, value, by, order, spec, K.conv_nunique, out)
        o = F.col(out)
        return res.withColumn(
            out, F.when(o.isNotNull() & ~F.isnan(o), o.cast("int"))
        )
    w = rolling_window(by, order, width)
    v = F.col(value)
    n_obs = F.count(v).over(w)
    stat = F.size(F.array_distinct(F.collect_list(v).over(w))).cast("int")
    return df.withColumn(out, gate(spec, v, stat, n_obs))


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
    their tie group; SQL PERCENT_RANK uses min-rank (#{v < x}).  All
    three paths (native HOF, Arrow kernel, DuckDB oracle) share the
    max-rank convention.

    collect_list + a JVM higher-order filter; NULL when the current
    value is missing or n_obs < max(min_obs, 2). Widths above
    NATIVE_MAX_WIDTH route to the blocked Arrow kernel
    (kernels.conv_percentrank) — fixed memory budget at any width.
    """
    spec = _spec(width, min_obs, na_restore, None)
    if width > NATIVE_MAX_WIDTH:
        from roll_spark.operators import kernels as K
        from roll_spark.operators.arrow_ops import _one

        return _one(df, value, by, order, spec, K.conv_percentrank, out)
    w = rolling_window(by, order, width)
    v = F.col(value)
    n_obs = F.count(v).over(w)
    arr = F.collect_list(v).over(w)
    le = F.size(F.filter(arr, lambda e: e <= v))
    stat = F.when(
        v.isNotNull() & (n_obs >= 2),
        (le - F.lit(1)).cast("double") / (n_obs - F.lit(1)),
    )
    return df.withColumn(out, gate(spec, v, stat, n_obs, need_two=True))


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
    float64 ``floor(alpha * n)`` on every path (native, Arrow kernel,
    DuckDB oracle), so boundary fills agree bit-for-bit.

    Native path (collect_list + array_sort + slice + aggregate, all JVM
    higher-order functions) holds a width-long array per row, so widths
    above NATIVE_MAX_WIDTH dispatch to the blocked Arrow
    kernel (kernels.conv_trimmed_mean) — the roll_quantile rule.
    """
    if not 0.0 <= alpha < 0.5:
        raise ValueError(f"alpha must be in [0, 0.5), got {alpha}")
    spec = _spec(width, min_obs, na_restore, None)
    if width > NATIVE_MAX_WIDTH:
        from roll_spark.operators import kernels as K
        from roll_spark.operators.arrow_ops import _one

        return _one(df, value, by, order, spec, K.conv_trimmed_mean, out,
                    alpha=alpha)
    w = rolling_window(by, order, width)
    v = F.col(value)
    arr = F.array_sort(F.collect_list(v).over(w))
    n = F.size(arr)
    k = F.floor(F.lit(float(alpha)) * n).cast("int")
    m = n - 2 * k
    total = F.aggregate(
        F.slice(arr, k + 1, m), F.lit(0.0), lambda acc, e: acc + e
    )
    stat = total / m
    return df.withColumn(out, gate(spec, v, stat, n))


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

    Works on any scalar column type (strings, integers, booleans,
    dates, timestamps, decimals, doubles): each series batch is
    factorized to integer codes that run the Arrow kernel
    (kernels.conv_entropy, O(w log w) per row) at every width. Bigint
    and decimal values cross as strings, so distinct values never merge
    in a float64 cast. A double NaN is missing, like NULL.
    """
    from roll_spark.operators import kernels as K
    from roll_spark.operators.arrow_ops import _apply_kernel

    spec = _spec(width, min_obs, na_restore, None)
    src = value
    if isinstance(df.schema[value].dataType, (TT.LongType, TT.DecimalType)):
        src = f"__ent_{out}"
        df = df.withColumn(src, F.col(value).cast("string"))

    def kernel(cols):
        import pandas as pd

        codes, _ = pd.factorize(cols[src], use_na_sentinel=True)
        x = codes.astype("float64")
        x[codes < 0] = float("nan")
        return {out: K.conv_entropy(x, width, min_obs=spec.effective_min_obs,
                                    na_restore=na_restore)}

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
    scale twin of roll_sd (MAD's rank-based sibling), at the cost of
    ONE sorted window per row: both quartiles come off the fused
    roll_quantiles table lookup, so this is exactly as expensive as a
    single rolling median (same single WindowExec / one Arrow pass).
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
