"""Native Window path vs the naive numpy oracle, over the reference's
own parameter grid (test-roll.R / test-zoo.R structure): widths x
min_obs x variants incl. zeros and NAs, na_restore both ways."""

from __future__ import annotations

import numpy as np
import pytest

from roll_spark import (
    roll_all,
    roll_any,
    roll_cor,
    roll_cov,
    roll_crossprod,
    roll_idxmax,
    roll_idxmin,
    roll_max,
    roll_mean,
    roll_median,
    roll_min,
    roll_prod,
    roll_quantile,
    roll_scale,
    roll_sd,
    roll_sum,
    roll_var,
)
from tests import oracle
from tests.conftest import collect_all, collect_series

WIDTHS = [1, 5, 10, 15]
MIN_OBS = [1, 5]
VARIANTS = ["det_zeros", "rand_zeros", "rand_zeros_nas"]

SIMPLE_OPS = {
    "sum": (roll_sum, oracle.roll_sum),
    "mean": (roll_mean, oracle.roll_mean),
    "prod": (roll_prod, oracle.roll_prod),
    "min": (roll_min, oracle.roll_min),
    "max": (roll_max, oracle.roll_max),
    "var": (roll_var, oracle.roll_var),
    "sd": (roll_sd, oracle.roll_sd),
    "median": (roll_median, oracle.roll_median),
    "scale": (roll_scale, oracle.roll_scale),
    "idxmin": (roll_idxmin, oracle.roll_idxmin),
    "idxmax": (roll_idxmax, oracle.roll_idxmax),
}


def assert_close(got: np.ndarray, want: np.ndarray, label: str):
    same_na = np.isnan(got) == np.isnan(want)
    assert same_na.all(), f"{label}: NA pattern mismatch\n got={got}\nwant={want}"
    ok = np.isnan(want) | np.isclose(got, want, rtol=1e-9, atol=1e-12, equal_nan=True)
    assert ok.all(), f"{label}: value mismatch\n got={got}\nwant={want}"


@pytest.mark.parametrize("op", sorted(SIMPLE_OPS))
@pytest.mark.parametrize("width", WIDTHS)
def test_simple_ops_grid(spark, grid_df, grid_series, op, width):
    fn, ofn = SIMPLE_OPS[op]
    for min_obs in MIN_OBS:
        if min_obs > width:
            continue
        for na_restore in (False, True):
            sdf = fn(
                grid_df, "x", "series_id", "i", width,
                min_obs=min_obs, na_restore=na_restore, out="r",
            )
            allv = collect_all(sdf, "r")
            for variant in VARIANTS:
                got = allv[variant]
                want = ofn(
                    grid_series[variant], width, min_obs=min_obs, na_restore=na_restore
                )
                assert_close(
                    got, want, f"{op} w={width} mo={min_obs} nr={na_restore} {variant}"
                )


@pytest.mark.parametrize("p", [0.0, 0.25, 0.5, 0.75, 1.0])
@pytest.mark.parametrize("width", [5, 10, 15])
def test_quantile_grid(spark, grid_df, grid_series, p, width):
    for min_obs in MIN_OBS:
        sdf = roll_quantile(
            grid_df, "x", "series_id", "i", width, p, min_obs=min_obs, out="r"
        )
        allv = collect_all(sdf, "r")
        for variant in VARIANTS:
            got = allv[variant]
            want = oracle.roll_quantile(grid_series[variant], width, p, min_obs=min_obs)
            assert_close(got, want, f"quantile p={p} w={width} mo={min_obs} {variant}")


@pytest.mark.parametrize("width", [2, 5, 10, 15])
def test_pair_ops_grid(spark, grid_df, grid_pairs, width):
    pair_ops = {
        "cov": (roll_cov, oracle.roll_cov),
        "cor": (roll_cor, oracle.roll_cor),
        "crossprod": (roll_crossprod, oracle.roll_crossprod),
    }
    for name, (fn, ofn) in pair_ops.items():
        for min_obs in MIN_OBS:
            sdf = fn(grid_df, "x", "y", "series_id", "i", width, min_obs=min_obs, out="r")
            allv = collect_all(sdf, "r")
            for variant in VARIANTS:
                x, y = grid_pairs[variant]
                got = allv[variant]
                want = ofn(x, y, width, min_obs=min_obs)
                assert_close(got, want, f"{name} w={width} mo={min_obs} {variant}")


@pytest.mark.parametrize("width", [1, 5, 10])
def test_logical_ops_grid(spark, grid_df, grid_series, width):
    # build a logical view: x > 0 with NAs preserved
    from pyspark.sql import functions as F

    ldf = grid_df.withColumn(
        "b", F.when(F.col("x").isNotNull(), (F.col("x") > 0).cast("double"))
    )
    for min_obs in (1, width):
        a_df = roll_any(ldf, "b", "series_id", "i", width, min_obs=min_obs, out="r")
        l_df = roll_all(ldf, "b", "series_id", "i", width, min_obs=min_obs, out="r")
        any_all = collect_all(a_df.withColumn("r", a_df.r.cast("double")), "r")
        all_all = collect_all(l_df.withColumn("r", l_df.r.cast("double")), "r")
        for variant in VARIANTS:
            x = grid_series[variant]
            b = np.where(np.isnan(x), np.nan, (x > 0).astype(np.float64))
            got_any = any_all[variant]
            got_all = all_all[variant]
            assert_close(got_any, oracle.roll_any(b, width, min_obs=min_obs),
                         f"any w={width} mo={min_obs} {variant}")
            assert_close(got_all, oracle.roll_all(b, width, min_obs=min_obs),
                         f"all w={width} mo={min_obs} {variant}")


def test_expanding_is_width_n(spark, grid_df, grid_series):
    """width = n with min_obs=1 gives the expanding series (README.md:57)."""
    sdf = roll_mean(grid_df, "x", "series_id", "i", 15, min_obs=1, out="r")
    allv = collect_all(sdf, "r")
    for variant in VARIANTS:
        x = grid_series[variant]
        got = allv[variant]
        want = oracle.roll_mean(x, 15, min_obs=1)
        # explicit expanding recompute
        exp = np.array(
            [np.nanmean(x[: i + 1]) if np.any(~np.isnan(x[: i + 1])) else np.nan
             for i in range(15)]
        )
        assert_close(got, want, f"expanding {variant}")
        assert_close(got, exp, f"expanding-direct {variant}")


def test_chained_ops_collapse_to_one_window_exec(spark, grid_df):
    """Multi-statistic pipelines over the same (series, order) must stay
    ONE Exchange + ONE Sort + ONE WindowExec regardless of how many ops
    or frame widths are chained — the property that makes a 50-column
    feature sweep cost the same single shuffle as one column at 100 TB.
    (Catalyst CollapseWindow merges adjacent same-spec Window nodes; our
    operators are written to keep the projections adjacent.)"""
    import re

    from pyspark.sql import functions as F

    from roll_spark import roll_max, roll_mean, roll_min, roll_sum, roll_var

    df = grid_df.withColumn("x2", F.col("x") * 2)
    df = roll_mean(df, "x", "series_id", "i", 5, out="m")
    df = roll_var(df, "x", "series_id", "i", 5, out="v")
    df = roll_min(df, "x2", "series_id", "i", 5, out="lo")
    df = roll_max(df, "x2", "series_id", "i", 5, out="hi")
    df = roll_sum(df, "x", "series_id", "i", 10, out="s10")  # different frame
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hash", plan)) == 1, plan
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    assert len(re.findall(r"\bWindow ", plan)) == 1, plan


@pytest.mark.parametrize("center, agg", [(True, "var_samp"), (False, "sum")])
def test_var_window_computes_each_aggregate_once(spark, grid_df, center, agg):
    """Spark evaluates every use of a window aggregate as its own window
    function: roll_var's Window node holds one count and one variance
    (or sum of squares), however often its gates read them."""
    import re

    df = roll_var(grid_df, "x", "series_id", "i", 10, min_obs=5,
                  center=center, out="v")
    plan = df._jdf.queryExecution().executedPlan().toString()
    (window,) = [ln for ln in plan.splitlines() if re.search(r"\bWindow ", ln)]
    assert len(re.findall(r"\bcount\(", window)) == 1, window
    assert len(re.findall(rf"\b{agg}\(", window)) == 1, window


def test_constant_series_cor_is_null_not_error(spark, grid_df):
    """Zero-variance windows must gate roll_cor to NULL, not raise a
    DIVIDE_BY_ZERO under ANSI mode (F.corr divides inside the window
    aggregate where no projection-level guard can reach)."""
    from pyspark.sql import functions as F

    from roll_spark import roll_cor

    const = grid_df.withColumn("a", F.lit(42.0)).withColumn("b", F.lit(7.0))
    out = roll_cor(const, "a", "b", "series_id", "i", 5, min_obs=2, out="c")
    assert out.filter(F.col("c").isNotNull()).count() == 0


def test_degenerate_inputs_never_raise(spark):
    """Constant series, all-zero series, and single-row series must flow
    through every native op without runtime errors under ANSI mode
    (divisions inside aggregates cannot be guarded by projections)."""
    from pyspark.sql import functions as F

    from roll_spark import (roll_all, roll_any, roll_cov, roll_crossprod,
                            roll_idxmax, roll_median, roll_prod, roll_scale,
                            roll_sd, roll_var)
    from roll_spark.operators.lm import roll_lm

    rows = [("s1", i, 42.0, 42.0) for i in range(8)] + [("s2", 0, 0.0, 0.0)]
    df = spark.createDataFrame(rows, "g string, i int, a double, b double")
    outs = [
        roll_prod(df, "b", "g", "i", 5, min_obs=1, out="o"),
        roll_idxmax(df, "a", "g", "i", 5, min_obs=1, out="o"),
        roll_median(df, "a", "g", "i", 5, min_obs=1, out="o"),
        roll_var(df, "a", "g", "i", 5, min_obs=1, center=False, out="o"),
        roll_sd(df, "a", "g", "i", 5, min_obs=1, out="o"),
        roll_scale(df, "a", "g", "i", 5, min_obs=1, out="o"),
        roll_cov(df, "a", "b", "g", "i", 5, min_obs=1, out="o"),
        roll_crossprod(df, "a", "b", "g", "i", 5, min_obs=1, out="o"),
        roll_any(df.withColumn("c", F.col("a") > 0), "c", "g", "i", 5, out="o"),
        roll_all(df.withColumn("c", F.col("a") > 0), "c", "g", "i", 5, out="o"),
        roll_lm(df, "a", "b", "g", "i", 5, min_obs=2),
    ]
    for out in outs:
        out.collect()  # must not raise


def test_mask_cols_complete_obs(spark):
    """mask_cols applies the matrix complete_obs row mask before
    windowing: rows with a NULL sibling vanish from counts and sums, on
    BOTH the native path and the weighted Arrow dispatch; the temp mask
    column never leaks into the result."""
    from pyspark.sql import functions as F

    from roll_spark import roll_mean

    rows = [("s", i, float(i), None if i % 3 == 0 else 1.0) for i in range(12)]
    df = spark.createDataFrame(rows, "g string, i int, v double, sib double")
    out = roll_mean(df, "v", "g", "i", 4, min_obs=2, mask_cols=["sib"], out="m")
    assert "__rs_cm_v" not in out.columns
    got = {r["i"]: r["m"] for r in out.collect()}
    # manual mask: v_i dropped when i % 3 == 0
    import numpy as np
    vs = [None if i % 3 == 0 else float(i) for i in range(12)]
    for i in range(12):
        win = [x for x in vs[max(0, i - 3) : i + 1] if x is not None]
        exp = float(np.mean(win)) if len(win) >= 2 else None
        assert (got[i] is None and exp is None) or abs(got[i] - exp) < 1e-12, i
    # weighted dispatch honors the same mask
    outw = roll_mean(
        df, "v", "g", "i", 4, min_obs=2, mask_cols=["sib"],
        weights=[0.5, 1.0, 2.0, 4.0], out="m",
    )
    assert "__rs_cm_v" not in outw.columns
    goww = {r["i"]: r["m"] for r in outw.collect()}
    wts = [0.5, 1.0, 2.0, 4.0]
    for i in range(12):
        sl = vs[max(0, i - 3) : i + 1]
        w_sl = wts[-len(sl):]
        pairs = [(w, x) for w, x in zip(w_sl, sl) if x is not None]
        if len(pairs) >= 2:
            exp = sum(w * x for w, x in pairs) / sum(w for w, _ in pairs)
            assert abs(goww[i] - exp) < 1e-10, i
        else:
            assert goww[i] is None, i
