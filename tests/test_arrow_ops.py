"""End-to-end Arrow path through the public API: passing non-equal
weights to any roll_* op must route to the applyInArrow kernels and
match the naive oracle — the reference's weighted/exp-decay axis."""

from __future__ import annotations

import numpy as np
import pytest

from roll_spark import (
    roll_cor,
    roll_cov,
    roll_crossprod,
    roll_mean,
    roll_prod,
    roll_quantile,
    roll_scale,
    roll_sd,
    roll_sum,
    roll_var,
)
from roll_spark.config import RollSpec
from roll_spark.operators.arrow_ops import roll_lm_k
from tests import oracle
from tests.conftest import collect_all
from tests.test_window_ops import VARIANTS, assert_close

WIDTH = 5


def _exp_weights(width):
    # the reference's own weighted fixture: 0.9^(2w:1), length 2*width
    return list(0.9 ** np.arange(2 * width, 0, -1.0))


WEIGHTED_OPS = {
    "sum": (roll_sum, oracle.roll_sum),
    "mean": (roll_mean, oracle.roll_mean),
    "prod": (roll_prod, oracle.roll_prod),
    "var": (roll_var, oracle.roll_var),
    "sd": (roll_sd, oracle.roll_sd),
    "scale": (roll_scale, oracle.roll_scale),
}


@pytest.mark.parametrize("op", sorted(WEIGHTED_OPS))
def test_weighted_ops_route_to_arrow(spark, grid_df, grid_series, op):
    fn, ofn = WEIGHTED_OPS[op]
    wts = _exp_weights(WIDTH)
    for min_obs in (1, 5):
        sdf = fn(grid_df, "x", "series_id", "i", WIDTH,
                 weights=wts, min_obs=min_obs, out="r")
        allv = collect_all(sdf, "r")
        for variant in VARIANTS:
            want = ofn(grid_series[variant], WIDTH, weights=wts, min_obs=min_obs)
            assert_close(allv[variant], want,
                         f"arrow {op} mo={min_obs} {variant}", )


def test_weighted_quantile_arrow(spark, grid_df, grid_series):
    wts = _exp_weights(WIDTH)
    for p in (0.25, 0.5, 0.75):
        sdf = roll_quantile(grid_df, "x", "series_id", "i", WIDTH, p,
                            weights=wts, min_obs=1, out="r")
        allv = collect_all(sdf, "r")
        for variant in VARIANTS:
            want = oracle.roll_quantile(grid_series[variant], WIDTH, p,
                                        weights=wts, min_obs=1)
            assert_close(allv[variant], want, f"arrow quantile p={p} {variant}")


def test_weighted_pair_ops_arrow(spark, grid_df, grid_pairs):
    wts = _exp_weights(WIDTH)
    pair_ops = {
        "cov": (roll_cov, oracle.roll_cov),
        "cor": (roll_cor, oracle.roll_cor),
        "crossprod": (roll_crossprod, oracle.roll_crossprod),
    }
    for name, (fn, ofn) in pair_ops.items():
        sdf = fn(grid_df, "x", "y", "series_id", "i", WIDTH,
                 weights=wts, min_obs=1, out="r")
        allv = collect_all(sdf, "r")
        for variant in VARIANTS:
            x, y = grid_pairs[variant]
            want = ofn(x, y, WIDTH, weights=wts, min_obs=1)
            assert_close(allv[variant], want, f"arrow {name} {variant}")


def test_lm_k2_arrow(spark, grid_df, grid_pairs):
    """Two-regressor lm through applyInArrow: y ~ x + x^2."""
    from pyspark.sql import functions as F

    df2 = grid_df.withColumn("x2", F.col("x") * F.col("x"))
    spec = RollSpec(width=8, min_obs=1)
    sdf = roll_lm_k(df2, ["x", "x2"], "y", "series_id", "i", spec)
    rows = sdf.select("series_id", "i", "lm_coef", "lm_r2").collect()
    got = {}
    for r in rows:
        got.setdefault(r[0], {})[r[1]] = (r[2], r[3])
    from roll_spark.operators import kernels as K

    for variant in VARIANTS:
        x, y = grid_pairs[variant]
        X = np.column_stack([x, x * x])
        want = K.conv_lm_k(X, y, 8, min_obs=1, intercept=True)
        for i in range(len(x)):
            coef, r2 = got[variant][i]
            if coef is None:
                assert np.isnan(want["coef"][i]).all(), (variant, i)
            else:
                assert np.allclose(coef, want["coef"][i], rtol=1e-9), (variant, i)
            if r2 is None:
                assert np.isnan(want["r2"][i]), (variant, i)
            else:
                assert np.isclose(r2, want["r2"][i], rtol=1e-9), (variant, i)


def test_weighted_lm_flat_matches_oracle(spark, grid_df, grid_pairs):
    from roll_spark.operators.lm import roll_lm

    wts = _exp_weights(WIDTH)
    sdf = roll_lm(grid_df, "x", "y", "series_id", "i", WIDTH,
                  weights=wts, min_obs=1)
    cols = {c: collect_all(sdf, c) for c in
            ("lm_coef_x", "lm_intercept", "lm_r2", "lm_se_x", "lm_se_intercept")}
    for variant in VARIANTS:
        x, y = grid_pairs[variant]
        want = oracle.roll_lm(x, y, WIDTH, weights=wts, min_obs=1)
        assert_close(cols["lm_coef_x"][variant], want["coef_x"], f"wlm coef {variant}")
        assert_close(cols["lm_intercept"][variant], want["intercept"], f"wlm int {variant}")
        assert_close(cols["lm_r2"][variant], want["r2"], f"wlm r2 {variant}")
        assert_close(cols["lm_se_x"][variant], want["se_x"], f"wlm se {variant}")
        assert_close(cols["lm_se_intercept"][variant], want["se_intercept"],
                     f"wlm sei {variant}")


def test_joinback_alignment_wide_frame_upstream_window(spark):
    """Regression: the wide-frame join-back path must key on (by, order),
    not a synthetic id. With an upstream WindowExec (lag) feeding the
    Arrow op, monotonically_increasing_id values differed between the
    two recomputations of the plan on either side of the join-back
    self-join, landing every kernel output on the wrong row."""
    import pandas as pd
    from pyspark.sql import functions as F

    from roll_spark.operators.base import ordered_window

    rng = np.random.default_rng(7)
    n, groups = 400, 8
    pdf = pd.DataFrame(
        {
            "g": np.repeat([f"s{i}" for i in range(groups)], n // groups),
            "i": np.tile(np.arange(n // groups), groups),
            "x": rng.normal(size=n),
            # wide payload column forces the join-back strategy
            "payload": ["p" * 64] * n,
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "xlag", F.lag("x").over(ordered_window("g", "i"))
    )
    wts = _exp_weights(WIDTH)
    out = (
        roll_cov(df, "x", "xlag", "g", "i", WIDTH, weights=wts, min_obs=2, out="r")
        .select("g", "i", "r")
        .toPandas()
        .sort_values(["g", "i"])
    )
    for g, sub in out.groupby("g"):
        sub = sub.sort_values("i")
        x = pdf[pdf.g == g].sort_values("i")["x"].to_numpy()
        xl = np.concatenate([[np.nan], x[:-1]])
        want = oracle.roll_cov(x, xl, WIDTH, weights=wts, min_obs=2)
        got = sub["r"].to_numpy()
        assert np.allclose(np.nan_to_num(got, nan=1e99),
                           np.nan_to_num(want, nan=1e99), atol=1e-10), g


def test_cov_matrix_kernel_matches_pairwise_oracle():
    """conv_cov_matrix (cube output) == per-pair oracle under
    complete_obs row masking, cov and cor, weighted and unweighted."""
    from roll_spark.operators.kernels import conv_cov_matrix

    rng = np.random.default_rng(5640)
    X = rng.normal(size=(40, 3))
    X[rng.random(40) < 0.2, 1] = np.nan  # row-wise NAs in one column
    ok = ~np.isnan(X).any(axis=1)
    Xm = np.where(ok[:, None], X, np.nan)  # complete_obs mask
    for wts in (None, _exp_weights(WIDTH)):
        cube = conv_cov_matrix(X, WIDTH, weights=None if wts is None else np.asarray(wts),
                               min_obs=2)
        for j in range(3):
            for l in range(3):
                want = oracle.roll_cov(Xm[:, j], Xm[:, l], WIDTH,
                                       weights=wts, min_obs=2)
                assert_close(cube[:, j, l], want, f"covmat[{j},{l}] w={wts is not None}")
        cor = conv_cov_matrix(X, WIDTH, weights=None if wts is None else np.asarray(wts),
                              min_obs=2, scale=True)
        for j in range(3):
            for l in range(3):
                want = oracle.roll_cor(Xm[:, j], Xm[:, l], WIDTH,
                                       weights=wts, min_obs=2)
                assert_close(cor[:, j, l], want, f"cormat[{j},{l}] w={wts is not None}")


def test_roll_cov_matrix_spark(spark, grid_df):
    """End-to-end cube op through applyInArrow: k=2 matrix entries equal
    the scalar roll_cov/roll_var results under the same masking."""
    from pyspark.sql import functions as F

    from roll_spark.operators.arrow_ops import roll_cov_matrix

    df = grid_df.withColumn("x2", F.col("x") * 0.5 + F.lit(1.0))
    out = roll_cov_matrix(df, ["x", "x2"], "series_id", "i",
                          RollSpec(width=WIDTH, min_obs=2), out="m")
    pdf = out.select("series_id", "i", "m").toPandas().sort_values(["series_id", "i"])
    for sid, sub in pdf.groupby("series_id"):
        m = np.array([
            [np.nan] * 4 if row is None else [np.nan if v is None else v for v in row]
            for row in sub.sort_values("i")["m"]
        ])
        x = (
            grid_df.filter(F.col("series_id") == sid).orderBy("i").toPandas()["x"]
            .to_numpy(dtype=np.float64, na_value=np.nan)
        )
        x2 = x * 0.5 + 1.0
        want_xx = oracle.roll_cov(x, x, WIDTH, min_obs=2)
        want_xy = oracle.roll_cov(x, x2, WIDTH, min_obs=2)
        assert_close(m[:, 0], want_xx, f"{sid} xx")
        assert_close(m[:, 1], want_xy, f"{sid} xy")
        assert_close(m[:, 2], want_xy, f"{sid} yx(mirror)")


def test_per_turn_text_equality_through_arrow_pipeline(spark):
    """BASELINE invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering after a full weighted pipeline over the
    raw transcripts frame (wide -> join-back path, where a row-alignment
    bug would corrupt exactly this)."""
    from roll_spark.sources.transcripts import derive_series, generate_transcripts

    tdf = derive_series(generate_transcripts(spark, n_convs=10, median_turns=25))
    out = roll_mean(tdf, "text_len", "conv_id", "turn_idx", WIDTH,
                    weights=_exp_weights(WIDTH), min_obs=1, out="m")
    out = roll_var(out, "latency_s", "conv_id", "turn_idx", WIDTH,
                   weights=_exp_weights(WIDTH), min_obs=2, out="v")
    orig = {(r[0], r[1]): r[2] for r in
            tdf.select("conv_id", "turn_idx", "text").collect()}
    after_rows = out.orderBy("conv_id", "turn_idx").select(
        "conv_id", "turn_idx", "text").collect()
    after = {(r[0], r[1]): r[2] for r in after_rows}
    assert orig == after
    # stable ordering: sorted output enumerates each conv's turns densely
    seen = {}
    for r in after_rows:
        seen.setdefault(r[0], []).append(r[1])
    assert all(v == sorted(v) == list(range(len(v))) for v in seen.values())


# ---------------------------------------------------------------------------
# round 2: multi-response lm, quantile width dispatch
# ---------------------------------------------------------------------------


def test_roll_lm_multi_equals_per_y_fits(grid_df):
    """One grouped-map pass fitting [y, x-as-second-response] must equal
    two independent roll_lm_k runs (the reference's per-column loop,
    src/roll.cpp:2280-2325) — including each fit's OWN NA mask."""
    from pyspark.sql import functions as F

    from roll_spark.config import RollSpec
    from roll_spark.operators.arrow_ops import roll_lm_k, roll_lm_multi
    from tests.conftest import collect_all

    spec = RollSpec(width=5, min_obs=5)
    base = grid_df.withColumn("i_d", F.col("i").cast("double"))
    multi = roll_lm_multi(base, ["i_d"], ["x", "y"], "series_id", "i", spec)
    multi = multi.withColumn("cx", F.col("lm_x_coef")[0]).withColumn(
        "cy", F.col("lm_y_coef")[0]
    )
    single_x = roll_lm_k(base, ["i_d"], "x", "series_id", "i", spec,
                         out_prefix="sx_").withColumn("c", F.col("sx_coef")[0])
    single_y = roll_lm_k(base, ["i_d"], "y", "series_id", "i", spec,
                         out_prefix="sy_").withColumn("c", F.col("sy_coef")[0])
    for got_col, single, r2c, sr2 in (
        ("cx", single_x, "lm_x_r2", "sx_r2"),
        ("cy", single_y, "lm_y_r2", "sy_r2"),
    ):
        got = collect_all(multi, got_col)
        want = collect_all(single, "c")
        for name in got:
            assert np.allclose(got[name], want[name], equal_nan=True, atol=0), (
                got_col, name)
        got_r2 = collect_all(multi, r2c)
        want_r2 = collect_all(single, sr2)
        for name in got_r2:
            assert np.allclose(got_r2[name], want_r2[name], equal_nan=True, atol=0)


def test_quantile_width_dispatch(grid_df):
    """Equal-weight quantiles take the Arrow kernel at every width, on
    either side of NATIVE_MAX_WIDTH: one MapInArrow, and no per-row
    collect_list/array_sort Window in the plan."""
    from roll_spark.operators.window_ops import (
        NATIVE_MAX_WIDTH,
        roll_quantile,
    )

    for width in (5, NATIVE_MAX_WIDTH, NATIVE_MAX_WIDTH + 1):
        res = roll_quantile(grid_df, "x", "series_id", "i", width, 0.5,
                            min_obs=1, out="q")
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "collect_list" not in plan and "Window [" not in plan, width
        assert plan.count("MapInArrow") == 1, width


@pytest.mark.parametrize("op", [roll_mean, roll_sum])
def test_sum_mean_width_dispatch(grid_df, op):
    """Equal-weight sum/mean stay on the native Window node up to
    NATIVE_MAX_WIDTH and take the Arrow kernel one past it."""
    from roll_spark.operators.window_ops import NATIVE_MAX_WIDTH

    def plan(width):
        out = op(grid_df, "x", "series_id", "i", width, min_obs=1, out="m")
        return out._jdf.queryExecution().executedPlan().toString()

    at, past = plan(NATIVE_MAX_WIDTH), plan(NATIVE_MAX_WIDTH + 1)
    assert "Window [" in at and "MapInArrow" not in at
    assert "MapInArrow" in past and "Window [" not in past


@pytest.mark.parametrize("op,agg", [(roll_mean, "avg"), (roll_sum, "sum")])
def test_wide_sum_mean_keep_exact_types_native(spark, op, agg):
    """Past NATIVE_MAX_WIDTH only float/double columns take the Arrow
    kernel: a bigint or decimal column stays on the Window node with
    Spark's own result type, and a bigint sum stays exact above 2**53."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from roll_spark.operators.window_ops import NATIVE_MAX_WIDTH

    width = NATIVE_MAX_WIDTH + 1
    vals = [2**53 + 1 if i % 3 else i for i in range(400)]
    df = spark.createDataFrame(
        [(0, i, v, Decimal(v) / 1000) for i, v in enumerate(vals)],
        "g long, i long, v bigint, d decimal(20,3)")
    for col in ("v", "d"):
        res = op(df, col, "g", "i", width, min_obs=1, out="m")
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "Window [" in plan and "MapInArrow" not in plan, col
        want_type = df.select(getattr(F, agg)(col)).schema[0].dataType
        assert res.schema["m"].dataType == want_type, col
    if op is roll_sum:
        got = [r["m"] for r in roll_sum(df, "v", "g", "i", width, min_obs=1, out="m")
               .orderBy("i").collect()]
        assert got == [sum(vals[max(0, i - width + 1): i + 1]) for i in range(400)]


@pytest.mark.parametrize("op,agg", [(roll_mean, "avg"), (roll_sum, "sum")])
def test_expanding_equals_running_frame(spark, op, agg):
    """An expanding sum/mean on the Arrow path equals Spark's own
    running-frame aggregate, NULLs included, within 1e-12."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    lens = [1, 7, 300, 1200]
    x = rng.normal(50.0, 10.0, sum(lens))
    x[rng.random(len(x)) < 0.05] = np.nan
    pdf = pd.DataFrame({"g": np.repeat(np.arange(len(lens)), lens),
                        "i": np.concatenate([np.arange(n) for n in lens]),
                        "x": x})
    df = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None),
                               "g long, i long, x double")
    run = Window.partitionBy("g").orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    got = (op(df, "x", "g", "i", 10**4, min_obs=1, out="m")
           .withColumn("ref", getattr(F, agg)("x").over(run))
           .select("m", "ref").toPandas().astype(float))
    assert np.array_equal(np.isnan(got["m"]), np.isnan(got["ref"]))
    np.testing.assert_allclose(got["m"], got["ref"], rtol=1e-12, atol=1e-12)


def test_quantile_native_equals_arrow_at_boundary_p(grid_df):
    """Native WindowExec selection must match the Arrow kernels at the
    boundary (p, n) combos where ceil-of-product and the reference's
    division predicate disagree (p=0.41, 0.18, 0.999 across partial
    window sizes 1..15)."""
    from roll_spark.operators import arrow_ops
    from tests.conftest import collect_all

    for p in (0.41, 0.18, 0.408, 0.999, 0.82):
        native = roll_quantile(grid_df, "x", "series_id", "i", 7, p,
                               min_obs=1, out="q")
        spec = RollSpec(width=7, min_obs=1, p=p)
        arrow = arrow_ops.roll_quantile(grid_df, "x", "series_id", "i",
                                        spec, out="q")
        got_n = collect_all(native, "q")
        got_a = collect_all(arrow, "q")
        for name in got_n:
            a, b = got_n[name], got_a[name]
            same = (a == b) | (np.isnan(a) & np.isnan(b))
            assert same.all(), (p, name, np.where(~same)[0][:3])
