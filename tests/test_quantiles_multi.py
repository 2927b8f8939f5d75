"""roll_quantiles (fused multi-p) ≡ per-p roll_quantile + plan shape."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from roll_spark import roll_quantile, roll_quantiles

SEED = 9113
PS = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]


def _fixture(n=400, n_keys=5):
    rng = np.random.default_rng(SEED)
    pdf = pd.DataFrame({
        "k": rng.integers(0, n_keys, n),
        "o": np.arange(n),
        "v": rng.normal(size=n).round(3),
    })
    pdf.loc[rng.random(n) < 0.15, "v"] = np.nan
    return pdf


@pytest.mark.parametrize("width,min_obs", [(5, 1), (10, 4), (1, 1)])
def test_fused_equals_per_p(spark, width, min_obs):
    pdf = _fixture()
    sdf = spark.createDataFrame(pdf)
    outs = [f"q{i}" for i in range(len(PS))]
    fused = (
        roll_quantiles(sdf, "v", "k", "o", width, PS, min_obs=min_obs, outs=outs)
        .toPandas().sort_values(["k", "o"]).reset_index(drop=True)
    )
    for p, o in zip(PS, outs):
        single = (
            roll_quantile(sdf, "v", "k", "o", width, p, min_obs=min_obs, out="s")
            .toPandas().sort_values(["k", "o"]).reset_index(drop=True)
        )
        np.testing.assert_array_equal(
            fused[o].to_numpy(), single["s"].to_numpy(), err_msg=f"p={p}"
        )


def test_fused_weighted_fallback_equals_per_p(spark):
    pdf = _fixture(200)
    sdf = spark.createDataFrame(pdf)
    w = [0.5, 1.0, 1.5, 2.0, 2.5]
    fused = (
        roll_quantiles(sdf, "v", "k", "o", 5, [0.25, 0.5], weights=w,
                       outs=["a", "b"])
        .toPandas().sort_values(["k", "o"]).reset_index(drop=True)
    )
    for p, o in zip([0.25, 0.5], ["a", "b"]):
        single = (
            roll_quantile(sdf, "v", "k", "o", 5, p, weights=w, out="s")
            .toPandas().sort_values(["k", "o"]).reset_index(drop=True)
        )
        np.testing.assert_array_equal(fused[o].to_numpy(), single["s"].to_numpy())


def test_fused_single_window_exec(spark):
    """Five quantiles, ONE WindowExec / ONE collect_list."""
    sdf = spark.createDataFrame(_fixture(100))
    plan = (
        roll_quantiles(sdf, "v", "k", "o", 10, [0.1, 0.25, 0.5, 0.75, 0.9])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window") == 1
    assert plan.count("collect_list") == 1
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"\bSort \[", plan)) == 1


def test_outs_length_mismatch(spark):
    sdf = spark.createDataFrame(_fixture(10))
    with pytest.raises(ValueError, match="outs must match"):
        roll_quantiles(sdf, "v", "k", "o", 5, [0.5], outs=["a", "b"])


def test_fused_arrow_large_width_equals_per_p(spark):
    """width > NATIVE_MAX_WIDTH routes the fused op to the
    Arrow conv_quantiles kernel — parity with per-p roll_quantile."""
    pdf = _fixture(600, n_keys=2)
    sdf = spark.createDataFrame(pdf)
    ps, outs = [0.25, 0.5, 0.9], ["a", "b", "c"]
    fused = (
        roll_quantiles(sdf, "v", "k", "o", 300, ps, min_obs=1, outs=outs)
        .toPandas().sort_values(["k", "o"]).reset_index(drop=True)
    )
    for p, o in zip(ps, outs):
        single = (
            roll_quantile(sdf, "v", "k", "o", 300, p, min_obs=1, out="s")
            .toPandas().sort_values(["k", "o"]).reset_index(drop=True)
        )
        np.testing.assert_array_equal(fused[o].to_numpy(), single["s"].to_numpy(),
                                      err_msg=f"p={p}")


def test_fused_weighted_endpoints_and_plan(spark):
    """Weighted fused path: endpoints go through roll_min/roll_max, the
    interior ps share ONE mapInArrow pass (exactly one MapInArrow
    for 3 interior ps), and every column matches its per-p twin."""
    pdf = _fixture(200)
    sdf = spark.createDataFrame(pdf)
    w = [0.5, 1.0, 1.5, 2.0, 2.5]
    ps = [0.0, 0.25, 0.5, 0.75, 1.0]
    outs = ["lo", "a", "b", "c", "hi"]
    res = roll_quantiles(sdf, "v", "k", "o", 5, ps, weights=w, outs=outs)
    assert res.columns[-5:] == outs
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    got = res.toPandas().sort_values(["k", "o"]).reset_index(drop=True)
    for p, o in zip(ps, outs):
        single = (
            roll_quantile(sdf, "v", "k", "o", 5, p, weights=w, out="s")
            .toPandas().sort_values(["k", "o"]).reset_index(drop=True)
        )
        np.testing.assert_array_equal(got[o].to_numpy(), single["s"].to_numpy(),
                                      err_msg=f"p={p}")
