"""Higher-moment ops (skew/kurt/MAD/nunique), time-decay EWMA, OHLC
bars and connected components vs brute-force oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from roll_spark.operators.arrow_ops import roll_mad
from roll_spark.operators.kernels import conv_ewma_time, conv_mad
from roll_spark.operators.moments import (
    roll_kurt,
    roll_nunique,
    roll_skew,
    roll_skew_kurt,
)
from roll_spark.operators.time_windows import ewma_time

SEED = 8172


def _fixture(n=400, n_keys=5):
    rng = np.random.default_rng(SEED)
    k = rng.integers(0, n_keys, n)
    offs = np.cumsum(rng.exponential(600, n))
    ts = (pd.Timestamp("2024-05-01") + pd.to_timedelta(offs, unit="s")).floor("us")
    v = rng.uniform(0.0, 100.0, n).round(2)
    v[rng.random(n) < 0.12] = np.nan
    pdf = pd.DataFrame({"k": k, "ts": ts, "v": v})
    return pdf.sort_values(["k", "ts"]).reset_index(drop=True)


def _windows(g, width):
    vals = g["v"].to_numpy()
    for i in range(len(vals)):
        yield i, vals[max(0, i - width + 1) : i + 1]


def _brute_moment(pdf, width, min_obs, stat):
    out = {}
    for key, g in pdf.groupby("k"):
        idx = g.index.to_numpy()
        for i, win in _windows(g, width):
            obs = win[~np.isnan(win)]
            n = len(obs)
            res = np.nan
            if n >= min_obs:
                m = obs.mean() if n else np.nan
                M2 = ((obs - m) ** 2).sum()
                if stat == "skew" and n >= 3 and M2 > 1e-12:
                    g1 = ((obs - m) ** 3).sum() * np.sqrt(n) / M2**1.5
                    res = g1 * np.sqrt(n * (n - 1)) / (n - 2)
                elif stat == "kurt" and n >= 4 and M2 > 1e-12:
                    g2 = n * ((obs - m) ** 4).sum() / M2**2 - 3
                    res = ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
                elif stat == "mad":
                    res = np.median(np.abs(obs - np.median(obs)))
                elif stat == "nunique":
                    res = float(len(np.unique(obs)))
            out[idx[i]] = res
    return np.array([out[i] for i in range(len(pdf))])


def _collect(df, col):
    pdf = df.select("k", "ts", col).toPandas().sort_values(["k", "ts"])
    base = _fixture().sort_values(["k", "ts"])
    assert len(pdf) == len(base)
    return pdf[col].to_numpy(dtype=np.float64)


@pytest.mark.parametrize("stat,fn,min_obs", [
    ("skew", roll_skew, 3),
    ("kurt", roll_kurt, 4),
])
def test_skew_kurt_native(spark, stat, fn, min_obs):
    pdf = _fixture()
    sdf = spark.createDataFrame(pdf)
    res = fn(sdf, "v", "k", "ts", 12, min_obs=min_obs, out="s")
    got = res.select("k", "ts", "s").toPandas().sort_values(["k", "ts"])["s"].to_numpy(dtype=np.float64)
    want = _brute_moment(pdf.sort_values(["k", "ts"]), 12, min_obs, stat)
    assert np.allclose(got, want, equal_nan=True, atol=1e-8)


def test_skew_kurt_fused_matches_split(spark):
    pdf = _fixture()
    sdf = spark.createDataFrame(pdf)
    fused = roll_skew_kurt(sdf, "v", "k", "ts", 12, min_obs=4,
                           out_skew="sk", out_kurt="ku")
    f = fused.select("k", "ts", "sk", "ku").toPandas().sort_values(["k", "ts"])
    s = roll_skew(sdf, "v", "k", "ts", 12, min_obs=4, out="sk") \
        .select("k", "ts", "sk").toPandas().sort_values(["k", "ts"])
    k = roll_kurt(sdf, "v", "k", "ts", 12, min_obs=4, out="ku") \
        .select("k", "ts", "ku").toPandas().sort_values(["k", "ts"])
    assert np.allclose(f["sk"].to_numpy(dtype=float), s["sk"].to_numpy(dtype=float), equal_nan=True)
    assert np.allclose(f["ku"].to_numpy(dtype=float), k["ku"].to_numpy(dtype=float), equal_nan=True)


def test_skew_plan_one_exchange(spark):
    pdf = _fixture()
    sdf = spark.createDataFrame(pdf)
    plan = roll_skew_kurt(sdf, "v", "k", "ts", 12, min_obs=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1
    assert plan.count("Sort") <= 1
    assert "MapInArrow" in plan


def test_mad_arrow(spark):
    pdf = _fixture()
    sdf = spark.createDataFrame(pdf)
    res = roll_mad(sdf, "v", "k", "ts", 9, min_obs=3, out="s")
    got = res.select("k", "ts", "s").toPandas().sort_values(["k", "ts"])["s"].to_numpy(dtype=np.float64)
    want = _brute_moment(pdf.sort_values(["k", "ts"]), 9, 3, "mad")
    assert np.allclose(got, want, equal_nan=True, atol=1e-10)


def test_mad_rejects_weights():
    with pytest.raises(ValueError, match="weights"):
        conv_mad(np.arange(5.0), 3, weights=[1, 2, 3])


def test_nunique(spark):
    pdf = _fixture()
    pdf["v"] = np.floor(pdf["v"] / 10)  # force duplicates in windows
    sdf = spark.createDataFrame(pdf)
    res = roll_nunique(sdf, "v", "k", "ts", 10, min_obs=1, out="s")
    got = res.select("k", "ts", "s").toPandas().sort_values(["k", "ts"])["s"].to_numpy(dtype=np.float64)
    want = _brute_moment(pdf.sort_values(["k", "ts"]), 10, 1, "nunique")
    assert np.allclose(got, want, equal_nan=True)


def test_ewma_kernel_matches_naive_and_blocking_invariant():
    rng = np.random.default_rng(SEED + 1)
    n = 300
    x = rng.uniform(0, 100, n)
    x[rng.random(n) < 0.15] = np.nan
    t = np.cumsum(rng.exponential(7200.0, n))
    t_us = (t * 1e6).astype(np.int64)
    for hl in (900.0, 86400.0):  # small hl forces many block splits
        lam = np.log(2) / hl
        want = np.full(n, np.nan)
        for i in range(n):
            w = np.exp(-lam * (t[i] - t[: i + 1]))
            m = ~np.isnan(x[: i + 1])
            if m.sum() >= 2:
                want[i] = np.sum(np.where(m, x[: i + 1], 0) * w) / np.sum(w[m])
        got = conv_ewma_time(x, t_us, hl, min_obs=2)
        ok = ~np.isnan(want)
        assert np.array_equal(np.isnan(got), ~ok)
        assert np.allclose(got[ok], want[ok], rtol=1e-7)


def test_ewma_time_spark(spark):
    pdf = _fixture()
    sdf = spark.createDataFrame(pdf)
    res = ewma_time(sdf, "v", "k", "ts", 6 * 3600.0, min_obs=1, out="e")
    got = res.select("k", "ts", "e").toPandas().sort_values(["k", "ts"])
    base = pdf.sort_values(["k", "ts"])
    for key, g in base.groupby("k"):
        x = g["v"].to_numpy()
        t_us = g["ts"].astype("int64").to_numpy() // 1000
        want = conv_ewma_time(x, t_us, 6 * 3600.0, min_obs=1)
        sub = got[got["k"] == key]["e"].to_numpy(dtype=np.float64)
        assert np.allclose(sub, want, equal_nan=True, rtol=1e-12)


def test_ohlc_bars(spark):
    from roll_spark.plans.tiers import ohlc_bars

    pdf = _fixture()
    sdf = spark.createDataFrame(pdf)
    got = ohlc_bars(sdf, "v", "ts", "k", "1h").toPandas() \
        .sort_values(["k", "bucket_ts"]).reset_index(drop=True)
    base = pdf.dropna(subset=["v"]).copy()
    base["bucket_ts"] = base["ts"].dt.floor("h")
    rows = []
    for (k, b), g in base.sort_values("ts").groupby(["k", "bucket_ts"]):
        rows.append((k, b, g["v"].iloc[0], g["v"].max(), g["v"].min(),
                     g["v"].iloc[-1]))
    want = pd.DataFrame(rows, columns=["k", "bucket_ts", "open", "high", "low", "close"]) \
        .sort_values(["k", "bucket_ts"]).reset_index(drop=True)
    # buckets with ONLY NaN raw rows still appear (n counts non-null=0);
    # compare on the non-empty ones
    got_ne = got[got["n_obs"] > 0].reset_index(drop=True)
    assert len(got_ne) == len(want)
    for c in ["open", "high", "low", "close"]:
        assert np.allclose(got_ne[c].to_numpy(dtype=float), want[c].to_numpy(dtype=float))


def _uf_components(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("shape", ["random", "chain", "stars"])
def test_connected_components(spark, shape):
    from roll_spark.datapipe.dedup import connected_components

    rng = np.random.default_rng(SEED + 2)
    if shape == "random":
        edges = [(int(a), int(b)) for a, b in rng.integers(0, 60, (80, 2)) if a != b]
    elif shape == "chain":
        # worst case for naive min-label propagation: one long path,
        # descending ids so the min label must travel the full length
        edges = [(i + 1, i) for i in range(100, 0, -1)]
    else:
        edges = [(h, h * 100 + i) for h in (1, 2, 3) for i in range(1, 20)]
    want = _uf_components(edges)
    sdf = spark.createDataFrame(pd.DataFrame(edges, columns=["da", "db"]))
    got = connected_components(sdf, "da", "db").toPandas()
    gmap = dict(zip(got["doc_id"], got["cluster_id"]))
    assert gmap == want
    sizes = {}
    for n, c in want.items():
        sizes[c] = sizes.get(c, 0) + 1
    for _, r in got.iterrows():
        assert r["cluster_size"] == sizes[r["cluster_id"]]


def test_acf_matches_sequential_roll_cor(spark):
    from roll_spark.operators.moments import roll_acf
    from roll_spark.operators.window_ops import roll_cor

    pdf = _fixture()
    sdf = spark.createDataFrame(pdf)
    fused = roll_acf(sdf, "v", "k", "ts", 15, lags=(1, 3, 5), min_obs=6)
    f = fused.select("k", "ts", "acf_1", "acf_3", "acf_5") \
        .toPandas().sort_values(["k", "ts"]).reset_index(drop=True)
    for j in (1, 3, 5):
        lagged = sdf.withColumn("vlag", __import__("pyspark.sql.functions", fromlist=["F"]).lag("v", j).over(
            __import__("pyspark.sql.window", fromlist=["W"]).Window.partitionBy("k").orderBy("ts")))
        seq = roll_cor(lagged, "v", "vlag", "k", "ts", 15, min_obs=6, out="c") \
            .select("k", "ts", "c").toPandas().sort_values(["k", "ts"]).reset_index(drop=True)
        a = f[f"acf_{j}"].to_numpy(dtype=float)
        b = seq["c"].to_numpy(dtype=float)
        assert np.array_equal(np.isnan(a), np.isnan(b)), f"lag {j} NULL mismatch"
        assert np.allclose(a, b, equal_nan=True), f"lag {j} value mismatch"


def test_acf_plan_two_windows(spark):
    from roll_spark.operators.moments import roll_acf

    pdf = _fixture()
    sdf = spark.createDataFrame(pdf)
    plan = roll_acf(sdf, "v", "k", "ts", 15, lags=(1, 2, 3, 4)) \
        ._jdf.queryExecution().executedPlan().toString()
    import re
    assert len(re.findall(r"Exchange (?:hash|range|SinglePartition)", plan)) <= 1
    assert len(re.findall(r"\bSort \[", plan)) <= 1
    assert len(re.findall(r"\bWindow ", plan)) <= 2


def test_percentrank(spark):
    from roll_spark.operators.moments import roll_percentrank

    pdf = _fixture()
    sdf = spark.createDataFrame(pdf)
    res = roll_percentrank(sdf, "v", "k", "ts", 10, min_obs=2, out="pr")
    got = res.select("k", "ts", "pr").toPandas().sort_values(["k", "ts"])["pr"].to_numpy(dtype=float)
    base = pdf.sort_values(["k", "ts"])
    want = np.full(len(base), np.nan)
    pos = 0
    for key, g in base.groupby("k"):
        vals = g["v"].to_numpy()
        for i in range(len(vals)):
            win = vals[max(0, i - 9): i + 1]
            obs = win[~np.isnan(win)]
            x = vals[i]
            if not np.isnan(x) and len(obs) >= 2:
                want[pos + i] = ((obs <= x).sum() - 1) / (len(obs) - 1)
        pos += len(vals)
    # base.groupby order == sorted order of k, and want is positioned by
    # the sorted frame, matching `got`
    assert np.allclose(got, want, equal_nan=True)


def test_tier_top_values(spark):
    from roll_spark.plans.tiers import tier_top_values

    rng = np.random.default_rng(SEED + 5)
    n = 500
    pdf = pd.DataFrame({
        "k": rng.integers(0, 4, n),
        "ts": pd.Timestamp("2024-05-01")
              + pd.to_timedelta(np.cumsum(rng.exponential(400, n)), unit="s"),
        "cat": rng.choice(list("abcd"), n),
    })
    sdf = spark.createDataFrame(pdf)
    got = tier_top_values(sdf, "cat", "ts", "k", "1h", k=2).toPandas()
    base = pdf.copy()
    base["b"] = base["ts"].dt.floor("h")
    for (k, b), g in base.groupby(["k", "b"]):
        cnt = g["cat"].value_counts()
        # pandas value_counts ties are insertion-ordered; re-rank with
        # the operator's deterministic (count desc, value asc) order
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        sub = got[(got["k"] == k) & (got["bucket_ts"] == b)].sort_values("rank")
        assert [(r["cat"], r["n_events"]) for _, r in sub.iterrows()] == ranked


def test_acf_ljung_box_composition(spark):
    from roll_spark.operators.moments import roll_acf

    pdf = _fixture()
    sdf = spark.createDataFrame(pdf)
    got = roll_acf(sdf, "v", "k", "ts", 15, lags=(1, 2, 3), min_obs=6, out_q="q") \
        .select("k", "ts", "acf_1", "acf_2", "acf_3", "q") \
        .toPandas().sort_values(["k", "ts"]).reset_index(drop=True)
    base = pdf.sort_values(["k", "ts"]).reset_index(drop=True)
    # recompute n per row (window observed count) and the LB formula
    n0 = np.zeros(len(base))
    pos = 0
    for key, g in base.groupby("k"):
        vals = g["v"].to_numpy()
        for i in range(len(vals)):
            win = vals[max(0, i - 14): i + 1]
            n0[pos + i] = (~np.isnan(win)).sum()
        pos += len(vals)
    a1 = got["acf_1"].to_numpy(dtype=float)
    a2 = got["acf_2"].to_numpy(dtype=float)
    a3 = got["acf_3"].to_numpy(dtype=float)
    with np.errstate(invalid="ignore", divide="ignore"):
        want = np.where(
            n0 > 3,
            n0 * (n0 + 2) * (a1**2 / (n0 - 1) + a2**2 / (n0 - 2) + a3**2 / (n0 - 3)),
            np.nan,
        )
    q = got["q"].to_numpy(dtype=float)
    assert np.allclose(q, want, equal_nan=True, rtol=1e-12)


def test_cc_raises_on_max_iter_exhaustion(spark):
    from roll_spark.datapipe.dedup import connected_components

    # a descending 40-chain needs several star rounds; max_iter=1 must
    # refuse rather than emit partially-merged clusters
    edges = pd.DataFrame([(i + 1, i) for i in range(40, 0, -1)], columns=["da", "db"])
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(spark.createDataFrame(edges), "da", "db", max_iter=1)


@pytest.mark.parametrize("op", ["nunique", "percentrank"])
def test_nunique_percentrank_width_dispatch(spark, op):
    """width > 256 must route to the Arrow kernel and agree with the
    native collect_list form evaluated at the same width via a manual
    spec (the contract roll_quantile already has)."""
    from roll_spark.operators.moments import roll_nunique, roll_percentrank

    pdf = _fixture(n=900, n_keys=2)
    pdf["v"] = np.floor(pdf["v"])  # duplicates for nunique
    sdf = spark.createDataFrame(pdf)
    fn = roll_nunique if op == "nunique" else roll_percentrank
    wide = fn(sdf, "v", "k", "ts", 300, min_obs=2, out="s") \
        .select("k", "ts", "s").toPandas().sort_values(["k", "ts"])
    base = pdf.sort_values(["k", "ts"])
    want = np.full(len(base), np.nan)
    pos = 0
    for key, g in base.groupby("k"):
        vals = g["v"].to_numpy()
        for i in range(len(vals)):
            win = vals[max(0, i - 299): i + 1]
            obs = win[~np.isnan(win)]
            if op == "nunique":
                if len(obs) >= 2:
                    want[pos + i] = len(np.unique(obs))
            else:
                cur = vals[i]
                if not np.isnan(cur) and len(obs) >= 2:
                    want[pos + i] = ((obs <= cur).sum() - 1) / (len(obs) - 1)
        pos += len(vals)
    got = wide["s"].to_numpy(dtype=np.float64)
    assert np.allclose(got, want, equal_nan=True, atol=1e-12)


@pytest.mark.parametrize("width", [8, 300])  # native path and Arrow dispatch
def test_trimmed_mean(spark, width):
    from roll_spark.operators.moments import roll_trimmed_mean

    pdf = _fixture(n=700, n_keys=3)
    sdf = spark.createDataFrame(pdf)
    got = roll_trimmed_mean(sdf, "v", "k", "ts", width, 0.2, min_obs=2, out="s") \
        .select("k", "ts", "s").toPandas().sort_values(["k", "ts"])["s"] \
        .to_numpy(dtype=np.float64)
    base = pdf.sort_values(["k", "ts"])
    want = np.full(len(base), np.nan)
    pos = 0
    for key, g in base.groupby("k"):
        vals = g["v"].to_numpy()
        for i in range(len(vals)):
            win = vals[max(0, i - width + 1): i + 1]
            obs = np.sort(win[~np.isnan(win)])
            n = len(obs)
            if n >= 2:
                kk = int(np.floor(0.2 * n))
                want[pos + i] = obs[kk: n - kk].mean()
        pos += len(vals)
    assert np.allclose(got, want, equal_nan=True, rtol=1e-12)


def test_trimmed_mean_rejects_bad_alpha(spark):
    from roll_spark.operators.moments import roll_trimmed_mean
    from roll_spark.operators.kernels import conv_trimmed_mean

    pdf = _fixture(n=20)
    with pytest.raises(ValueError, match="alpha"):
        roll_trimmed_mean(spark.createDataFrame(pdf), "v", "k", "ts", 5, 0.5)
    with pytest.raises(ValueError, match="alpha"):
        conv_trimmed_mean(np.arange(5.0), 3, alpha=-0.1)


@pytest.mark.parametrize("width", [9, 120])  # narrow and wide windows
def test_spearman_both_paths(spark, width):
    """NULL and NaN inputs (in either series) both drop the pair."""
    from pyspark.sql import functions as SF

    from roll_spark.operators.kernels import conv_spearman
    from roll_spark.operators.moments import roll_spearman

    pdf = _fixture(n=500, n_keys=3)
    pdf["v"] = np.floor(pdf["v"] / 5)  # heavy ties
    rng = np.random.default_rng(SEED + 9)
    pdf["u"] = np.floor(rng.uniform(0, 20, len(pdf)))
    pdf.loc[rng.random(len(pdf)) < 0.1, "u"] = np.nan
    # NaN, not NULL: set Spark-side (pandas NaN arrives as NULL)
    nan_v = rng.random(len(pdf)) < 0.05
    nan_u = rng.random(len(pdf)) < 0.05
    pdf["nan_v"], pdf["nan_u"] = nan_v, nan_u
    sdf = spark.createDataFrame(pdf)
    sdf = sdf.withColumns({
        c: SF.when(SF.col(f"nan_{c}"), SF.lit(float("nan"))).otherwise(SF.col(c))
        for c in ("v", "u")
    })
    pdf.loc[nan_v, "v"] = np.nan
    pdf.loc[nan_u, "u"] = np.nan
    got = roll_spearman(sdf, "v", "u", "k", "ts", width, min_obs=3, out="s") \
        .select("k", "ts", "s").toPandas().sort_values(["k", "ts"])
    base = pdf.sort_values(["k", "ts"])
    for key, g in base.groupby("k"):
        want = conv_spearman(g["v"].to_numpy(dtype=float),
                             g["u"].to_numpy(dtype=float), width, min_obs=3)
        sub = got[got["k"] == key]["s"].to_numpy(dtype=np.float64)
        assert np.array_equal(np.isnan(sub), np.isnan(want)), (width, key)
        assert np.allclose(sub, want, equal_nan=True, rtol=1e-12), (width, key)


def test_spearman_monotone_invariance(spark):
    """Spearman must be invariant to monotone transforms (the point of
    ranks): cor(x, y) == cor(exp(x), y^3-ish monotone map)."""
    from roll_spark.operators.moments import roll_spearman

    pdf = _fixture(n=300, n_keys=2).dropna(subset=["v"]).reset_index(drop=True)
    pdf["u"] = pdf["v"].to_numpy()[::-1].copy()
    sdf = spark.createDataFrame(pdf)
    a = roll_spearman(sdf, "v", "u", "k", "ts", 12, min_obs=4, out="s") \
        .select("k", "ts", "s").toPandas().sort_values(["k", "ts"])["s"].to_numpy(dtype=float)
    from pyspark.sql import functions as SF
    sdf2 = sdf.withColumn("v", SF.exp(SF.col("v") / 20)) \
              .withColumn("u", SF.col("u") * SF.col("u") * SF.col("u"))
    b = roll_spearman(sdf2, "v", "u", "k", "ts", 12, min_obs=4, out="s") \
        .select("k", "ts", "s").toPandas().sort_values(["k", "ts"])["s"].to_numpy(dtype=float)
    assert np.allclose(a, b, equal_nan=True, atol=1e-9)


def test_skew_kurt_match_pandas(spark):
    """Independent cross-oracle: pandas .rolling().skew()/.kurt() use
    the same bias-corrected G1/G2 forms."""
    pdf = _fixture(n=300, n_keys=2)
    sdf = spark.createDataFrame(pdf)
    got = roll_skew_kurt(sdf, "v", "k", "ts", 12, min_obs=4,
                         out_skew="sk", out_kurt="ku") \
        .select("k", "ts", "sk", "ku").toPandas().sort_values(["k", "ts"])
    base = pdf.sort_values(["k", "ts"])
    want_sk = base.groupby("k")["v"].apply(
        lambda s: s.rolling(12, min_periods=4).skew()).to_numpy()
    want_ku = base.groupby("k")["v"].apply(
        lambda s: s.rolling(12, min_periods=4).kurt()).to_numpy()
    assert np.allclose(got["sk"].to_numpy(dtype=float), want_sk,
                       equal_nan=True, atol=1e-8)
    assert np.allclose(got["ku"].to_numpy(dtype=float), want_ku,
                       equal_nan=True, atol=1e-8)


def _longdouble_skew_kurt(vals, width, min_obs):
    """Two-pass G1/G2 per trailing window in extended precision."""
    sk = np.full(len(vals), np.nan)
    ku = np.full(len(vals), np.nan)
    for i in range(len(vals)):
        win = vals[max(0, i - width + 1): i + 1]
        obs = win[~np.isnan(win)].astype(np.longdouble)
        n = len(obs)
        if n < max(min_obs, 3):
            continue
        d = obs - obs.sum() / n
        M2, M3, M4 = (d ** 2).sum(), (d ** 3).sum(), (d ** 4).sum()
        g1 = M3 * np.sqrt(np.longdouble(n)) / M2 ** np.longdouble(1.5)
        sk[i] = g1 * np.sqrt(np.longdouble(n * (n - 1))) / (n - 2)
        if n >= 4:
            g2 = n * M4 / (M2 * M2) - 3
            ku[i] = ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
    return sk, ku


def test_skew_kurt_drifting_series(spark):
    """A series whose level drifts far from its own mean while each
    window stays narrow: raw power sums about any fixed centre cancel
    catastrophically there (~(offset/sd)^4 * eps relative error), the
    per-window central moments do not."""
    rng = np.random.default_rng(23)
    n = 240
    level = np.repeat([0.0, -400.0, -1100.0, -2000.0], n // 4)
    v = level + rng.normal(0.0, 0.7, n)
    v[rng.random(n) < 0.05] = np.nan
    ts = pd.Timestamp("2024-05-01") + pd.to_timedelta(np.arange(n), unit="s")
    pdf = pd.DataFrame({"k": 0, "ts": ts, "v": v})
    got = roll_skew_kurt(spark.createDataFrame(pdf), "v", "k", "ts", 20,
                         min_obs=4, out_skew="sk", out_kurt="ku") \
        .select("ts", "sk", "ku").toPandas().sort_values("ts")
    want_sk, want_ku = _longdouble_skew_kurt(v, 20, 4)
    np.testing.assert_allclose(got["sk"].to_numpy(dtype=float), want_sk,
                               rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(got["ku"].to_numpy(dtype=float), want_ku,
                               rtol=1e-9, atol=1e-12)


def test_jarque_bera_composition(spark):
    """JB = n/6 (g1^2 + g2^2/4) from the UNcorrected moments — verify
    against a brute per-window recomputation."""
    pdf = _fixture()
    sdf = spark.createDataFrame(pdf)
    got = roll_skew_kurt(sdf, "v", "k", "ts", 12, min_obs=4, out_jb="jb") \
        .select("k", "ts", "jb").toPandas().sort_values(["k", "ts"])["jb"] \
        .to_numpy(dtype=np.float64)
    base = pdf.sort_values(["k", "ts"])
    want = np.full(len(base), np.nan)
    pos = 0
    for key, g in base.groupby("k"):
        vals = g["v"].to_numpy()
        for i in range(len(vals)):
            win = vals[max(0, i - 11): i + 1]
            obs = win[~np.isnan(win)]
            n = len(obs)
            if n >= 4:
                m = obs.mean()
                M2 = ((obs - m) ** 2).sum()
                if M2 > 1e-12:
                    g1 = ((obs - m) ** 3).sum() * np.sqrt(n) / M2 ** 1.5
                    g2 = n * ((obs - m) ** 4).sum() / M2 ** 2 - 3
                    want[pos + i] = n / 6 * (g1 ** 2 + g2 ** 2 / 4)
        pos += len(vals)
    assert np.allclose(got, want, equal_nan=True, atol=1e-7)


@pytest.mark.parametrize("width", [12, 120])  # narrow and wide windows
def test_entropy_both_paths(spark, width):
    from roll_spark.operators.kernels import conv_entropy
    from roll_spark.operators.moments import roll_entropy

    rng = np.random.default_rng(SEED + 11)
    n = 500
    pdf = pd.DataFrame({
        "k": rng.integers(0, 3, n),
        "ts": pd.Timestamp("2024-06-01")
              + pd.to_timedelta(np.cumsum(rng.exponential(60, n)), unit="s"),
        "cat": rng.choice(["click", "view", "buy", "scroll"], n,
                          p=[0.5, 0.3, 0.1, 0.1]),
    })
    sdf = spark.createDataFrame(pdf)
    got = roll_entropy(sdf, "cat", "k", "ts", width, min_obs=2, out="h") \
        .select("k", "ts", "h").toPandas().sort_values(["k", "ts"])["h"] \
        .to_numpy(dtype=np.float64)
    base = pdf.sort_values(["k", "ts"])
    want = np.full(len(base), np.nan)
    pos = 0
    for key, g in base.groupby("k"):
        vals = g["cat"].to_numpy()
        for i in range(len(vals)):
            win = vals[max(0, i - width + 1): i + 1]
            if len(win) >= 2:
                _, c = np.unique(win, return_counts=True)
                p = c / len(win)
                want[pos + i] = -(p * np.log(p)).sum()
        pos += len(vals)
    assert np.allclose(got, want, equal_nan=True, rtol=1e-10)


def test_entropy_loop_detection(spark):
    """The motivating semantic: a stuck-loop suffix (same value repeated)
    must drive windowed entropy to exactly +0.0 (never -0.0)."""
    from roll_spark.operators.moments import roll_entropy

    rows = [("c", i, ["a", "b", "c", "d"][i % 4]) for i in range(100)]
    rows += [("c", 100 + i, "retry") for i in range(100)]
    pdf = pd.DataFrame(rows, columns=["k", "t", "cat"])
    sdf = spark.createDataFrame(pdf)
    for width in (8, 80):
        got = roll_entropy(sdf, "cat", "k", "t", width, min_obs=width,
                           out="h") \
            .toPandas().sort_values("t")["h"].to_numpy(dtype=np.float64)
        assert got[99] > 1.3, width  # varied phase: near ln(4)
        loop = got[100 + width - 1:]  # windows holding only "retry"
        assert (loop == 0.0).all(), width
        assert not np.signbit(loop).any(), width


def _entropy_ref(vals, width, min_obs, na_restore):
    """Brute windowed Shannon entropy; None and float NaN are missing."""
    miss = np.array([v is None or (isinstance(v, float) and np.isnan(v))
                     for v in vals])
    out = np.full(len(vals), np.nan)
    for i in range(len(vals)):
        lo = max(0, i - width + 1)
        obs = [v for v, m in zip(vals[lo:i + 1], miss[lo:i + 1]) if not m]
        if len(obs) >= max(min_obs, 1):
            _, c = np.unique(np.array(obs, dtype=object), return_counts=True)
            p = c / len(obs)
            out[i] = -(p * np.log(p)).sum()
    if na_restore:
        out[miss] = np.nan
    return out


@pytest.mark.parametrize("width,na_restore", [(12, True), (80, False)])
def test_entropy_column_types(spark, width, na_restore):
    """roll_entropy over every column type it takes, with NULLs: counts
    exact values (bigints past 2**53 and 18-digit decimals that one
    float64 cannot tell apart stay distinct); in a double column NaN and
    NULL are both missing."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import functions as SF

    from roll_spark.operators.moments import roll_entropy

    rng = np.random.default_rng(SEED + 12)
    n, cats = 300, 4
    pick = rng.integers(0, cats, (n, 8))
    null = rng.random((n, 8)) < 0.1

    def col(j, make):
        return [None if null[i, j] else make(int(pick[i, j])) for i in range(n)]

    data = {
        "s": col(0, lambda c: "abcd"[c]),
        "i32": col(1, lambda c: c - 2),
        "i64": col(2, lambda c: 2**60 + c),
        "b": col(3, lambda c: c % 2 == 0),
        "d": col(4, lambda c: dt.date(2024, 1, 1) + dt.timedelta(days=c)),
        "t": col(5, lambda c: dt.datetime(2024, 1, 1, 12) + dt.timedelta(seconds=c)),
        "dec": col(6, lambda c: Decimal(f"1.00000000000000000{c + 1}")),
        "x": col(7, lambda c: [0.5, 1.5, float("nan"), 2.5][c]),
    }
    keys = rng.integers(0, 3, n)
    rows = [(int(keys[i]), i, *(data[c][i] for c in data)) for i in range(n)]
    schema = ("k int, ts int, s string, i32 int, i64 bigint, b boolean, "
              "d date, t timestamp, dec decimal(38,18), x double")
    sdf = spark.createDataFrame(rows, schema)
    assert sdf.filter(SF.isnan("x")).count() > 0  # real NaNs, not NULLs
    for c in data:
        sdf = roll_entropy(sdf, c, "k", "ts", width, min_obs=2,
                           na_restore=na_restore, out=f"h_{c}")
    got = sdf.toPandas().sort_values(["k", "ts"])
    for c in data:
        h = got[f"h_{c}"].to_numpy(dtype=np.float64)
        want = np.concatenate([
            _entropy_ref([data[c][i] for i in np.flatnonzero(keys == key)],
                         width, 2, na_restore)
            for key in sorted(set(keys))
        ])
        assert np.array_equal(np.isnan(h), np.isnan(want)), c
        assert np.allclose(h, want, equal_nan=True, rtol=1e-12, atol=0), c
        assert not np.signbit(h[~np.isnan(h)]).any(), c


def test_roll_iqr_equals_separate_quantiles(spark):
    """IQR off the fused window == roll_quantile(0.75) - roll_quantile(0.25)
    computed separately, NULL gating identical."""
    import numpy as np
    import pandas as pd

    from roll_spark import roll_iqr, roll_quantile

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "sid": np.repeat(np.arange(6), 200),
        "i": np.tile(np.arange(200), 6),
        "v": np.round(rng.normal(50, 20, 1200), 2),
    })
    pdf.loc[rng.random(1200) < 0.1, "v"] = None
    df = spark.createDataFrame(pdf)
    got = {(r.sid, r.i): r.iqr for r in
           roll_iqr(df, "v", "sid", "i", 10, min_obs=5, out="iqr").collect()}
    lo = {(r.sid, r.i): r.q for r in
          roll_quantile(df, "v", "sid", "i", 10, 0.25, min_obs=5, out="q").collect()}
    hi = {(r.sid, r.i): r.q for r in
          roll_quantile(df, "v", "sid", "i", 10, 0.75, min_obs=5, out="q").collect()}
    for k, g in got.items():
        if lo[k] is None:
            assert g is None, k
        else:
            assert g == pytest.approx(hi[k] - lo[k], rel=0, abs=1e-12), k


def test_decayed_count_matches_naive_and_blocking_invariant():
    """conv_decayed_count vs the O(n²) definition, across timestamp
    spans that force multiple kernel blocks (span-capped exponents)."""
    import numpy as np

    from roll_spark.operators import kernels as K

    rng = np.random.default_rng(5)
    for span_days in (0.5, 40.0, 4000.0):
        n = 300
        t = np.sort(rng.integers(0, int(span_days * 86400e6), n)).astype(np.int64)
        hl = 86400.0
        got = K.conv_decayed_count(t, hl)
        lam = np.log(2.0) / hl
        ts = t / 1e6
        want = np.array([np.exp(-lam * (ts[i] - ts[: i + 1])).sum()
                         for i in range(n)])
        assert np.allclose(got, want, rtol=5e-12, atol=0), span_days


def test_decayed_count_spark(spark):
    """Spark operator == kernel per series; rate identity lam*S."""
    import numpy as np
    import pandas as pd

    from roll_spark.operators import kernels as K
    from roll_spark.operators.time_windows import decayed_count

    rng = np.random.default_rng(9)
    rows = []
    for c in range(4):
        t = np.sort(rng.integers(0, 10 * 86400 * 10**6, 150))
        for v in t:
            rows.append((f"c{c}", int(v)))
    pdf = pd.DataFrame(rows, columns=["cid", "t_s"])
    pdf["t_s"] = pdf.t_s / 1e6  # numeric order column = SECONDS
    df = spark.createDataFrame(pdf)
    out = decayed_count(df, "cid", "t_s", 86400.0, out="d").collect()
    got = {}
    for r in out:
        got.setdefault(r.cid, []).append((r.t_s, r.d))
    for cid, pairs in got.items():
        pairs.sort()
        t_us = np.round(np.array([p[0] for p in pairs]) * 1e6).astype(np.int64)
        want = K.conv_decayed_count(t_us, 86400.0)
        assert np.allclose([p[1] for p in pairs], want, rtol=1e-12)
