"""rolling_batch: the read-only analytics path.

Rolling statistics over many series with heavy-tailed lengths, on the
native window path (``window_ops``, ``moments``), the time-decay path
(``time_windows``) and the Arrow kernel path (``arrow_ops`` + ``kernels``).
``tiers``, ``chunks``, ``TierStore`` and ``streaming`` do no work here, so a
rollup-side or stream-side change should leave this workload flat.

An operation is one public call, materialized to the ``noop`` sink.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view

from harness import Recorder, Tracer

N_SERIES = 100
MEDIAN_LEN = 100
SMOKE_SERIES = 24
SMOKE_MEDIAN_LEN = 40
# Pareto tail: the longest few series reach the 50x cap
PARETO_ALPHA = 1.2
MAX_FACTOR = 50
EXP10 = tuple(0.9 ** (9 - i) for i in range(10))
HALFLIFE_S = 3600.0
CHECK_SERIES = 3


def series_lengths(n_series: int, median_len: int) -> np.ndarray:
    """A fixed heavy-tailed length profile. Every seed gets the same
    lengths on the same series keys, so the partition skew the long series
    cause is the same on every seed; the seed draws the values and times."""
    u = (np.arange(n_series) + 0.5) / n_series
    q = (1.0 - u) ** (-1.0 / PARETO_ALPHA)
    q /= np.median(q)
    return np.minimum(np.round(median_len * q), MAX_FACTOR * median_len).astype(int)


def make_input(seed: int, smoke: bool) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n_series, median_len = (SMOKE_SERIES, SMOKE_MEDIAN_LEN) if smoke else (N_SERIES, MEDIAN_LEN)
    lengths = series_lengths(n_series, median_len)
    frames = []
    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    for i, n in enumerate(lengths):
        gaps_us = np.round((1.0 + rng.exponential(59.0, n)) * 1e6).astype(np.int64)
        x = 10.0 + np.cumsum(rng.normal(0.0, 0.3, n)) + rng.normal(0.0, 1.0, n)
        y = 0.5 * x + rng.normal(0.0, 1.0, n)
        z = 1.0 + 2.0 * x - y + rng.normal(0.0, 0.5, n)
        frames.append(pd.DataFrame({
            "series": f"s{i:05d}",
            "t": pd.to_datetime(base + np.cumsum(gaps_us), unit="us"),
            "x": x, "y": y, "z": z,
        }))
    return pd.concat(frames, ignore_index=True)


def _operations(max_len: int):
    """(name, layer, call) for every timed call; ``call(df)`` returns the
    lazy result frame."""
    from roll_spark import (roll_cov, roll_idxmax, roll_mad, roll_mean,
                            roll_median, roll_var)
    from roll_spark.config import RollSpec
    from roll_spark.operators.arrow_ops import roll_lm_k
    from roll_spark.operators.moments import roll_skew_kurt
    from roll_spark.operators.time_windows import ewma_time

    by, order = "series", "t"
    return [
        ("roll_mean_w10", "window_ops",
         lambda d: roll_mean(d, "x", by, order, 10, out="o")),
        ("roll_var_w10", "window_ops",
         lambda d: roll_var(d, "x", by, order, 10, out="o")),
        ("roll_cov_w10", "window_ops",
         lambda d: roll_cov(d, "x", "y", by, order, 10, out="o")),
        ("roll_idxmax_w10", "window_ops",
         lambda d: roll_idxmax(d, "x", by, order, 10, out="o")),
        ("expanding_mean", "window_ops",
         lambda d: roll_mean(d, "x", by, order, max_len, min_obs=1, out="o")),
        ("roll_skew_kurt_w20", "moments",
         lambda d: roll_skew_kurt(d, "x", by, order, 20, out_skew="o", out_kurt="o2")),
        ("ewma_time_1h", "time_windows",
         lambda d: ewma_time(d, "x", by, order, HALFLIFE_S, out="o")),
        ("roll_mean_exp_w10", "arrow_ops",
         lambda d: roll_mean(d, "x", by, order, 10, weights=EXP10, out="o")),
        ("roll_median_w400", "arrow_ops",
         lambda d: roll_median(d, "x", by, order, 400, min_obs=1, out="o")),
        ("roll_mad_w10", "arrow_ops",
         lambda d: roll_mad(d, "x", by, order, 10, out="o")),
        ("roll_lm_k2_w20", "arrow_ops",
         lambda d: roll_lm_k(d, ["x", "y"], "z", by, order, RollSpec(width=20, min_obs=20))),
    ]


# ---------------------------------------------------------------------------
# reference results, computed here with pandas / numpy
# ---------------------------------------------------------------------------


def _lead_nan(arr: np.ndarray, n: int) -> np.ndarray:
    return np.concatenate([np.full(n - len(arr), np.nan), arr])


def _lm_reference(g: pd.DataFrame, width: int) -> dict[str, np.ndarray]:
    X = np.column_stack([np.ones(len(g)), g["x"], g["y"]])
    yv = g["z"].to_numpy()
    Xw = sliding_window_view(X, (width, 3))[:, 0]
    yw = sliding_window_view(yv, width)
    beta = np.linalg.solve(np.einsum("nwi,nwj->nij", Xw, Xw),
                           np.einsum("nwi,nw->ni", Xw, yw))
    resid = yw - np.einsum("nwi,ni->nw", Xw, beta)
    sst = ((yw - yw.mean(axis=1, keepdims=True)) ** 2).sum(axis=1)
    n = len(g)
    return {"lm_intercept": _lead_nan(beta[:, 0], n),
            "lm_b1": _lead_nan(beta[:, 1], n),
            "lm_b2": _lead_nan(beta[:, 2], n),
            "lm_r2": _lead_nan(1.0 - (resid ** 2).sum(axis=1) / sst, n)}


def reference(name: str, g: pd.DataFrame) -> dict[str, np.ndarray]:
    x = g["x"]
    n = len(g)
    if name == "roll_mean_w10":
        return {"o": x.rolling(10).mean().to_numpy()}
    if name == "roll_var_w10":
        return {"o": x.rolling(10).var().to_numpy()}
    if name == "roll_cov_w10":
        return {"o": x.rolling(10).cov(g["y"]).to_numpy()}
    if name == "roll_idxmax_w10":
        return {"o": _lead_nan(sliding_window_view(x.to_numpy(), 10).argmax(axis=1) + 1.0, n)}
    if name == "expanding_mean":
        return {"o": x.expanding().mean().to_numpy()}
    if name == "roll_skew_kurt_w20":
        return {"o": x.rolling(20).skew().to_numpy(), "o2": x.rolling(20).kurt().to_numpy()}
    if name == "ewma_time_1h":
        return {"o": x.ewm(halflife=pd.Timedelta(seconds=HALFLIFE_S), times=g["t"]).mean().to_numpy()}
    if name == "roll_mean_exp_w10":
        w = np.asarray(EXP10)
        return {"o": _lead_nan(sliding_window_view(x.to_numpy(), 10) @ w / w.sum(), n)}
    if name == "roll_median_w400":
        return {"o": x.rolling(400, min_periods=1).median().to_numpy()}
    if name == "roll_mad_w10":
        win = sliding_window_view(x.to_numpy(), 10)
        med = np.median(win, axis=1, keepdims=True)
        return {"o": _lead_nan(np.median(np.abs(win - med), axis=1), n)}
    if name == "roll_lm_k2_w20":
        return _lm_reference(g, 20)
    raise KeyError(name)


def _engine_columns(name: str, out: pd.DataFrame) -> dict[str, np.ndarray]:
    if name == "roll_lm_k2_w20":
        coef = out["lm_coef"]
        pick = lambda i: np.array([np.nan if c is None else c[i] for c in coef], dtype=float)  # noqa: E731
        return {"lm_intercept": out["lm_intercept"].to_numpy(float),
                "lm_b1": pick(0), "lm_b2": pick(1),
                "lm_r2": out["lm_r2"].to_numpy(float)}
    cols = ["o", "o2"] if name == "roll_skew_kurt_w20" else ["o"]
    return {c: out[c].to_numpy(float) for c in cols}


class Workload:
    min_iterations = 4

    def __init__(self, spark, seed: int, smoke: bool, workdir: str, tracer: Tracer):
        self.spark, self.seed, self.smoke, self.tracer = spark, seed, smoke, tracer
        self.df = None

    def setup(self) -> None:
        if self.df is not None:
            self.df.unpersist(blocking=True)
        self.pdf = make_input(self.seed, self.smoke)
        self.max_len = int(self.pdf.groupby("series").size().max())
        self.ops = _operations(self.max_len)
        self.df = self.spark.createDataFrame(
            self.pdf, "series string, t timestamp, x double, y double, z double"
        ).cache()
        self.df.count()
        self.rows = len(self.pdf)

    def iteration(self, rec: Recorder) -> tuple[float, int]:
        wall = 0.0
        for name, layer, call in self.ops:
            t0 = time.perf_counter()
            rec.op(name, lambda: self._run(name, layer, call))
            wall += time.perf_counter() - t0
        return wall, self.rows * len(self.ops)

    def warmup(self, rec: Recorder) -> None:
        """One pass that collects every full result for the checks."""
        self.outputs = {name: rec.op(name, lambda: call(self.df).toPandas())
                        for name, _layer, call in self.ops}

    def _run(self, name, layer, call):
        with self.tracer.span(f"{layer}.{name}"):
            call(self.df).write.format("noop").mode("overwrite").save()

    def checks(self) -> list[tuple[str, bool, str]]:
        """Every operation's warm-up output on a seeded sample of series
        (always including the longest) against pandas/numpy results."""
        sizes = self.pdf.groupby("series").size()
        rng = np.random.default_rng(self.seed + 1)
        picked = {sizes.idxmax(), *rng.choice(sizes.index, CHECK_SERIES - 1, replace=False)}
        groups = {s: g.sort_values("t").reset_index(drop=True)
                  for s, g in self.pdf[self.pdf.series.isin(picked)].groupby("series")}
        results = []
        for name, _layer, _call in self.ops:
            out = self.outputs[name]
            bad = ["operation failed"] if out is None else []
            for s, g in groups.items() if out is not None else ():
                got = _engine_columns(name, out[out.series == s].sort_values("t"))
                for col, want in reference(name, g).items():
                    if not (len(got[col]) == len(want) and np.allclose(
                            got[col], want, rtol=1e-6, atol=1e-9, equal_nan=True)):
                        bad.append(f"{s}:{col}")
            results.append((f"{name} matches pandas on {len(groups)} series",
                            not bad, ", ".join(bad)))
        return results

    def stored_bytes(self) -> int:
        return 0

    def layer_metrics(self) -> dict[str, float]:
        """``kernels.conv_busy_s``: the conv_* kernels behind the Arrow and
        time-decay calls, run single-core here on the same per-series
        arrays the grouped-map tasks receive."""
        from roll_spark.operators import kernels as K

        w = np.asarray(EXP10)
        t0 = time.perf_counter()
        for _, g in self.pdf.groupby("series"):
            x = g["x"].to_numpy()
            K.conv_mean(x, 10, weights=w, min_obs=10)
            K.conv_quantile(x, 400, 0.5, min_obs=1)
            K.conv_mad(x, 10, min_obs=10)
            K.conv_lm_k(g[["x", "y"]].to_numpy(), g["z"].to_numpy(), 20, min_obs=20)
            K.conv_ewma_time(x, g["t"].to_numpy().astype("datetime64[us]").astype(np.int64),
                             HALFLIFE_S)
        return {"kernels.conv_busy_s": time.perf_counter() - t0}

    def close(self) -> None:
        self.df.unpersist()
