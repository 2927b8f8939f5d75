"""Stateful streaming rolling stats must equal the batch kernels row for
row: the state store carries each series' trailing window across
micro-batches, so an incrementally-delivered transcript yields the
numbers a cold whole-series batch pass produces. The pure per-group
steps (_window_step, _ewma_step) are also exercised directly, without a
stream: random splits, checkpoints written by the previous per-op state
layouts, and carries longer than the window."""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from roll_spark.operators import kernels as K
from roll_spark.streaming.rolling import _ewma_step, _window_step

WINDOW_OPS = ("mean", "sum", "var", "quantile", "cov", "min", "max",
              "idxmin", "idxmax", "scale", "prod")


def _batch(op, x, y, width, min_obs, p=0.5):
    """The whole-series batch kernel for a stream_roll window op."""
    return {
        "mean": lambda: K.conv_mean(x, width, min_obs=min_obs),
        "sum": lambda: K.conv_sum(x, width, min_obs=min_obs),
        "var": lambda: K.conv_var(x, width, min_obs=min_obs),
        "quantile": lambda: K.conv_quantile(x, width, p, min_obs=min_obs),
        "cov": lambda: K.conv_cov(x, y, width, min_obs=min_obs),
        "min": lambda: K.window_minmax(x, width, "min", min_obs),
        "max": lambda: K.window_minmax(x, width, "max", min_obs),
        "idxmin": lambda: K.window_idxminmax(x, width, "min", min_obs),
        "idxmax": lambda: K.window_idxminmax(x, width, "max", min_obs),
        "scale": lambda: K.conv_scale(x, width, min_obs=min_obs),
        "prod": lambda: K.window_prod(x, width, min_obs),
    }[op]()


def _inputs(op, x, y):
    return np.column_stack([x, y]) if op == "cov" else x[:, None]


def _assert_carry_equal(op, got, want, x, width):
    """Exact, except where the batch kernel sums a shorter window than
    the stream's width-long carried one: mean/sum's convolution dot over
    the whole series' head, and var/scale/cov's windows, which are cut
    at a series shorter than the width. Those differ by float
    reassociation, bounded by eps * sum|window| (absolute, since a
    cancelled sum has no relative accuracy to preserve); a z-score
    divides its mean's error by the window's sd."""
    assert np.array_equal(np.isnan(got), np.isnan(want)), op
    scale = float(np.nanmax(np.abs(x))) if np.isfinite(x).any() else 0.0
    if op in ("mean", "sum"):
        assert np.allclose(got, want, rtol=1e-12, atol=1e-12 * scale,
                           equal_nan=True), op
    elif op in ("var", "scale", "cov") and len(x) < width:
        assert np.allclose(got, want, rtol=1e-9, atol=1e-12 * scale,
                           equal_nan=True), op
    else:
        assert np.array_equal(got, want, equal_nan=True), op

N_CONVS = 6
N_TURNS = 90
WIDTH = 10


@pytest.fixture(scope="module")
def ordered_stream_dir(spark, tmp_path_factory):
    """Three parquet files per turn-range with ascending mtimes: every
    conversation's turns arrive in order across micro-batches — the
    append-only transcript-tail delivery stream_roll's contract needs."""
    base = tmp_path_factory.mktemp("roll_stream")
    rng = np.random.default_rng(77)
    rows = []
    for c in range(N_CONVS):
        vals = np.round(rng.normal(100, 20, N_TURNS), 2)
        vals[rng.random(N_TURNS) < 0.15] = np.nan
        lats = np.round(rng.normal(5, 2, N_TURNS), 2)
        lats[rng.random(N_TURNS) < 0.15] = np.nan
        for t in range(N_TURNS):
            rows.append((f"c{c}", t, t * 3600.0,
                         None if np.isnan(vals[t]) else float(vals[t]),
                         None if np.isnan(lats[t]) else float(lats[t])))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "ts_s", "text_len", "lat"])
    src = base / "src"
    os.makedirs(src)
    now = time.time()
    for i, (lo, hi) in enumerate(((0, 30), (30, 60), (60, 90))):
        part = pdf[(pdf.turn_idx >= lo) & (pdf.turn_idx < hi)]
        d = base / f"w{i}"
        spark.createDataFrame(part).coalesce(1).write.mode("overwrite").parquet(str(d))
        f = glob.glob(str(d / "part-*.parquet"))[0]
        dst = str(src / f"turns_{i}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (now - 100 + i, now - 100 + i))
    return str(src), pdf


@pytest.mark.parametrize("op,kw", [
    ("mean", {}),
    ("sum", {}),
    ("var", {}),
    ("quantile", {"p": 0.5}),
    ("cov", {"y": "lat"}),
    ("ewma", {"halflife_s": 6 * 3600.0}),
    ("min", {}),
    ("max", {}),
    ("idxmin", {}),
    ("idxmax", {}),
    ("scale", {}),
    ("prod", {}),
])
def test_stream_roll_equals_batch(spark, ordered_stream_dir, tmp_path, op, kw):
    from roll_spark.streaming.rolling import stream_roll

    src, pdf = ordered_stream_dir
    sdf = spark.readStream.schema(
        "conv_id string, turn_idx long, ts_s double, text_len double, lat double"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    # ewma orders by EVENT TIME — a numeric SECONDS column, the engine-wide
    # _epoch_micros convention; window ops order by turn
    order_col = "ts_s" if op == "ewma" else "turn_idx"
    out = stream_roll(sdf, "text_len", "conv_id", order_col, WIDTH,
                      op=op, min_obs=2, out="r", **kw)
    qname = f"roll_{op}"
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / f"ck_{op}"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = (spark.table(qname).toPandas()
           .sort_values(["conv_id", order_col]).reset_index(drop=True))
    assert len(got) == N_CONVS * N_TURNS

    for c in range(N_CONVS):
        sub = pdf[pdf.conv_id == f"c{c}"].sort_values("turn_idx")
        series = sub["text_len"].to_numpy(dtype=np.float64)
        if op == "ewma":
            t_us = np.round(sub["ts_s"].to_numpy(dtype=np.float64) * 1e6).astype(np.int64)
            want = K.conv_ewma_time(series, t_us, 6 * 3600.0, min_obs=2)
        else:
            yv = sub["lat"].to_numpy(dtype=np.float64)
            want = _batch(op, series, yv, WIDTH, 2, p=0.5)
        g = got[got.conv_id == f"c{c}"]["r"].to_numpy(dtype=np.float64)
        same = (g == want) | (np.isnan(g) & np.isnan(want))
        ok = same | np.isclose(g, want, rtol=0, atol=1e-9)
        assert ok.all(), (op, c, np.where(~ok)[0][:5])


def test_stream_sessionize_equals_batch(spark, tmp_path):
    """Streamed session ids == batch sessionize over the union, with
    session boundaries landing both inside micro-batches and exactly ON
    the batch seams, plus an exact-gap tie (gap == threshold => SAME
    session, the batch strict-> rule)."""
    import glob
    import os
    import shutil
    import time as _time

    import numpy as np
    import pandas as pd

    from roll_spark.plans.sessions import sessionize
    from roll_spark.streaming.sessions import stream_sessionize

    rng = np.random.default_rng(11)
    rows = []
    for c in range(6):
        t = 0.0
        for k in range(40):
            # mix: small gaps, exact-threshold gaps, and big jumps
            t += float(rng.choice([60.0, 1800.0, 3600.0, 3601.0, 20000.0]))
            rows.append((f"c{c}", t))
    pdf = pd.DataFrame(rows, columns=["conv_id", "ts_s"])
    df = spark.createDataFrame(pdf)

    want = {(r.conv_id, r.ts_s): r.session_id for r in
            sessionize(df, "conv_id", "ts_s", 3600.0).collect()}

    # four time-split files, drained one per micro-batch
    src = str(tmp_path / "src")
    os.makedirs(src)
    now = _time.time()
    qs = pdf.ts_s.quantile([0.25, 0.5, 0.75]).tolist()
    bounds = [-np.inf] + qs + [np.inf]
    for i in range(4):
        part = pdf[(pdf.ts_s > bounds[i]) & (pdf.ts_s <= bounds[i + 1])]
        d = str(tmp_path / f"w{i}")
        spark.createDataFrame(part).coalesce(1).write.mode("overwrite").parquet(d)
        dst = f"{src}/t{i}.parquet"
        shutil.copy(glob.glob(f"{d}/part-*.parquet")[0], dst)
        os.utime(dst, (now - 60 + i, now - 60 + i))

    sdf = spark.readStream.schema("conv_id string, ts_s double") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    out = stream_sessionize(sdf, "conv_id", "ts_s", 3600.0)
    q = (out.writeStream.format("memory").queryName("sess_stream_t")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.conv_id, r.ts_s): r.session_id
           for r in spark.table("sess_stream_t").collect()}
    assert got == want


def test_numeric_order_seconds_guard():
    """Numeric order columns are epoch-SECONDS since 0.4.0; a caller
    still passing epoch-microseconds must get a loud ValueError, not
    int64-overflowed garbage event times (round-4 ADVICE item)."""
    import pandas as pd
    import pytest as _pt
    from roll_spark.streaming.rolling import _numeric_order_to_us

    secs = pd.Series([0.0, 1.5, 1.7e9])  # plausible epoch-seconds
    assert _numeric_order_to_us(secs).tolist() == [0, 1_500_000,
                                                   1_700_000_000_000_000]
    micros = pd.Series([1.7e15, 1.7e15 + 1e6])  # epoch-µs smell
    with _pt.raises(ValueError, match="epoch-SECONDS"):
        _numeric_order_to_us(micros)
    # a NULL event time must fail before the int64 cast, not become an
    # arbitrary timestamp
    for holes in (pd.Series([0.0, np.nan, 3.0]), pd.Series([np.nan]),
                  pd.Series([1.0, None], dtype="Float64")):
        with _pt.raises(ValueError, match="NaN"):
            _numeric_order_to_us(holes)


# ---------------------------------------------------------------------------
# the pure per-group steps, without a stream
# ---------------------------------------------------------------------------

TIE_VALUES = st.sampled_from([-2.5, 0.0, 1.0, 1.0, 3.75, 10.0, np.nan])
SPLIT_SERIES = arrays(
    np.float64, st.integers(1, 60),
    elements=st.one_of(
        TIE_VALUES,
        st.floats(-1e3, 1e3, allow_nan=False).map(lambda v: round(v, 2)),
    ),
)


def _run_splits(step, state, parts):
    outs = []
    for part in parts:
        out, state = step(state, *part)
        outs.append(out)
    return np.concatenate(outs), state


@settings(max_examples=int(os.environ.get("HYP_EXAMPLES", "100")), deadline=None)
@given(x=SPLIT_SERIES, width=st.integers(1, 12), min_obs=st.integers(1, 13),
       p=st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9, 1.0]),
       burst=st.tuples(st.integers(0, 60), st.integers(0, 15)),
       cuts=st.lists(st.integers(0, 60), max_size=5), seed=st.integers(0, 2**31 - 1))
def test_window_step_any_split_equals_batch(x, width, min_obs, p, burst, cuts, seed):
    """Streaming a series in arbitrary micro-batches (single rows, empty
    runs collapsed, a NaN burst straddling a seam, tie-heavy values,
    width 1 included) gives the whole-series batch kernel's output for
    every window op; ewma's four-number carry rides the same splits."""
    rng = np.random.default_rng(seed)
    x = x.copy()
    x[burst[0]:burst[0] + burst[1]] = np.nan
    n = len(x)
    y = rng.choice([-1.0, 0.5, 2.0, 2.0, np.nan], n)
    bounds = sorted({0, n, *(c for c in cuts if c < n)})
    spans = list(zip(bounds, bounds[1:]))
    for op in WINDOW_OPS:
        v = _inputs(op, x, y)
        got, state = _run_splits(
            lambda s, part: _window_step(op, width, min_obs, p, s, part),
            None, [(v[lo:hi],) for lo, hi in spans])
        _assert_carry_equal(op, got, _batch(op, x, y, width, min_obs, p), x, width)
        assert len(state[0]) == (width - 1) * v.shape[1]
        assert state[1] == [float(n)]
    t_us = np.cumsum(rng.integers(1, 10**10, n))
    got, _ = _run_splits(
        lambda s, xs, ts: _ewma_step(3600.0, min_obs, s, xs, ts),
        None, [(x[lo:hi], t_us[lo:hi]) for lo, hi in spans])
    want = K.conv_ewma_time(x, t_us, 3600.0, min_obs=min_obs)
    assert np.array_equal(np.isnan(got), np.isnan(want))
    # the ewma carry hands off a rebased (num, den): pure reassociation,
    # the tolerance test_properties.py documents for the same split test
    scale = float(np.nanmax(np.abs(x))) if np.isfinite(x).any() else 0.0
    assert np.allclose(got, want, rtol=1e-9, atol=1e-9 * (scale + 1.0),
                       equal_nan=True)


def _parent_pack(op, s):
    """The (hist, aux, lower, upper) tuple the previous per-op state
    layouts of stream_roll wrote into the state store — frozen here so
    checkpoints taken before the raw-window carry keep resuming."""
    if op == "cov":
        hist = [float(v) for xy in s["hist"] for v in xy]
        return (hist, [float(s["n_obs"]), float(s["mx"]), float(s["my"]),
                       float(s["C"])], [], [])
    if op == "ewma":
        return ([], [float(s["num"]), float(s["den"]), float(s["t"]),
                     float(s["n_obs"])], [], [])
    hist = [float(v) for v in s["hist"]]
    if op in ("min", "max", "prod"):
        return (hist, [float(s["n_obs"])], [], [])
    if op in ("idxmin", "idxmax"):
        return (hist, [float(s["r"])], [], [])
    if op == "mean":
        aux = [float(s["sum_w"]), float(s["sum_x"]), float(s["n_obs"])]
        return (hist, aux, [], [])
    if op == "sum":
        return (hist, [float(s["sum_x"]), float(s["n_obs"])], [], [])
    if op in ("var", "scale"):
        return (hist, [float(s["n_obs"]), float(s["mean"]), float(s["M2"])],
                [], [])
    return (hist, [], [float(v) for v in s["lower"]],
            [float(v) for v in s["upper"]])


def _parent_state(op, x, y, width):
    """The previous kernels' carry after folding ``x`` (and ``y``). The
    running-sum, Welford and dual-multiset layouts are frozen here as
    literal state dicts: each held the trailing ``width`` raw values in
    hist beside its running state. The raw-window kernels' carry was the
    NaN-padded trailing width-1 values plus the observed count
    (min/max/prod) or the row count (idxmin/idxmax)."""
    if op == "mean":
        return K.online_mean(x, width, min_obs=1)[1]
    hist = [float(v) for v in x[-width:]]
    obs = sorted(v for v in hist if not np.isnan(v))
    if op == "sum":
        return {"sum_x": float(np.sum(obs)), "n_obs": len(obs), "hist": hist}
    if op in ("var", "scale"):  # one Welford carry
        m2 = float(np.var(obs) * len(obs)) if obs else 0.0
        return {"n_obs": len(obs), "mean": float(np.mean(obs)) if obs else 0.0,
                "M2": m2, "hist": hist}
    if op == "cov":
        pairs = [(float(a), float(b)) for a, b in zip(x[-width:], y[-width:])]
        ok = np.array([p for p in pairs if not np.isnan(p).any()]).reshape(-1, 2)
        mx, my = ok.mean(axis=0) if len(ok) else (0.0, 0.0)
        return {"n_obs": len(ok), "mx": float(mx), "my": float(my),
                "C": float(((ok[:, 0] - mx) * (ok[:, 1] - my)).sum()),
                "hist": pairs}
    if op == "quantile":  # lower: the smaller half of the dual multiset
        half = (len(obs) + 1) // 2
        return {"lower": obs[:half], "upper": obs[half:], "hist": hist}
    xp = np.concatenate([np.full(width - 1, np.nan), x])
    tail = list(xp[len(xp) - (width - 1):])
    if op in ("idxmin", "idxmax"):
        return {"hist": tail, "r": len(x)}
    return {"hist": tail, "n_obs": int((~np.isnan(tail)).sum())}


@pytest.mark.parametrize("op", WINDOW_OPS + ("ewma",))
@pytest.mark.parametrize("width", (1, 3, 10))
@pytest.mark.parametrize("split", (1, 2, 25))
def test_window_step_resumes_parent_checkpoint(op, width, split):
    """A checkpoint written by the previous per-op layouts (running sums,
    Welford moments, dual multisets, ...) resumes exactly: every one of
    them kept the trailing raw values in hist and, for idxmin/idxmax,
    the row count in aux[0] — which is all the raw-window carry reads."""
    rng = np.random.default_rng(5)
    x = np.round(rng.normal(20, 8, 60), 1)
    x[rng.random(60) < 0.2] = np.nan
    x[30:34] = 4.0
    y = np.round(rng.normal(3, 1, 60), 1)
    y[rng.random(60) < 0.1] = np.nan
    if op == "ewma":
        t_us = np.cumsum(rng.integers(1, 10**9, 60))
        _, carry = K.online_ewma_time(x[:split], t_us[:split], 60.0)
        state = _parent_pack(op, carry)
        got, _ = _ewma_step(60.0, 1, state, x[split:], t_us[split:])
        want = K.conv_ewma_time(x, t_us, 60.0)[split:]
        assert np.allclose(got, want, rtol=1e-12, atol=1e-12, equal_nan=True)
        return
    state = _parent_pack(op, _parent_state(op, x[:split], y[:split], width))
    v = _inputs(op, x, y)
    got, state = _window_step(op, width, 1, 0.5, state, v[split:40])
    more, _ = _window_step(op, width, 1, 0.5, state, v[40:])  # new layout
    want = _batch(op, x, y, width, 1)[split:]
    _assert_carry_equal(op, np.concatenate([got, more]), want, x, width)


@pytest.mark.parametrize("op", WINDOW_OPS)
def test_window_step_long_carry_truncates(op):
    """A carry LONGER than width-1 — a stream resumed with a smaller
    width than its checkpoint — keeps its trailing width-1 values and
    gives the exact batch result."""
    rng = np.random.default_rng(9)
    x = np.round(rng.normal(10, 4, 50), 1)
    x[rng.random(50) < 0.2] = np.nan
    y = np.round(rng.normal(2, 1, 50), 1)
    v = _inputs(op, x, y)
    _, state = _window_step(op, 8, 1, 0.5, None, v[:20])
    got, state = _window_step(op, 3, 1, 0.5, state, v[20:])
    _assert_carry_equal(op, got, _batch(op, x, y, 3, 1)[20:], x, 3)
    assert len(state[0]) == 2 * v.shape[1]


def test_window_step_carry_normalise():
    """The carry-normalise edge cases on hand-checkable numbers: a long
    carry truncates to its trailing width-1 values, a short one is
    NaN-padded on the left, and width 1 stores an empty carry."""
    v = np.array([[5.0], [1.0], [9.0]])
    long_state = ([100.0, -7.0, 2.0, 8.0, 4.0], [5.0], [], [])
    out, st_ = _window_step("min", 3, 1, 0.5, long_state, v)
    assert out.tolist() == [4.0, 1.0, 1.0]
    assert st_[0] == [1.0, 9.0]
    out, _ = _window_step("max", 3, 1, 0.5, ([8.0, 4.0, 2.0], [3.0], [], []), v)
    assert out.tolist() == [5.0, 5.0, 9.0]
    out, _ = _window_step("min", 4, 1, 0.5, ([2.0], [1.0], [], []), v)
    assert out.tolist() == [2.0, 1.0, 1.0]
    out, st_ = _window_step("sum", 1, 1, 0.5, ([3.0, 4.0], [2.0], [], []), v)
    assert out.tolist() == [5.0, 1.0, 9.0]
    assert st_ == ([], [5.0], [], [])
