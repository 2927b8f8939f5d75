"""Online == offline dual-path equivalence — the reference's own test
strategy (tests/testthat/test-roll.R checks every op both ways), plus
the recursions' chunk-boundary state-carry contract, and the stateless
window kernels stream_roll runs against naive per-window replays.

Offline = the vectorized conv_* kernels (production Arrow path);
online = the sequential O(1)-or-O(log w)-per-row recursions mirroring
the reference's online family (roll_vec.h:383, :2114, :3801, :1694).
Co-moment recursions accumulate ~kappa*eps differences vs the exact
two-pass offline kernels, so var/cov compare at 5e-8; sum and the
dual-multiset quantile are exact.
"""

from __future__ import annotations

import numpy as np
import pytest

from roll_spark.operators import kernels as K

WIDTHS = (1, 2, 3, 5, 10, 15)


def _same(a, b, atol=0.0):
    mask = np.isnan(a) & np.isnan(b)
    if atol == 0.0:
        return ((a == b) | mask).all()
    return np.allclose(a, b, equal_nan=True, atol=atol, rtol=0)


@pytest.mark.parametrize("width", WIDTHS)
def test_online_sum_equals_offline(grid_series, width):
    for name, x in grid_series.items():
        for mo in (1, max(1, width // 2), width):
            got, _ = K.online_sum(x, width, min_obs=mo)
            want = K.conv_sum(x, width, min_obs=mo)
            assert _same(got, want, atol=1e-9), (name, width, mo)


@pytest.mark.parametrize("width", WIDTHS)
def test_online_var_equals_offline(grid_series, width):
    for name, x in grid_series.items():
        for mo in (2, width):
            got, _ = K.online_var(x, width, min_obs=mo)
            want = K.conv_var(x, width, min_obs=max(mo, 2))
            assert _same(got, want, atol=5e-8), (name, width, mo)


@pytest.mark.parametrize("width", WIDTHS)
def test_online_cov_equals_offline(grid_pairs, width):
    for name, (x, y) in grid_pairs.items():
        got, _ = K.online_cov(x, y, width, min_obs=2)
        want = K.conv_cov(x, y, width, min_obs=2)
        assert _same(got, want, atol=5e-8), (name, width)


@pytest.mark.parametrize("width", WIDTHS)
@pytest.mark.parametrize("p", (0.1, 0.25, 0.5, 0.75, 0.9))
def test_online_quantile_equals_offline(grid_series, width, p):
    """The dual-multiset online quantile is EXACT vs the offline sort —
    same HF2 selection, same tie-averaging (roll_vec.h:1694-1953)."""
    for name, x in grid_series.items():
        for mo in (1, width):
            got, _ = K.online_quantile(x, width, p, min_obs=mo)
            want = K.conv_quantile(x, width, p, min_obs=mo)
            assert _same(got, want), (name, width, p, mo)


def test_online_quantile_tie_heavy_long_series():
    rng = np.random.default_rng(97)
    x = np.round(rng.normal(100, 5, 3000), 1)  # heavy ties
    x[rng.random(3000) < 0.15] = np.nan
    for width, p in ((7, 0.5), (40, 0.25), (200, 0.9)):
        got, _ = K.online_quantile(x, width, p, min_obs=1)
        want = K.conv_quantile(x, width, p, min_obs=1)
        assert _same(got, want), (width, p)


@pytest.mark.parametrize("splits", [(137,), (50, 260), (1, 2, 3)])
def test_state_carry_across_chunks(splits):
    """Evaluating a series in arbitrary chunks with carried state must
    equal the single-pass answer — the contract the skew/streaming
    paths rely on."""
    rng = np.random.default_rng(31)
    x = np.round(rng.normal(100, 20, 400), 2)
    x[rng.random(400) < 0.2] = np.nan
    y = np.round(rng.normal(50, 10, 400), 2)
    bounds = [0, *splits, 400]
    for fn, args, atol in (
        (K.online_sum, (), 1e-9),
        (K.online_var, (), 1e-9),
        (K.online_quantile, (0.5,), 0.0),
    ):
        for width in (3, 10, 64):
            whole, _ = fn(x, width, *args, min_obs=1)
            st, parts = None, []
            for lo, hi in zip(bounds, bounds[1:]):
                seg, st = fn(x[lo:hi], width, *args, min_obs=1, state=st)
                parts.append(seg)
            assert _same(whole, np.concatenate(parts), atol=atol), (fn.__name__, width)
    for width in (3, 10, 64):
        whole, _ = K.online_cov(x, y, width, min_obs=2)
        st, parts = None, []
        for lo, hi in zip(bounds, bounds[1:]):
            seg, st = K.online_cov(x[lo:hi], y[lo:hi], width, min_obs=2, state=st)
            parts.append(seg)
        assert _same(whole, np.concatenate(parts), atol=1e-9), width


def test_online_width_shrink_raises():
    """Resuming a sum/moment/multiset kernel with a SMALLER width than
    its checkpointed state must raise loudly — the carried running sums
    are tied to the old width, so silent continuation would be wrong
    (stream_roll's raw-value carry truncates and recovers instead)."""
    x = np.arange(20.0)
    for fn, args in ((K.online_mean, ()), (K.online_sum, ()),
                     (K.online_var, ()), (K.online_quantile, (0.5,))):
        _, st = fn(x, 5, *args, min_obs=1)
        with pytest.raises(ValueError, match="state width mismatch"):
            fn(x, 3, *args, min_obs=1, state=st)
    _, st = K.online_cov(x, x * 2, 5, min_obs=2)
    with pytest.raises(ValueError, match="state width mismatch"):
        K.online_cov(x, x * 2, 3, min_obs=2, state=st)


def test_online_idxminmax_matches_batch_contract():
    """window_idxminmax (the stateless kernel stream_roll runs) == an
    independent naive replay of the batch contract (window_ops.
    _idx_extreme / roll_vec.h:1345-1659): series position while
    expanding, window slot once rolling, most-recent ties, NaN
    exclusion, min_obs gating; ``r0`` shifts the series position."""
    rng = np.random.default_rng(7)
    x = np.round(rng.normal(50, 20, 200), 2)
    x[rng.random(200) < 0.15] = np.nan
    x[::7] = 42.0  # force ties

    def naive(x, width, mode, min_obs):
        out = np.full(len(x), np.nan)
        for i in range(len(x)):
            r = i + 1
            lo = max(0, i - width + 1)
            win = x[lo:i + 1]
            obs = ~np.isnan(win)
            if obs.sum() < max(min_obs, 1):
                continue
            vals = np.where(obs, win, np.inf if mode == "min" else -np.inf)
            ext = vals.min() if mode == "min" else vals.max()
            j = np.flatnonzero(obs & (win == ext))[-1]  # most recent tie
            r_ext = lo + j + 1
            out[i] = r_ext if r <= width else width - r + r_ext
        return out

    for mode in ("min", "max"):
        for width in (1, 3, 10):
            for mo in (1, 3):
                want = naive(x, width, mode, mo)
                got = K.window_idxminmax(x, width, mode=mode, min_obs=mo)
                assert _same(got, want), (mode, width, mo)
                # a series tail from row lo on, told how many rows came before
                lo = 13 - (width - 1)
                tail = K.window_idxminmax(x[lo:], width, mode=mode, min_obs=mo, r0=lo)
                assert _same(tail[width - 1:], want[13:]), (mode, width, mo)


def test_online_scale_matches_naive():
    """conv_scale (the kernel stream_roll and the Arrow roll_scale share)
    == a naive two-pass z-score replay of the batch roll_scale contract
    (most-recent-non-NA value, n_obs>1 + var>eps emission, min_obs
    gate), to float reassociation."""
    rng = np.random.default_rng(3)
    x = np.round(rng.normal(50, 20, 300), 2)
    x[rng.random(300) < 0.2] = np.nan
    x[100:110] = 7.0  # a zero-variance stretch -> NULL (var <= eps)

    def naive(x, width, min_obs):
        out = np.full(len(x), np.nan)
        for i in range(len(x)):
            win = x[max(0, i - width + 1): i + 1]
            obs = win[~np.isnan(win)]
            if len(obs) < max(min_obs, 2):
                continue
            v = obs.var(ddof=1)
            if v > np.finfo(float).eps:
                out[i] = (obs[-1] - obs.mean()) / np.sqrt(v)
        return out

    for width in (2, 5, 10, 30):
        for mo in (1, 5):
            want = naive(x, width, mo)
            got = K.conv_scale(x, width, min_obs=mo)
            assert np.array_equal(np.isnan(got), np.isnan(want)), (width, mo)
            m = ~np.isnan(got)
            assert np.allclose(got[m], want[m], rtol=0, atol=1e-9), (width, mo)


def test_online_prod_matches_naive():
    """window_prod (the kernel stream_roll runs) == the naive per-window
    product (exact zeros/signs, NaN exclusion, min_obs gate)."""
    rng = np.random.default_rng(11)
    x = np.round(rng.normal(0.0, 1.5, 250), 2)  # mixed signs
    x[rng.random(250) < 0.2] = np.nan
    x[40] = 0.0  # exact zero through the window

    def naive(x, width, min_obs):
        out = np.full(len(x), np.nan)
        for i in range(len(x)):
            win = x[max(0, i - width + 1): i + 1]
            obs = win[~np.isnan(win)]
            if len(obs) >= max(min_obs, 1):
                out[i] = np.prod(obs)
        return out

    for width in (1, 4, 10):
        for mo in (1, 4):
            want = naive(x, width, mo)
            got = K.window_prod(x, width, min_obs=mo)
            assert _same(got, want), (width, mo)
