"""Vectorized numpy kernels for the Arrow (applyInArrow) path.

Two algorithm families, mirroring the reference's online/offline split
(/root/reference/src/roll.cpp:378-394):

- ``conv_*``  offline kernels vectorized as 1-D convolutions: the
  rolling weighted sum with newest-last weight alignment
  (roll_vec.h:556 reads arma_weights[n-count-1]) is exactly
  ``np.convolve(x, reversed(weights))``. Arbitrary weights, C speed,
  O(n*width), with every kernel cut to n taps (lags >= n never reach
  a row), so an expanding equal-weight sum is O(n); equal-weight
  quantiles select from a wavelet matrix in O(n log n) at any width —
  the production path inside Arrow UDFs.
- ``online_*`` sequential O(1)-per-row recursions (lambda-recursion /
  West co-moment updates, roll_vec.h:447, :2190, :3677). Reference
  oracles only: they prove online == offline equivalence the way the
  reference's own test suite does. No production path runs them;
  streaming (streaming/rolling.py) carries the trailing raw window and
  reruns the batch kernels over ``[carry | micro-batch]``. The one
  exception is ``online_ewma_time``, which is itself a vectorized scan.
- ``window_*`` stateless strided-window reduces (min/max, direct
  product, idxmin/idxmax) used by the streaming path.

All kernels take float64 arrays with NaN as missing and return float64
with NaN for NULL; gates (min_obs, na_restore, eps clamps) replicate
the reference emit rules exactly.
"""

from __future__ import annotations

import warnings

import numpy as np

EPS = float(np.finfo(np.float64).eps)
SQRT_EPS = float(np.sqrt(EPS))


def _prep(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    x = np.asarray(x, dtype=np.float64)
    ok = ~np.isnan(x)
    return np.where(ok, x, 0.0), ok.astype(np.float64)


def _kernel(weights: np.ndarray | None, width: int) -> np.ndarray:
    """Convolution kernel h[k] = weight of the row k lags back."""
    if weights is None:
        return np.ones(width)
    w = np.asarray(weights, dtype=np.float64)[-width:]
    return w[::-1].copy()  # h[0] = newest slot weight


def _rollconv(v: np.ndarray, h: np.ndarray) -> np.ndarray:
    """out[i] = sum_k h[k] * v[i-k] — trailing weighted window sum.

    Lags >= n never reach a row, so ``h`` is cut to n taps. Under equal
    weights the w-1 not-yet-full rows are a sequential running sum (as
    in Spark's running frame) and the full rows one "valid" direct
    convolution: O(n) for an expanding window (w >= n), O(n·w) in C
    otherwise."""
    n = len(v)
    h = h[:n]
    w = len(h)
    if w <= 1:  # one tap, or an empty series
        return v * h.sum()
    if (h == 1.0).all():
        return np.concatenate([np.cumsum(v[: w - 1]), np.convolve(v, h, "valid")])
    return np.convolve(v, h)[:n]


def _restore(out: np.ndarray, x: np.ndarray, na_restore: bool) -> np.ndarray:
    if na_restore:
        out = np.where(np.isnan(x), np.nan, out)
    return out


class WindowSums:
    """All weighted rolling sums an operator needs, in one pass of
    convolutions over (value, mask) — shared by every conv kernel."""

    def __init__(self, x, width, weights=None):
        self.x = np.asarray(x, dtype=np.float64)
        self.width = width
        xv, ok = _prep(self.x)
        # the taps are built at most n long: an expanding window may be
        # written as any width >= n, and must not allocate that width
        taps = min(width, len(self.x))
        h = _kernel(weights, taps)
        self.n_obs = np.rint(_rollconv(ok, np.ones(taps))).astype(np.int64)
        self.sum_w = _rollconv(ok, h)
        self.sum_wx = _rollconv(xv, h)
        self._h = h
        self._xv = xv
        self._ok = ok

    def sumsq_w(self):
        return _rollconv(self._ok, self._h * self._h)

    def sum_wx2(self):
        return _rollconv(self._xv * self._xv, self._h)


def conv_sum(x, width, weights=None, min_obs=None, na_restore=False):
    min_obs = width if min_obs is None else min_obs
    s = WindowSums(x, width, weights)
    out = np.where(s.n_obs >= min_obs, s.sum_wx, np.nan)
    return _restore(out, s.x, na_restore)


def conv_mean(x, width, weights=None, min_obs=None, na_restore=False):
    min_obs = width if min_obs is None else min_obs
    s = WindowSums(x, width, weights)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.where(s.n_obs >= min_obs, s.sum_wx / s.sum_w, np.nan)
    return _restore(out, s.x, na_restore)




def _win_block(width: int) -> int:
    """Row-block size for strided-window kernels: block x width x 8B ~ 1MB
    keeps the handful of working arrays inside L2/L3 so concurrent
    workers don't contend for DRAM bandwidth (measured: series-sized
    blocks were ~45% slower per group and capped multi-core scaling)."""
    return min(max(131072 // max(width, 1), 128), 8192)


def _pin_constant(mu, wins, ok):
    """Each window's mean, set to the window's value where all its
    observed values are equal (min == max): the mean of identical
    non-dyadic values is not exact in float64, and only the exact value
    gives exactly-zero deviations (rank-deficiency and zero-variance
    decisions hang on them)."""
    lo = np.where(ok, wins, np.inf).min(axis=1)
    hi = np.where(ok, wins, -np.inf).max(axis=1)
    return np.where(lo == hi, lo, mu)


def _pair_window_moments(x, y, width, weights):
    """Exact two-pass weighted (co)moments over every trailing window.

    Yields per row: n_obs, sum_w, sumsq_w, ssx, ssy, ssxy, mux, muy where
    ss* = sum(w (a - mu_a)(b - mu_b)) with mu the window's own weighted
    mean — computed directly per window (strided view, row-blocked), so
    there is NO uncentered-moment cancellation: constant windows give
    exactly 0, any data scale gives ~eps relative error. This is the
    float64 equivalent of the reference's long-double accumulators
    (roll_vec.h:410-415); the one-pass recursions remain in online_*.
    Pass y=None for single-series moments (ssy/ssxy/muy then alias x's).
    """
    x = np.asarray(x, dtype=np.float64)
    two = y is not None
    if two:
        y = np.asarray(y, dtype=np.float64)
        ok = ~np.isnan(x) & ~np.isnan(y)
    else:
        ok = ~np.isnan(x)
    n = len(x)
    wts = _kernel(weights, width)[::-1]  # oldest-first slot weights
    pad = np.full(width - 1, np.nan)
    xp = np.concatenate([pad, np.where(ok, x, np.nan)])
    yp = np.concatenate([pad, np.where(ok, y, np.nan)]) if two else None
    n_obs = np.empty(n, dtype=np.int64)
    sum_w = np.empty(n)
    sumsq_w = np.empty(n)
    ssx = np.empty(n)
    ssy = np.empty(n)
    ssxy = np.empty(n)
    mux_a = np.empty(n)
    muy_a = np.empty(n)
    block = _win_block(width)
    for b0 in range(0, n, block):
        b1 = min(n, b0 + block)
        wx = np.lib.stride_tricks.sliding_window_view(xp[b0 : b1 + width - 1], width)
        okm = ~np.isnan(wx)
        sw = np.where(okm, wts, 0.0)
        swsum = sw.sum(axis=1)
        n_obs[b0:b1] = okm.sum(axis=1)
        sum_w[b0:b1] = swsum
        sumsq_w[b0:b1] = (sw * sw).sum(axis=1)
        xv = np.where(okm, wx, 0.0)
        with np.errstate(invalid="ignore", divide="ignore"):
            mux = (sw * xv).sum(axis=1) / swsum
        mux = _pin_constant(mux, wx, okm)
        mux_a[b0:b1] = mux
        dx = np.where(okm, wx - mux[:, None], 0.0)
        ssx[b0:b1] = (sw * dx * dx).sum(axis=1)
        if two:
            wy = np.lib.stride_tricks.sliding_window_view(
                yp[b0 : b1 + width - 1], width
            )
            yv = np.where(okm, wy, 0.0)
            with np.errstate(invalid="ignore", divide="ignore"):
                muy = (sw * yv).sum(axis=1) / swsum
            muy = _pin_constant(muy, wy, okm)
            muy_a[b0:b1] = muy
            dy = np.where(okm, wy - muy[:, None], 0.0)
            ssy[b0:b1] = (sw * dy * dy).sum(axis=1)
            ssxy[b0:b1] = (sw * dx * dy).sum(axis=1)
    if not two:
        ssy = ssx
        ssxy = ssx
        muy_a = mux_a
    return n_obs, sum_w, sumsq_w, ssx, ssy, ssxy, mux_a, muy_a


def _matrix_window_moments(M, width, weights):
    """Exact two-pass weighted co-moments for ALL column pairs of a
    masked matrix in ONE blocked sweep.

    ``M`` is (n, k) float64 with complete-obs masking already applied:
    a row excluded from the windows is NaN in EVERY column, so all
    columns share one observation mask (the reference's any_na row mask,
    src/roll.cpp:125-155). Returns (n_obs, sum_w, sumsq_w, mu, SS) with
    mu (n, k) per-window weighted means (constant-window pinned, see
    _pin_constant) and SS (n, k, k) centered co-moment sums
    sum(w (a - mu_a)(b - mu_b)).

    This replaces k(k+1)/2 + k independent _pair_window_moments passes
    (each rebuilding the strided windows + mask from scratch) with one
    mask/weight materialization per block and a single einsum for the
    k x k co-moment block — the O(k^2) redundancy the round-1 plan audit
    flagged in conv_lm_k / conv_cov_matrix.
    """
    M = np.asarray(M, dtype=np.float64)
    n, k = M.shape
    ok_rows = ~np.isnan(M).any(axis=1)
    pad = np.full(width - 1, np.nan)
    Mp = np.concatenate([np.tile(pad[:, None], (1, k)),
                         np.where(ok_rows[:, None], M, np.nan)], axis=0)
    n_obs = np.empty(n, dtype=np.int64)
    sum_w = np.empty(n)
    sumsq_w = np.empty(n)
    mu = np.empty((n, k))
    SS = np.empty((n, k, k))
    wts = _kernel(weights, width)[::-1]  # oldest-first slot weights
    block = max(_win_block(width) // max(k, 1), 64)
    for b0 in range(0, n, block):
        b1 = min(n, b0 + block)
        m = b1 - b0
        w0 = np.lib.stride_tricks.sliding_window_view(
            Mp[b0 : b1 + width - 1, 0], width
        )
        okm = ~np.isnan(w0)
        sw = np.where(okm, wts, 0.0)
        swsum = sw.sum(axis=1)
        n_obs[b0:b1] = okm.sum(axis=1)
        sum_w[b0:b1] = swsum
        sumsq_w[b0:b1] = (sw * sw).sum(axis=1)
        dx = np.empty((k, m, width))
        for j in range(k):
            wx = w0 if j == 0 else np.lib.stride_tricks.sliding_window_view(
                Mp[b0 : b1 + width - 1, j], width
            )
            xv = np.where(okm, wx, 0.0)
            with np.errstate(invalid="ignore", divide="ignore"):
                muj = (sw * xv).sum(axis=1) / swsum
            muj = _pin_constant(muj, wx, okm)
            mu[b0:b1, j] = muj
            dx[j] = np.where(okm, wx - muj[:, None], 0.0)
        wdx = dx * sw[None]
        SS[b0:b1] = np.einsum("jbw,lbw->bjl", wdx, dx)
    # exact symmetry (einsum computes both triangles; FP order can differ
    # at ~eps between (j,l) and (l,j) — mirror the lower triangle, the
    # reference's own work-halving convention, roll_mat.h:4745)
    il, jl = np.tril_indices(k)
    SS[:, jl, il] = SS[:, il, jl]
    return n_obs, sum_w, sumsq_w, mu, SS


def conv_var(x, width, weights=None, min_obs=None, na_restore=False, center=True):
    """Unbiased weighted variance: exact per-window two-pass centered sum
    of squares over the unbiased denominator sum_w - sumsq_w/sum_w, with
    the reference eps clamp (roll_vec.h:2404). The two-pass makes the
    centered sum exactly non-negative, so the negative-clamp branch of
    the reference is unreachable here by construction."""
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    if center:
        n_obs, sum_w, sumsq_w, ss, _, _, _, _ = _pair_window_moments(x, None, width, weights)
    else:
        s = WindowSums(x, width, weights)
        n_obs, sum_w, sumsq_w, ss = s.n_obs, s.sum_w, s.sumsq_w(), s.sum_wx2()
    with np.errstate(invalid="ignore", divide="ignore"):
        v = ss / (sum_w - sumsq_w / sum_w)
        out = np.where((n_obs > 1) & (n_obs >= min_obs), v, np.nan)
        out = np.where(
            out > EPS, out,
            np.where(out > -EPS, np.where(np.isnan(out), np.nan, 0.0), np.nan),
        )
    return _restore(out, x, na_restore)


def conv_sd(x, width, weights=None, min_obs=None, na_restore=False, center=True):
    return np.sqrt(conv_var(x, width, weights, min_obs, na_restore, center))


def conv_scale(x, width, weights=None, min_obs=None, na_restore=False,
               center=True, scale=True):
    """Rolling z-score (x_last - mean) / sd with the reference gates
    (roll_vec.h:3132-3143): x_last is the most recent non-NA value in
    the window; a scaled output needs n_obs > 1 and var > eps, with no
    clamp-to-zero. ``center``/``scale`` select the reference's four
    forms."""
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    ok = ~np.isnan(x)
    # most recent non-NA in the trailing window
    idx = np.arange(len(x))
    last_idx = np.maximum.accumulate(np.where(ok, idx, -1))
    # invalidate when the last non-NA fell out of the window
    valid_last = last_idx >= idx - width + 1
    x_last = np.where(valid_last & (last_idx >= 0), x[np.maximum(last_idx, 0)], np.nan)
    if center and scale:
        # exact two-pass window moments (no cancellation). Their mean is
        # window-local, so a stream carrying the trailing window
        # reproduces every output bit for bit.
        n_obs, sum_w, sumsq_w, ss, _, _, mean, _ = _pair_window_moments(
            x, None, width, weights
        )
    else:
        s = WindowSums(x, width, weights)
        n_obs, sum_w = s.n_obs, s.sum_w
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = s.sum_wx / s.sum_w
        if scale:
            sumsq_w, ss = s.sumsq_w(), s.sum_wx2()
    with np.errstate(invalid="ignore", divide="ignore"):
        centered = x_last - mean if center else x_last
        if scale:
            v = ss / (sum_w - sumsq_w / sum_w)
            res = np.where((n_obs > 1) & (v > EPS), centered / np.sqrt(v), np.nan)
        else:
            res = centered
        out = np.where(n_obs >= min_obs, res, np.nan)
    return _restore(out, x, na_restore)


def conv_cov(x, y, width, weights=None, min_obs=None, na_restore=False, center=True):
    """Pairwise-complete weighted covariance (roll_vec.h:3969-4152) via
    the exact per-window two-pass co-moment (no cancellation)."""
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if center:
        n_obs, sum_w, sumsq_w, _, _, ss, _, _ = _pair_window_moments(x, y, width, weights)
    else:
        both = ~np.isnan(x) & ~np.isnan(y)
        okf = both.astype(np.float64)
        h = _kernel(weights, width)
        n_obs = np.rint(_rollconv(okf, np.ones(width))).astype(np.int64)
        sum_w = _rollconv(okf, h)
        sumsq_w = _rollconv(okf, h * h)
        ss = _rollconv(np.where(both, x * y, 0.0), h)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.where(
            (n_obs > 1) & (n_obs >= min_obs), ss / (sum_w - sumsq_w / sum_w), np.nan
        )
    if na_restore:
        out = np.where(np.isnan(x) | np.isnan(y), np.nan, out)
    return out


def conv_cor(x, y, width, weights=None, min_obs=None, na_restore=False):
    """Scaled covariance with the reference's raw-sumsq eps gates
    (roll_vec.h:4112-4125). Two-pass centered sums are exact, so a
    constant window yields ss == 0 and gates to NULL with the plain
    absolute eps, exactly like the reference."""
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n_obs, sum_w, _, ssx, ssy, ssxy, _, _ = _pair_window_moments(x, y, width, weights)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.where(
            (n_obs > 1) & (n_obs >= min_obs) & (ssx > EPS) & (ssy > EPS),
            ssxy / (np.sqrt(ssx) * np.sqrt(ssy)),
            np.nan,
        )
    if na_restore:
        out = np.where(np.isnan(x) | np.isnan(y), np.nan, out)
    return out


def conv_crossprod(x, y, width, weights=None, min_obs=None, na_restore=False):
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    both = ~np.isnan(x) & ~np.isnan(y)
    okf = both.astype(np.float64)
    h = _kernel(weights, width)
    n_obs = np.rint(_rollconv(okf, np.ones(width))).astype(np.int64)
    sxy = _rollconv(np.where(both, x * y, 0.0), h)
    out = np.where(n_obs >= min_obs, sxy, np.nan)
    if na_restore:
        out = np.where(np.isnan(x) | np.isnan(y), np.nan, out)
    return out


def conv_prod(x, width, weights=None, min_obs=None, na_restore=False):
    """prod(w)*prod(x) with zero tracking, via log-space convolution."""
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    ok = ~np.isnan(x)
    okf = ok.astype(np.float64)
    h = _kernel(weights, width)
    n_obs = np.rint(_rollconv(okf, np.ones(width))).astype(np.int64)
    nz = np.rint(_rollconv((ok & (x == 0)).astype(np.float64), np.ones(width))).astype(np.int64)
    nneg = np.rint(_rollconv((ok & (x < 0)).astype(np.float64), np.ones(width))).astype(np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        logs = np.where(ok & (x != 0), np.log(np.abs(np.where(ok & (x != 0), x, 1.0))), 0.0)
    # log of weights contributes per observed slot: convolve mask with log(h)
    with np.errstate(divide="ignore"):
        log_h = np.log(h)
    sum_logx = _rollconv(logs, np.ones(width))
    sum_logw = _rollconv(okf, log_h)
    sign = np.where(nneg % 2 == 1, -1.0, 1.0)
    prod = np.where(nz > 0, 0.0, sign * np.exp(sum_logx + sum_logw))
    out = np.where(n_obs >= min_obs, prod, np.nan)
    return _restore(out, x, na_restore)


def _quantile_block_multi(xp, b0, b1, width, pps, wts_full, min_obs):
    """HF2 scan for output rows [b0, b1) at every upper mass pp in
    ``pps``: sort each width-window, walk the sorted slot weights from
    the top until mass >= 1-p (roll_vec.h:1994-2091). The shared state
    — sliding windows, argsort, sorted values/weights, cumulative mass
    — is computed ONCE; each pp costs only the comparison + selection
    sweeps (O(m·w) cheap vector ops vs the O(m·w log w) sort), so
    column j of the (m, len(pps)) result does not depend on the other
    probabilities.

    Pass-minimized: NaNs sort last under numpy's float ordering (no
    masking pre-pass); slot weights come from one table gather through
    the argsort permutation; the top-down cumulative is derived from the
    left cumsum (total - cumleft + own) instead of a strided reversed
    cumsum. The selection predicate is the NORMALIZED division form
    ``cum_top/total >= pp`` — exactly the reference's
    ``sum_upper_w / sum_w >= p`` (roll_vec.h:2048); an unnormalized
    ``cum_top >= pp*total`` is NOT equivalent in float64 (product vs
    quotient rounding flips the selected order statistic whenever
    fl(pp*total) straddles an attainable mass — dozens of (p, n) combos
    under equal weights alone)."""
    m = b1 - b0
    wins = np.lib.stride_tricks.sliding_window_view(xp[b0 : b1 + width - 1], width)
    # unstable introsort matches the reference's std::sort (stl_sort_index
    # is introsort); ties carry equal values so selection is unaffected
    order = np.argsort(wins, axis=1)
    sv = np.take_along_axis(wins, order, axis=1)
    nan_mask = np.isnan(sv)
    n_obs = width - nan_mask.sum(axis=1)
    sw = np.where(nan_mask, 0.0, wts_full[order])
    csl = np.cumsum(sw, axis=1)
    total = csl[:, -1]
    cum_top = (total[:, None] - csl) + sw
    # smallest index k (in ascending order) with mass[k] >= pp: mass is
    # non-increasing along ascending k; we need the LAST k where
    # cumulative-from-top >= pp ==> argmax over reversed condition.
    # NaN slots carry zero weight and must never be selected.
    with np.errstate(invalid="ignore", divide="ignore"):
        mass = cum_top / total[:, None]
    rows = np.arange(m)
    gate_ok = n_obs >= max(min_obs, 1)
    out = np.empty((m, len(pps)))
    for j, pp in enumerate(pps):
        cond = (mass >= pp) & ~nan_mask
        last_true = width - 1 - np.argmax(cond[:, ::-1], axis=1)
        has_true = cond.any(axis=1)
        k = np.where(has_true, last_true, 0)
        val_hi = sv[rows, k]
        mass_k = mass[rows, k]
        exact = np.abs(mass_k - pp) <= SQRT_EPS
        k_lo = np.maximum(k - 1, 0)
        val_lo = sv[rows, k_lo]
        lo_valid = (k - 1 >= 0) & ~np.isnan(val_lo)
        q = np.where(exact & lo_valid, (val_hi + val_lo) / 2.0, val_hi)
        out[:, j] = np.where(gate_ok, q, np.nan)
    return out


def _equal_weight_c(pos, pp):
    """Smallest integer c (per row) with fl64(c / n) >= pp — the
    equal-weight closed form of the reference's normalized scan
    predicate ``sum_upper_w / sum_w >= p`` (roll_vec.h:2048). A plain
    ``ceil(pp*n)`` is NOT that number in float64: the product and the
    quotient round differently, so the ceil guess is corrected by
    evaluating the actual division predicate at c-1 and c (off-by-one
    at most, since product and quotient agree to 1 ulp)."""
    with np.errstate(invalid="ignore", divide="ignore"):
        c = np.maximum(np.ceil(pp * pos), 1.0).astype(np.int64)
        down = (c > 1) & ((c - 1) / pos >= pp)
        c = np.where(down, c - 1, c)
        up = (c / pos < pp) & (c < pos)
        c = np.where(up, c + 1, c)
    return np.minimum(c, pos)


def _wavelet_matrix(x):
    """Wavelet matrix over the value ranks of ``x`` ("The wavelet
    matrix", Information Systems 47, 2015): a stable argsort gives
    every row a unique rank (NaN last, so a window's observed values
    hold its lowest ranks); level l stores the prefix
    count of zero bits in the current rank order, then stably moves
    the zeros to the front. Returns ``(sorted values, zeros)``, where
    ``zeros[l, i]`` counts the zero bits at level l in the first i
    positions. O(n log n) time and int32 memory, built once per series."""
    n = len(x)
    order = np.argsort(x, kind="stable")
    nbits = max(1, (n - 1).bit_length())
    itype = np.int32 if n < 2**31 else np.int64
    rank = np.empty(n, itype)
    rank[order] = np.arange(n, dtype=itype)
    zeros = np.zeros((nbits, n + 1), itype)
    for lvl in range(nbits):
        one = ((rank >> (nbits - 1 - lvl)) & 1).astype(bool)
        np.cumsum(~one, out=zeros[lvl, 1:])
        rank = np.concatenate([rank[~one], rank[one]])
    return x[order], zeros


def _wm_select(zeros, s, e, k):
    """Rank of the k-th smallest (0-based) value at positions [s, e),
    vectorized over rows: one top-down descent of the wavelet matrix,
    two prefix-count gathers per level."""
    r = np.zeros(len(k), np.int64)
    for z in zeros:
        zs, ze = z[s], z[e]
        cnt = ze - zs
        one = k >= cnt
        k = np.where(one, k - cnt, k)
        s = np.where(one, z[-1] + s - zs, zs)
        e = np.where(one, z[-1] + e - ze, ze)
        r = (r << 1) | one
    return r


def _quantiles_equal(x, width, pps, min_obs):
    """Equal-weight HF2 selection at every upper mass in ``pps``. The
    top-down mass scan reduces to the order statistic k = n_obs - c,
    with c from _equal_weight_c (the weighted scan's own float64
    division predicate, so both paths agree bit for bit at boundary
    (p, n) combos). The k-th and (k-1)-th smallest of each window
    ``[max(0, i-w+1), i+1)`` come from one wavelet-matrix descent, so
    the cost is O(n log n) per series at any width."""
    n = len(x)
    sv, zeros = _wavelet_matrix(x)
    e = np.arange(1, n + 1)
    s = np.maximum(e - width, 0)
    seen = np.concatenate([[0], np.cumsum(~np.isnan(x))])
    n_obs = seen[e] - seen[s]
    pos = np.maximum(n_obs, 1)
    gate_ok = n_obs >= max(min_obs, 1)
    out = np.empty((n, len(pps)))
    for j, pp in enumerate(pps):
        c = _equal_weight_c(pos, pp)
        k = pos - c
        val_hi = sv[_wm_select(zeros, s, e, k)]
        val_lo = sv[_wm_select(zeros, s, e, np.maximum(k - 1, 0))]
        with np.errstate(invalid="ignore", divide="ignore"):
            exact = np.abs(c / pos - pp) <= SQRT_EPS
        # k <= n_obs - 1, so the (k-1)-th smallest is always observed
        q = np.where(exact & (k >= 1), (val_hi + val_lo) / 2.0, val_hi)
        out[:, j] = np.where(gate_ok, q, np.nan)
    return out


def conv_quantile(x, width, p, weights=None, min_obs=None, na_restore=False):
    """Exact weighted HF2-style quantile (roll_vec.h:1956-2095):
    :func:`conv_quantiles` at the single probability ``p``."""
    return conv_quantiles(x, width, [p], weights=weights, min_obs=min_obs,
                          na_restore=na_restore)[:, 0]


def conv_quantiles(x, width, ps, weights=None, min_obs=None, na_restore=False):
    """Exact weighted HF2-style quantiles at every probability in ``ps``
    as one (n, len(ps)) array; column j is bit-identical to
    ``conv_quantile(x, width, ps[j], ...)``.

    Equal weights select order statistics from one wavelet matrix per
    series (_quantiles_equal): O(n log n) per series and per
    probability, independent of the width. Weights depend on each
    slot's lag, so they cannot live in a static structure: the weighted
    path sorts every strided width-window and scans the slot weights
    from the top (_quantile_block_multi). Its sort is shared across
    probabilities (O(w log w + k·w) per row for k probabilities), and
    rows run in _win_block(width) blocks because the scan materializes
    several (rows x width) float64 intermediates — a 10^6-row series at
    width 10^3 would otherwise allocate ~50 GB in one shot. Per-row
    outputs are independent, so blocking is exact.
    """
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    out = np.full((n, len(ps)), np.nan)
    if n == 0 or not ps:
        return _restore_cols(out, x, na_restore)
    pps = [1.0 - p for p in ps]
    if weights is None:
        return _restore_cols(_quantiles_equal(x, width, pps, min_obs), x, na_restore)
    wts_full = _kernel(weights, width)[::-1]  # oldest-first slot weights
    # pad front so every row has a width-window; pads are NaN (excluded)
    pad = np.full(width - 1, np.nan)
    xp = np.concatenate([pad, x])
    block = _win_block(width)
    for b0 in range(0, n, block):
        b1 = min(n, b0 + block)
        out[b0:b1] = _quantile_block_multi(xp, b0, b1, width, pps, wts_full, min_obs)
    return _restore_cols(out, x, na_restore)


def _restore_cols(out, x, na_restore):
    if na_restore:
        for j in range(out.shape[1]):
            out[:, j] = _restore(out[:, j], x, True)
    return out


def conv_lm_k(X, y, width, weights=None, min_obs=None, intercept=True):
    """Rolling k-regressor OLS: rolling XtX/Xty via convolutions + one
    batched np.linalg.solve — the reference's two-phase shape
    (src/roll.cpp:2069-2117) with phase 2 vectorized across rows.

    X: (n, k) float64; y: (n,). Rows with any NA across (X, y) are
    excluded everywhere (complete_obs forced TRUE). Returns dict:
    coef (n, k), intercept (n,), r2 (n,), se (n, k), se_intercept (n,).
    """
    X = np.asarray(X, dtype=np.float64)
    if X.ndim == 1:
        X = X[:, None]
    y = np.asarray(y, dtype=np.float64)
    n, k = X.shape
    min_obs = width if min_obs is None else min_obs
    df_fit = k + 1 if intercept else k
    ok = ~np.isnan(X).any(axis=1) & ~np.isnan(y)
    okf = ok.astype(np.float64)
    # RAW centered crossprod moments (src/roll.cpp:2069-2087): the lm
    # normal equations use sum(w (x-mx)(x-mx)) undivided — that's what
    # makes se equal stats::lm's. Centered moments come from the exact
    # per-window two-pass (_pair_window_moments) under the complete_obs
    # row mask, so a constant regressor gives A_jj EXACTLY 0 and hits the
    # singular-system NA path just like arma::solve(no_approx).
    if intercept:
        # one fused blocked sweep over the (X | y) matrix replaces the
        # k(k+1)/2 + k + 1 independent pair passes (mask + strided views
        # rebuilt once per block, not once per pair)
        M = np.where(ok[:, None], np.column_stack([X, y]), np.nan)
        n_obs, sum_w, _, mu, SS = _matrix_window_moments(M, width, weights)
        A = SS[:, :k, :k]
        b = SS[:, :k, k]
        var_y = SS[:, k, k]
        mx = mu[:, :k]
        my = mu[:, k]
    else:
        Xv = np.where(ok[:, None], X, 0.0)
        yv = np.where(ok, y, 0.0)
        h = _kernel(weights, width)
        n_obs = np.rint(_rollconv(okf, np.ones(width))).astype(np.int64)
        sum_w = _rollconv(okf, h)
        A = np.zeros((n, k, k))
        for j in range(k):
            for l in range(j, k):
                c = _rollconv(Xv[:, j] * Xv[:, l], h)
                A[:, j, l] = c
                A[:, l, j] = c
        b = np.stack([_rollconv(Xv[:, j] * yv, h) for j in range(k)], axis=1)
        var_y = _rollconv(yv * yv, h)

    res = {
        "coef": np.full((n, k), np.nan),
        "intercept": np.full(n, np.nan),
        "r2": np.full(n, np.nan),
        "se": np.full((n, k), np.nan),
        "se_intercept": np.full(n, np.nan),
    }
    valid = (n_obs >= max(min_obs, df_fit)) & (n_obs > 1) & np.isfinite(A).all(axis=(1, 2)) & np.isfinite(b).all(axis=1)
    if not valid.any():
        return res
    Av, bv = A[valid], b[valid]
    # singular rows -> NA (arma::solve no_approx behaviour)
    dets = np.linalg.det(Av)
    solvable = np.abs(dets) > 0
    coef = np.full_like(bv, np.nan)
    Ainv = np.full_like(Av, np.nan)
    if solvable.any():
        coef[solvable] = np.linalg.solve(Av[solvable], bv[solvable])
        Ainv[solvable] = np.linalg.inv(Av[solvable])
    idx = np.where(valid)[0]
    res["coef"][idx] = coef
    vy = var_y[idx]
    bAb = np.einsum("ij,ijk,ik->i", coef, Av, coef)
    with np.errstate(invalid="ignore", divide="ignore"):
        # two-pass var_y is exactly 0 on a constant response, so the
        # reference's plain absolute eps gate applies (roll_mat.h:5573)
        r2 = np.where(vy > EPS, bAb / vy, np.nan)
    res["r2"][idx] = r2
    df_resid = n_obs[idx] - df_fit
    with np.errstate(invalid="ignore", divide="ignore"):
        var_resid = np.where(df_resid > 0, (1 - r2) * vy / df_resid, np.nan)
        diagAinv = np.einsum("ijj->ij", Ainv)
        res["se"][idx] = np.sqrt(var_resid[:, None] * diagAinv)
        if intercept:
            mxv = mx[idx]
            res["intercept"][idx] = my[idx] - np.einsum("ij,ij->i", mxv, coef)
            quad = np.einsum("ij,ijk,ik->i", mxv, Ainv, mxv)
            res["se_intercept"][idx] = np.sqrt(var_resid * (1 / sum_w[idx] + quad))
    # rows that were valid but singular keep NaN coef; blank their r2 too
    bad = idx[~solvable]
    for key in res:
        if res[key].ndim == 1:
            res[key][bad] = np.nan
        else:
            res[key][bad] = np.nan
    return res


# ---------------------------------------------------------------------------
# online recursions (sequential, O(1)/row) — the reference's online family
# ---------------------------------------------------------------------------



def _check_carry_width(hist, width, kernel: str) -> None:
    """A restored carry longer than the window means the stream resumed
    with a SMALLER width than the checkpointed one. Unlike stream_roll
    (whose raw-value carry lets it truncate and recover), the running
    sums / multisets these kernels carry are tied to the old width —
    silently continuing would produce wrong values, so fail loudly."""
    if len(hist) > width:
        raise ValueError(
            f"{kernel}: state width mismatch — restored carry holds "
            f"{len(hist)} trailing values but width={width}; resuming a "
            "stream with a smaller width than its checkpoint is not "
            "supported (restart from a fresh checkpoint)"
        )


def online_mean(x, width, weights=None, min_obs=None, na_restore=False,
                state: dict | None = None):
    """Lambda-recursion weighted mean (roll_vec.h:814-927).

    ``state`` carries (sum_w, sum_x, n_obs, tail values) across chunk
    boundaries for the skew path; pass the dict returned by a previous
    call on the preceding chunk of the same series.
    """
    x = np.asarray(x, dtype=np.float64)
    min_obs = width if min_obs is None else min_obs
    w = np.ones(width) if weights is None else np.asarray(weights, dtype=np.float64)[-width:]
    lam = 1.0 if width == 1 or len(w) < 2 else w[-2] / w[-1]
    n = len(x)
    out = np.full(n, np.nan)
    if state is None:
        sum_w = sum_x = 0.0
        n_obs = 0
        hist = []  # trailing width-1 values for eviction
    else:
        sum_w, sum_x, n_obs = state["sum_w"], state["sum_x"], state["n_obs"]
        hist = list(state["hist"])
        _check_carry_width(hist, width, "online_mean")
    for i in range(n):
        xi = x[i]
        is_na = np.isnan(xi)
        if not is_na:
            n_obs += 1
            sum_w = lam * sum_w + w[-1]
            sum_x = lam * sum_x + w[-1] * xi
        else:
            sum_w = lam * sum_w
            sum_x = lam * sum_x
        hist.append(xi)
        if len(hist) > width:
            old = hist.pop(0)
            if not np.isnan(old):
                n_obs -= 1
                # weight of the evicted slot after this step's decay: w[-width]*lam
                sum_w -= lam * w[0]
                sum_x -= lam * w[0] * old
        if (not na_restore or not is_na) and n_obs >= min_obs and sum_w != 0:
            out[i] = sum_x / sum_w
    final_state = {"sum_w": sum_w, "sum_x": sum_x, "n_obs": n_obs, "hist": hist[-(width):]}
    return out, final_state


def conv_cov_matrix(
    X, width, weights=None, min_obs=None, center=True, scale=False,
    complete_obs=True,
):
    """Rolling k x k covariance (or correlation) matrix per row — the
    reference's cube output for matrix input (cube allocation
    src/roll.cpp:1366; symmetric kernels roll_mat.h:3314-3659).

    complete_obs=TRUE semantics (the reference default for cov/cor,
    R/roll.R:712): a row with ANY missing column is excluded from every
    pair's window. Computes the lower triangle only and mirrors — the
    reference's own work-halving (src/roll.cpp:1425, roll_mat.h:4745).

    complete_obs=FALSE (same R toggle; per-pair masks built at
    src/roll.cpp:103-155): each (j, l) pair is computed over its OWN
    pairwise-complete windows — a row missing column m still counts for
    every pair not involving m, so n_obs, the weight sums, and the
    means all differ per pair.

    Returns (n, k, k) float64 with NaN where gated; scale=True emits the
    correlation matrix with the reference's raw-sumsq eps gates and
    as-computed diagonal (roll_vec.h:3762-3773).
    """
    X = np.asarray(X, dtype=np.float64)
    n, k = X.shape
    min_obs = width if min_obs is None else min_obs
    if not complete_obs:
        return _conv_cov_matrix_pairwise(X, width, weights, min_obs, center, scale)
    ok = ~np.isnan(X).any(axis=1)
    okf = ok.astype(np.float64)
    if center:
        # exact per-window two-pass centered (co)moments under the
        # complete_obs row mask, all pairs in one fused blocked sweep
        # (see _matrix_window_moments): constant columns give exactly 0
        # on the diagonal, so the scale=True eps gate is the reference's
        # plain absolute eps
        Xm = np.where(ok[:, None], X, np.nan)
        n_obs, sum_w, sumsq_w, _, ss = _matrix_window_moments(Xm, width, weights)
    else:
        Xv = np.where(ok[:, None], X, 0.0)
        h = _kernel(weights, width)
        n_obs = np.rint(_rollconv(okf, np.ones(width))).astype(np.int64)
        sum_w = _rollconv(okf, h)
        sumsq_w = _rollconv(okf, h * h)
        ss = np.empty((n, k, k))
        for j in range(k):
            for l in range(j, k):
                c = _rollconv(Xv[:, j] * Xv[:, l], h)
                ss[:, j, l] = c
                ss[:, l, j] = c
    with np.errstate(invalid="ignore", divide="ignore"):
        denom = (sum_w - sumsq_w / sum_w)[:, None, None]
        gate = (n_obs > 1) & (n_obs >= min_obs)
        if scale:  # correlation matrix
            d = np.sqrt(np.einsum("ijj->ij", ss))
            out = ss / (d[:, :, None] * d[:, None, :])
            # eps gate on the raw centered sums of squares (roll_vec.h:4112)
            bad = np.einsum("ijj->ij", ss) <= EPS
            out[bad[:, :, None] | bad[:, None, :]] = np.nan
        else:
            out = ss / denom
    out[~gate] = np.nan
    return out


def _conv_cov_matrix_pairwise(X, width, weights, min_obs, center, scale):
    """complete_obs=FALSE cube: per-pair pairwise-complete windows.

    Runs the exact two-pass pair kernel (_pair_window_moments) once per
    lower-triangle pair — the same per-pair masking the reference builds
    at src/roll.cpp:103-155. Each call is fully vectorized over rows,
    so cost is k(k+1)/2 blocked sweeps (the price of per-pair masks;
    the fused single sweep only exists because complete_obs=TRUE lets
    every pair share one observation mask).
    """
    n, k = X.shape
    out = np.empty((n, k, k))
    for j in range(k):
        for l in range(j, k):
            c = _pairwise_cell(
                X[:, j], X[:, l] if l != j else None, width, weights,
                min_obs, center, scale,
            )
            out[:, j, l] = c
            out[:, l, j] = c
    return out


def _pairwise_cell(xj, xl, width, weights, min_obs, center, scale):
    """One pairwise-complete (co)variance series; xl=None -> variance."""
    if center:
        n_o, s_w, sq_w, ssx, ssy, ssxy, _, _ = _pair_window_moments(
            xj, xl, width, weights
        )
    else:
        h = _kernel(weights, width)
        ok = ~np.isnan(xj) if xl is None else (~np.isnan(xj) & ~np.isnan(xl))
        okf = ok.astype(np.float64)
        xv = np.where(ok, xj, 0.0)
        yv = xv if xl is None else np.where(ok, xl, 0.0)
        n_o = np.rint(_rollconv(okf, np.ones(width))).astype(np.int64)
        s_w = _rollconv(okf, h)
        sq_w = _rollconv(okf, h * h)
        ssx = _rollconv(xv * xv, h)
        ssy = ssx if xl is None else _rollconv(yv * yv, h)
        ssxy = ssx if xl is None else _rollconv(xv * yv, h)
    with np.errstate(invalid="ignore", divide="ignore"):
        if scale:
            c = ssxy / np.sqrt(ssx * ssy)
            c = np.where((ssx <= EPS) | (ssy <= EPS), np.nan, c)
        else:
            c = ssxy / (s_w - sq_w / s_w)
    return np.where((n_o > 1) & (n_o >= min_obs), c, np.nan)


def conv_cov_xy_matrix(
    X, Y, width, weights=None, min_obs=None, center=True, complete_obs=True
):
    """Rolling k_x x k_y CROSS-covariance cube for an (x, y) matrix pair —
    the reference's non-symmetric cube when roll_cov is called with both
    x and y matrices (allocation src/roll.cpp:1661-1679, kernel
    roll_mat.h:3659).

    complete_obs=TRUE semantics across BOTH matrices: a row with any
    missing column in X or Y is excluded from every pair's window
    (reference any_na over the joined matrix, src/roll.cpp:1625-1659).
    complete_obs=FALSE: each (j, l) cross pair over its own
    pairwise-complete windows (per-pair masks, src/roll.cpp:103-155).
    Returns (n, k_x, k_y) float64 with NaN where gated.
    """
    X = np.asarray(X, dtype=np.float64)
    Y = np.asarray(Y, dtype=np.float64)
    n, kx = X.shape
    ky = Y.shape[1]
    min_obs = width if min_obs is None else min_obs
    if not complete_obs:
        out = np.empty((n, kx, ky))
        for j in range(kx):
            for l in range(ky):
                out[:, j, l] = _pairwise_cell(
                    X[:, j], Y[:, l], width, weights, min_obs, center, False
                )
        return out
    ok = ~np.isnan(X).any(axis=1) & ~np.isnan(Y).any(axis=1)
    M = np.where(ok[:, None], np.column_stack([X, Y]), np.nan)
    if center:
        n_obs, sum_w, sumsq_w, _, SS = _matrix_window_moments(M, width, weights)
        ss = SS[:, :kx, kx:]
    else:
        Mv = np.where(ok[:, None], np.column_stack([X, Y]), 0.0)
        h = _kernel(weights, width)
        okf = ok.astype(np.float64)
        n_obs = np.rint(_rollconv(okf, np.ones(width))).astype(np.int64)
        sum_w = _rollconv(okf, h)
        sumsq_w = _rollconv(okf, h * h)
        ss = np.empty((n, kx, ky))
        for j in range(kx):
            for l in range(ky):
                ss[:, j, l] = _rollconv(Mv[:, j] * Mv[:, kx + l], h)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = ss / (sum_w - sumsq_w / sum_w)[:, None, None]
    out[~((n_obs > 1) & (n_obs >= min_obs))] = np.nan
    return out


def online_sum(x, width, weights=None, min_obs=None, na_restore=False,
               state: dict | None = None):
    """Lambda-recursion weighted sum (reference RollSumOnlineVec,
    roll_vec.h:383-511), with chunk-boundary ``state`` like online_mean."""
    x = np.asarray(x, dtype=np.float64)
    min_obs = width if min_obs is None else min_obs
    w = np.ones(width) if weights is None else np.asarray(weights, dtype=np.float64)[-width:]
    lam = 1.0 if width == 1 or len(w) < 2 else w[-2] / w[-1]
    n = len(x)
    out = np.full(n, np.nan)
    if state is None:
        sum_x = 0.0
        n_obs = 0
        hist = []
    else:
        sum_x, n_obs, hist = state["sum_x"], state["n_obs"], list(state["hist"])
        _check_carry_width(hist, width, "online_sum")
    for i in range(n):
        xi = x[i]
        is_na = np.isnan(xi)
        sum_x = lam * sum_x
        if not is_na:
            n_obs += 1
            sum_x += w[-1] * xi
        hist.append(xi)
        if len(hist) > width:
            old = hist.pop(0)
            if not np.isnan(old):
                n_obs -= 1
                sum_x -= lam * w[0] * old
        if (not na_restore or not is_na) and n_obs >= min_obs:
            out[i] = sum_x
    return out, {"sum_x": sum_x, "n_obs": n_obs, "hist": hist[-width:]}


def online_var(x, width, min_obs=None, na_restore=False,
               state: dict | None = None):
    """Equal-weight online variance: Welford insert + reverse-Welford
    eviction (the reference's online kernel keeps the same running
    (mean, M2) pair in long doubles, roll_vec.h:2114-2425). The engine's
    production path is the exact two-pass conv_var; this sequential twin
    exists to (a) prove online == offline the way the reference's test
    suite does and (b) carry state across chunk/stream boundaries."""
    x = np.asarray(x, dtype=np.float64)
    min_obs = width if min_obs is None else min_obs
    n = len(x)
    out = np.full(n, np.nan)
    if state is None:
        n_obs, mean, M2 = 0, 0.0, 0.0
        hist = []
    else:
        n_obs, mean, M2 = state["n_obs"], state["mean"], state["M2"]
        hist = list(state["hist"])
        _check_carry_width(hist, width, "online_var")
    for i in range(n):
        xi = x[i]
        is_na = np.isnan(xi)
        if not is_na:
            n_obs += 1
            d = xi - mean
            mean += d / n_obs
            M2 += d * (xi - mean)
        hist.append(xi)
        if len(hist) > width:
            old = hist.pop(0)
            if not np.isnan(old):
                if n_obs == 1:
                    n_obs, mean, M2 = 0, 0.0, 0.0
                else:
                    d = old - mean
                    mean = (n_obs * mean - old) / (n_obs - 1)
                    M2 -= d * (old - mean)
                    n_obs -= 1
        if (not na_restore or not is_na) and n_obs >= max(min_obs, 2):
            v = M2 / (n_obs - 1)
            out[i] = v if v > EPS else (0.0 if v > -EPS else np.nan)
    return out, {"n_obs": n_obs, "mean": mean, "M2": M2, "hist": hist[-width:]}


def online_cov(x, y, width, min_obs=None, na_restore=False,
               state: dict | None = None):
    """Equal-weight online covariance: bivariate Welford co-moment with
    eviction (reference RollCovOnlineVecXY, roll_vec.h:3801-4152;
    pairwise-complete rows only)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    min_obs = width if min_obs is None else min_obs
    n = len(x)
    out = np.full(n, np.nan)
    if state is None:
        n_obs, mx, my, C = 0, 0.0, 0.0, 0.0
        hist = []
    else:
        n_obs, mx, my, C = state["n_obs"], state["mx"], state["my"], state["C"]
        hist = list(state["hist"])
        _check_carry_width(hist, width, "online_cov")
    for i in range(n):
        xi, yi = x[i], y[i]
        ok = not (np.isnan(xi) or np.isnan(yi))
        if ok:
            n_obs += 1
            dx = xi - mx
            mx += dx / n_obs
            my += (yi - my) / n_obs
            C += dx * (yi - my)
        hist.append((xi, yi))
        if len(hist) > width:
            ox, oy = hist.pop(0)
            if not (np.isnan(ox) or np.isnan(oy)):
                if n_obs == 1:
                    n_obs, mx, my, C = 0, 0.0, 0.0, 0.0
                else:
                    dx = ox - mx
                    mx = (n_obs * mx - ox) / (n_obs - 1)
                    my_new = (n_obs * my - oy) / (n_obs - 1)
                    C -= dx * (oy - my_new)
                    my = my_new
                    n_obs -= 1
        if (not na_restore or not (np.isnan(xi) or np.isnan(yi))) \
                and n_obs >= max(min_obs, 2):
            out[i] = C / (n_obs - 1)
    return out, {"n_obs": n_obs, "mx": mx, "my": my, "C": C, "hist": hist[-width:]}


def online_quantile(x, width, p, min_obs=None, na_restore=False,
                    state: dict | None = None):
    """EQUAL-WEIGHT online rolling quantile via the reference's dual
    multiset (RollQuantileOnlineVec, roll_vec.h:1694-1953): a `lower`
    set holding the smallest m order statistics and an `upper` set
    holding the rest, rebalanced as the window slides, so each row costs
    one O(log w) search + an O(w)-memmove splice (Python lists stand in
    for std::multiset: the search is bisect, the splice is a C memmove —
    in practice far below the offline kernel's O(w log w) sort per row).

    Exponential/arbitrary weights intentionally revert to the offline
    kernel, exactly like the reference (the commented-out block at
    roll_vec.h:1735-1760 documents that its online quantile is
    equal-weight only). Emission is HF2, identical to conv_quantile:
    c = max(1, ceil(n(1-p))), hi = sorted[n-c], averaged with
    sorted[n-c-1] on an exact mass tie.
    """
    from bisect import bisect_right, insort

    x = np.asarray(x, dtype=np.float64)
    min_obs = width if min_obs is None else min_obs
    n = len(x)
    out = np.full(n, np.nan)
    if state is None:
        lower: list = []   # smallest m observed values, sorted
        upper: list = []   # the rest, sorted
        hist = []
    else:
        lower, upper = list(state["lower"]), list(state["upper"])
        hist = list(state["hist"])
        _check_carry_width(hist, width, "online_quantile")
    pp = 1.0 - p
    for i in range(n):
        xi = x[i]
        is_na = np.isnan(xi)
        if not is_na:
            if lower and xi <= lower[-1]:
                insort(lower, xi)
            else:
                insort(upper, xi)
        hist.append(xi)
        if len(hist) > width:
            old = hist.pop(0)
            if not np.isnan(old):
                j = bisect_right(lower, old) - 1
                if 0 <= j < len(lower) and lower[j] == old:
                    del lower[j]
                else:
                    j = bisect_right(upper, old) - 1
                    del upper[j]
        n_obs = len(lower) + len(upper)
        if n_obs:
            # smallest c with fl64(c/n) >= pp — the same division
            # predicate as the offline scan (see _equal_weight_c)
            c = max(1, int(np.ceil(pp * n_obs)))
            if c > 1 and (c - 1) / n_obs >= pp:
                c -= 1
            elif c < n_obs and c / n_obs < pp:
                c += 1
            c = min(c, n_obs)
            m = n_obs - c + 1  # lower must hold the m smallest
            while len(lower) < m:
                v = upper.pop(0)
                lower.append(v)
            while len(lower) > m:
                v = lower.pop()
                insort(upper, v)
        if (not na_restore or not is_na) and n_obs >= max(min_obs, 1):
            hi = lower[-1]
            exact = abs(c / n_obs - pp) <= SQRT_EPS
            if exact and len(lower) >= 2:
                out[i] = (hi + lower[-2]) / 2.0
            else:
                out[i] = hi
    return out, {"lower": lower, "upper": upper, "hist": hist[-width:]}


# ---------------------------------------------------------------------------
# robust dispersion: rolling MAD
# ---------------------------------------------------------------------------


def conv_mad(x, width, weights=None, min_obs=None, na_restore=False):
    """Rolling median absolute deviation: median(|x - median(win)|) over
    each trailing width-window (no 1.4826 normal-consistency constant —
    raw MAD, matching DuckDB's ``mad()``). Both medians are the
    interpolated (quantile_cont) form: mean of the two middle order
    statistics at even n — the robust-dispersion convention, distinct
    from the reference's HF2 selection quantile (conv_quantile), which
    stays the ``roll_quantile`` contract.

    Weighted MAD has no agreed definition; weights are rejected rather
    than silently ignored. Strided-block evaluation like conv_quantile:
    per-block peak memory is O(block x width), rows are independent.
    """
    if weights is not None:
        raise ValueError("conv_mad: weighted MAD is not defined; weights must be None")
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    out = np.full(n, np.nan)
    if n == 0:
        return out
    width = min(width, n)  # windows past the series start are NaN pads
    pad = np.full(width - 1, np.nan)
    xp = np.concatenate([pad, x])
    block = _win_block(width)

    def _med_rows(sorted_rows, n_obs, rows):
        # interpolated median of the first n_obs sorted slots per row
        # (NaNs sort last, so observed values occupy slots [0, n_obs))
        pos = np.maximum(n_obs, 1)
        lo = (pos - 1) // 2
        hi = pos // 2
        return (sorted_rows[rows, lo] + sorted_rows[rows, hi]) / 2.0

    for b0 in range(0, n, block):
        b1 = min(n, b0 + block)
        wins = np.lib.stride_tricks.sliding_window_view(xp[b0 : b1 + width - 1], width)
        n_obs = width - np.isnan(wins).sum(axis=1)
        rows = np.arange(b1 - b0)
        # two vectorized sorts + gathers — NOT np.nanmedian, whose
        # NaN-containing multi-dim path degenerates to a per-row python
        # loop (apply_along_axis)
        med = _med_rows(np.sort(wins, axis=1), n_obs, rows)
        dev = np.abs(wins - med[:, None])  # NaN slots stay NaN, sort last
        mad = _med_rows(np.sort(dev, axis=1), n_obs, rows)
        out[b0:b1] = np.where(n_obs >= max(min_obs, 1), mad, np.nan)
    return _restore(out, x, na_restore)


# ---------------------------------------------------------------------------
# third and fourth standardized moments: rolling skewness / kurtosis
# ---------------------------------------------------------------------------


def conv_skew_kurt(x, width, min_obs=None, na_restore=False):
    """Bias-corrected rolling skewness G1, excess kurtosis G2 and the
    Jarque-Bera statistic JB = n/6 (g1^2 + g2^2/4) as an (n, 3) array.

    Central moments M_k = sum (x - mean)^k are two-pass over each
    window about the window's own mean, so they carry no power-sum
    cancellation (a drifting series puts the window mean far from any
    fixed centre, where raw power sums lose ~(offset/sd)^k digits).
    NaN (NULL) when n_obs < 3 (G1) / < 4 (G2, JB), when M2 <= eps
    (constant window), or under the min_obs gate. Rows run in
    _win_block blocks of strided windows, never wider than the series.
    """
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    out = np.full((n, 3), np.nan)
    w = max(1, min(width, n))  # windows past the series start are NaN pads
    xp = np.concatenate([np.full(w - 1, np.nan), x])
    block = _win_block(w)
    for b0 in range(0, n, block):
        b1 = min(n, b0 + block)
        wins = np.lib.stride_tricks.sliding_window_view(xp[b0 : b1 + w - 1], w)
        ok = ~np.isnan(wins)
        k = ok.sum(axis=1)
        nf = k.astype(np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            mu = np.where(ok, wins, 0.0).sum(axis=1) / nf
            # else a constant window at large |x| can leave M2 = n·d² > eps
            mu = _pin_constant(mu, wins, ok)
            d = np.where(ok, wins - mu[:, None], 0.0)
            d2 = d * d
            m2, m3, m4 = d2.sum(axis=1), (d2 * d).sum(axis=1), (d2 * d2).sum(axis=1)
            g1 = m3 * np.sqrt(nf) / m2**1.5
            g2 = nf * m4 / (m2 * m2) - 3.0
            ok3 = (k >= max(min_obs, 3)) & (m2 > EPS)
            ok4 = ok3 & (k >= 4)
            out[b0:b1, 0] = np.where(ok3, g1 * np.sqrt(nf * (nf - 1)) / (nf - 2), np.nan)
            out[b0:b1, 1] = np.where(
                ok4, ((nf + 1) * g2 + 6) * (nf - 1) / ((nf - 2) * (nf - 3)), np.nan)
            out[b0:b1, 2] = np.where(ok4, nf / 6 * (g1 * g1 + g2 * g2 / 4), np.nan)
    return _restore_cols(out, x, na_restore)


# ---------------------------------------------------------------------------
# irregular-time exponential decay: EWMA over event time
# ---------------------------------------------------------------------------


def conv_ewma_time(x, t_us, halflife_s, min_obs=1, na_restore=False):
    """Time-decay EWMA over irregularly-spaced events (adjusted form):

        ewma_i = sum_{j<=i} x_j exp(-lam (t_i - t_j)) / sum exp(-lam (t_i - t_j))

    with lam = ln2 / halflife. The reference's exp-decay weights are
    ROW-indexed (roll_check.h:50-94 classifies a width-long weight
    vector); transcript streams are irregular in time, so the decay here
    follows the actual timestamp gaps — the natural "recent turns
    matter" statistic for conversation telemetry.

    Vectorized blocked scan, NOT a per-row Python loop: within a block
    rebased at its first timestamp, num_i = exp(-lam dt_i) * cumsum(x_j
    exp(lam dt_j)) (one exp + one cumsum per block); blocks are split so
    lam * span <= _EWMA_MAX_EXPONENT, which caps every exponent (no
    overflow) while the mass truncated at a block boundary is below
    exp(-40) ~ 4e-18 relative — under float64 resolution. Carry across
    blocks is a 2-number state (num, den) decayed to each new row.
    NaN observations contribute to neither numerator nor denominator
    (observed-mass convention); outputs gate on the EXPANDING observed
    count >= min_obs.
    """
    out, _ = online_ewma_time(x, t_us, halflife_s, min_obs=min_obs)
    return _restore(out, np.asarray(x, dtype=np.float64), na_restore)


def online_ewma_time(x, t_us, halflife_s, min_obs=1, state=None,
                     emit="ratio"):
    """State-carrying form of :func:`conv_ewma_time` for streaming:
    the carry is THREE numbers — (num, den) valued at the last seen
    timestamp plus the running observed count — so a live transcript
    stream folds each micro-batch through the same blocked vectorized
    scan and resumes exactly where the previous batch left off
    (tests/test_streaming_rolling.py proves stream ≡ batch).

    Returns ``(out, state)`` with ``state = {num, den, t, n_obs}``
    (t in SECONDS — float64 holds µs exactly for ~285 years)."""
    _EWMA_MAX_EXPONENT = 40.0
    x = np.asarray(x, dtype=np.float64)
    t = np.asarray(t_us, dtype=np.float64) / 1e6  # seconds
    n = len(x)
    out = np.full(n, np.nan)
    lam = np.log(2.0) / float(halflife_s)
    if state is not None:
        num_c, den_c, t_c = state["num"], state["den"], state["t"]
        obs0 = int(state["n_obs"])
    else:
        num_c, den_c, t_c = 0.0, 0.0, (t[0] if n else 0.0)
        obs0 = 0
    if n == 0:
        return out, {"num": num_c, "den": den_c, "t": t_c, "n_obs": obs0}
    obs = ~np.isnan(x)
    x0 = np.where(obs, x, 0.0)
    obs_cum = np.cumsum(obs) + obs0
    b0 = 0
    max_span = _EWMA_MAX_EXPONENT / lam
    while b0 < n:
        b1 = min(int(np.searchsorted(t, t[b0] + max_span, side="right")), b0 + 65536, n)
        b1 = max(b1, b0 + 1)
        tb = t[b0:b1]
        base = tb[0]
        up = np.exp(lam * (tb - base))          # <= e^40, no overflow
        down = np.exp(-lam * (tb - base))
        num_w = down * np.cumsum(x0[b0:b1] * up)
        den_w = down * np.cumsum(obs[b0:b1] * up)
        decay = np.exp(-lam * (tb - t_c))       # carry decayed to each row
        num = num_c * decay + num_w
        den = den_c * decay + den_w
        if emit == "count":
            # the denominator IS the decayed observation count
            res = den
        else:
            with np.errstate(invalid="ignore", divide="ignore"):
                res = np.where(den > 0.0, num / den, np.nan)
        out[b0:b1] = np.where(obs_cum[b0:b1] >= max(min_obs, 1), res, np.nan)
        num_c, den_c, t_c = float(num[-1]), float(den[-1]), float(tb[-1])
        b0 = b1
    return out, {"num": num_c, "den": den_c, "t": t_c,
                 "n_obs": obs0 + int(obs.sum())}



def conv_decayed_count(t_us, halflife_s, min_obs=1):
    """Time-decayed event count: S_i = sum_{j<=i} 2^(-(t_i - t_j)/halflife)
    over the series' events — the activity/recency score of an event
    stream (agent turn rate, error burst detection). For a Poisson
    stream of rate r, E[S] = r/lam (lam = ln2/halflife), so the
    instantaneous rate estimate is lam * S events/sec. Same blocked
    rebased-cumsum scan as conv_ewma_time — this is its denominator —
    so O(n)/series and overflow-free at any halflife."""
    ones = np.ones(len(t_us), dtype=np.float64)
    out, _ = online_ewma_time(ones, t_us, halflife_s, min_obs=min_obs,
                              emit="count")
    return out



def _padded_windows(x, width):
    """Every trailing width-window of ``x`` (NaN-padded head, pads count
    as unobserved) and its observed count."""
    xp = np.concatenate([np.full(width - 1, np.nan), np.asarray(x, dtype=np.float64)])
    wins = np.lib.stride_tricks.sliding_window_view(xp, width)
    return wins, width - np.isnan(wins).sum(axis=1)


def window_minmax(x, width, mode="min", min_obs=1):
    """Rolling min/max as one strided nan-reduce over the windows — the
    reference's monotonic-deque online min/max (roll_vec.h:1046) is an
    O(1)/row sequential refinement, but the strided reduce is faster in
    numpy than a Python-level deque."""
    out = np.full(len(x), np.nan)
    if len(x):
        wins, n_obs = _padded_windows(x, width)
        red = np.nanmin if mode == "min" else np.nanmax
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN
            res = red(wins, axis=1)
        out = np.where(n_obs >= max(min_obs, 1), res, np.nan)
    return out


def window_prod(x, width, min_obs=1):
    """Rolling product by DIRECT multiplication of each window, so zeros
    and signs are exact by construction (conv_prod's log-sum + zero/sign
    tracking mirrors the Catalyst Window form; a running product with
    eviction division would corrupt on any zero)."""
    out = np.full(len(x), np.nan)
    if len(x):
        wins, n_obs = _padded_windows(x, width)
        prod = np.where(np.isnan(wins), 1.0, wins).prod(axis=1)
        out = np.where(n_obs >= max(min_obs, 1), prod, np.nan)
    return out


def window_idxminmax(x, width, mode="min", min_obs=1, r0=0):
    """Rolling idxmin/idxmax, the contract of window_ops._idx_extreme
    (reference roll_vec.h:1345-1659): while the series is still
    expanding (global row r <= width, 1-based) the result is the 1-based
    SERIES position of the extreme; once rolling it is the 1-based
    window slot (1 = oldest, width = newest). Ties break toward the MOST
    RECENT occurrence (the reference's ``<=`` candidate compare,
    roll_vec.h:1484): argmin/argmax return the FIRST hit, so the
    reduce runs over reversed window slots. ``r0`` is the number of
    series rows before ``x[0]``."""
    out = np.full(len(x), np.nan)
    if len(x):
        wins, n_obs = _padded_windows(x, width)
        fill = np.inf if mode == "min" else -np.inf
        filled = np.where(np.isnan(wins), fill, wins)[:, ::-1]
        a = filled.argmin(axis=1) if mode == "min" else filled.argmax(axis=1)
        slot = width - 1 - a  # back to original orientation, 0 = oldest
        r = int(r0) + 1 + np.arange(len(x), dtype=np.int64)  # global 1-based rows
        idx = slot + 1 + np.minimum(r - width, 0)
        out = np.where(n_obs >= max(min_obs, 1), idx.astype(np.float64), np.nan)
    return out


def conv_percentrank(x, width, weights=None, min_obs=None, na_restore=False):
    """Large-width twin of the native roll_percentrank: blocked strided
    windows, one vectorized <=-comparison per block — fixed memory
    budget regardless of width (the native collect_list form holds a
    width-long array per row in JVM heap)."""
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    out = np.full(n, np.nan)
    if n == 0:
        return out
    width = min(width, n)  # windows past the series start are NaN pads
    pad = np.full(width - 1, np.nan)
    xp = np.concatenate([pad, x])
    block = _win_block(width)
    for b0 in range(0, n, block):
        b1 = min(n, b0 + block)
        wins = np.lib.stride_tricks.sliding_window_view(xp[b0 : b1 + width - 1], width)
        cur = x[b0:b1]
        n_obs = width - np.isnan(wins).sum(axis=1)
        # NaN <= cur is False, so NaN slots never count
        le = (wins <= cur[:, None]).sum(axis=1)
        ok = ~np.isnan(cur) & (n_obs >= max(min_obs, 1)) & (n_obs >= 2)
        with np.errstate(invalid="ignore", divide="ignore"):
            pr = (le - 1.0) / (n_obs - 1.0)
        out[b0:b1] = np.where(ok, pr, np.nan)
    return _restore(out, x, na_restore)


def conv_nunique(x, width, weights=None, min_obs=None, na_restore=False):
    """Large-width twin of the native roll_nunique: sort each window
    (NaNs last) and count value boundaries among the observed prefix.
    Weights have no meaning for a cardinality and are rejected."""
    if weights is not None:
        raise ValueError("conv_nunique: weighted distinct count is not defined")
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    out = np.full(n, np.nan)
    if n == 0:
        return out
    width = min(width, n)  # windows past the series start are NaN pads
    pad = np.full(width - 1, np.nan)
    xp = np.concatenate([pad, x])
    block = _win_block(width)
    for b0 in range(0, n, block):
        b1 = min(n, b0 + block)
        wins = np.lib.stride_tricks.sliding_window_view(xp[b0 : b1 + width - 1], width)
        sv = np.sort(wins, axis=1)
        n_obs = width - np.isnan(sv).sum(axis=1)
        # adjacent-inequality among observed slots; NaN != NaN is True,
        # so mask the NaN tail explicitly
        neq = (sv[:, 1:] != sv[:, :-1]) & ~np.isnan(sv[:, 1:])
        nun = neq.sum(axis=1) + (n_obs > 0)
        out[b0:b1] = np.where(n_obs >= max(min_obs, 1), nun.astype(np.float64), np.nan)
    return _restore(out, x, na_restore)


def conv_trimmed_mean(x, width, alpha=0.2, weights=None, min_obs=None,
                      na_restore=False):
    """Large-width twin of the native roll_trimmed_mean: sort each
    window (NaNs last), drop floor(alpha * n_obs) observed values from
    EACH end, average the rest via one cumsum per block. alpha in
    [0, 0.5) guarantees at least one surviving value per non-empty
    window. Weights are rejected (a weighted trimmed mean has no agreed
    definition)."""
    if weights is not None:
        raise ValueError("conv_trimmed_mean: weighted trim is not defined")
    if not 0.0 <= alpha < 0.5:
        raise ValueError(f"alpha must be in [0, 0.5), got {alpha}")
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    out = np.full(n, np.nan)
    if n == 0:
        return out
    width = min(width, n)  # windows past the series start are NaN pads
    pad = np.full(width - 1, np.nan)
    xp = np.concatenate([pad, x])
    block = _win_block(width)
    for b0 in range(0, n, block):
        b1 = min(n, b0 + block)
        wins = np.lib.stride_tricks.sliding_window_view(xp[b0 : b1 + width - 1], width)
        sv = np.sort(wins, axis=1)
        nan_mask = np.isnan(sv)
        n_obs = width - nan_mask.sum(axis=1)
        # same float64 product+floor as the Spark/DuckDB sides
        k = np.floor(alpha * n_obs).astype(np.int64)
        m = n_obs - 2 * k
        # sum the kept slice DIRECTLY via a position mask — a
        # cumsum-difference here cancels catastrophically when the
        # trimmed-away extremes dwarf the kept values (the whole point
        # of trimming is that they often do)
        pos = np.arange(width)
        keep = (pos >= k[:, None]) & (pos < (n_obs - k)[:, None]) & ~nan_mask
        # accumulate in extended precision: when the kept values cancel
        # to ~eps * sum|x| the float64 sum has no relative accuracy left
        # (reassociation order decides the low bits); an 80-bit
        # accumulator pushes that error floor ~2000x down for the cost
        # of one extra pass over the block (the sort dominates anyway).
        # On platforms where longdouble == float64 this is a no-op.
        total = (
            np.where(keep, sv, 0.0)
            .sum(axis=1, dtype=np.longdouble)
            .astype(np.float64)
        )
        ok = (n_obs >= max(min_obs, 1)) & (m >= 1)
        with np.errstate(invalid="ignore", divide="ignore"):
            out[b0:b1] = np.where(ok, total / np.maximum(m, 1), np.nan)
    return _restore(out, x, na_restore)


def _midranks_block(wins):
    """(m, w) values (NaN = excluded) -> (m, w) average (mid) ranks
    among each row's observed values; NaN slots get NaN. Fully
    vectorized: one argsort per row plus ONE global np.add.reduceat
    over the row-flattened sorted values (tie groups never cross row
    boundaries because row starts are forced group starts)."""
    m, w = wins.shape
    order = np.argsort(wins, axis=1, kind="stable")  # NaNs sort last
    sv = np.take_along_axis(wins, order, axis=1)
    nan_mask = np.isnan(sv)
    n_obs = w - nan_mask.sum(axis=1)
    pos = np.broadcast_to(
        np.arange(1, w + 1, dtype=np.float64), (m, w)
    ).ravel()
    flat = sv.ravel()
    start = np.ones(m * w, dtype=bool)
    start[1:] = flat[1:] != flat[:-1]  # NaN != NaN => each NaN own group
    start[::w] = True                   # never merge across rows
    idx = np.flatnonzero(start)
    sums = np.add.reduceat(pos, idx)
    counts = np.diff(np.append(idx, m * w))
    gid = np.cumsum(start) - 1
    ranks_sorted = (sums / counts)[gid].reshape(m, w)
    ranks_sorted[nan_mask] = np.nan
    ranks = np.empty_like(ranks_sorted)
    np.put_along_axis(ranks, order, ranks_sorted, axis=1)
    return ranks, n_obs


def conv_spearman(x, y, width, weights=None, min_obs=None, na_restore=False):
    """Rolling Spearman rank correlation (pairwise-complete, exact
    average-rank ties): Pearson over the windows' mid-ranks, centered
    two-pass so a tie-degenerate window (zero rank variance) yields an
    EXACT zero sum of squares — mid-ranks are half-integers, their sums
    are exact in float64, and IEEE division returns the representable
    mean exactly, so the ssx > 0 gate branches identically in the
    kernel and the DuckDB oracle. NaN counts as missing, like NULL.
    Weighted rank correlation has no agreed definition; weights are
    rejected."""
    if weights is not None:
        raise ValueError("conv_spearman: weighted rank correlation undefined")
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = len(x)
    out = np.full(n, np.nan)
    if n == 0:
        return out
    ok = ~np.isnan(x) & ~np.isnan(y)
    xm = np.where(ok, x, np.nan)
    ym = np.where(ok, y, np.nan)
    pad = np.full(width - 1, np.nan)
    xp = np.concatenate([pad, xm])
    yp = np.concatenate([pad, ym])
    block = _win_block(width)
    for b0 in range(0, n, block):
        b1 = min(n, b0 + block)
        wx = np.lib.stride_tricks.sliding_window_view(xp[b0 : b1 + width - 1], width)
        wy = np.lib.stride_tricks.sliding_window_view(yp[b0 : b1 + width - 1], width)
        rx, n_obs = _midranks_block(wx)
        ry, _ = _midranks_block(wy)
        pos = np.maximum(n_obs, 1)
        rx0 = np.nan_to_num(rx)
        ry0 = np.nan_to_num(ry)
        mrx = rx0.sum(axis=1) / pos
        mry = ry0.sum(axis=1) / pos
        obs = ~np.isnan(rx)
        dx = np.where(obs, rx0 - mrx[:, None], 0.0)
        dy = np.where(obs, ry0 - mry[:, None], 0.0)
        ssx = (dx * dx).sum(axis=1)
        ssy = (dy * dy).sum(axis=1)
        sxy = (dx * dy).sum(axis=1)
        gate_ok = (n_obs >= max(min_obs, 1)) & (n_obs >= 2) & (ssx > 0) & (ssy > 0)
        with np.errstate(invalid="ignore", divide="ignore"):
            out[b0:b1] = np.where(gate_ok, sxy / np.sqrt(ssx * ssy), np.nan)
    # na_restore reference: a row with EITHER input missing restores NaN
    ref = np.where(ok, 1.0, np.nan)
    return _restore(out, ref, na_restore)


def conv_entropy(codes, width, weights=None, min_obs=None, na_restore=False):
    """Rolling empirical Shannon entropy (natural log) of the EXACT
    values in each trailing window: H = -sum_v (c_v/n) ln(c_v/n).

    Takes integer category codes as float64 (NaN = missing) — the
    Spark wrapper factorizes the values batch-side. Identity used for
    vectorization: summing ln(c(e)/n) once PER ELEMENT e equals
    summing c_v ln(c_v/n) per distinct value, so per-slot counts from
    the midrank-style sorted-run machinery (one argsort + one global
    reduceat) give H in O(w log w) per row. Weights rejected (weighted
    entropy has no agreed definition here)."""
    if weights is not None:
        raise ValueError("conv_entropy: weighted entropy is not defined")
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(codes, dtype=np.float64)
    n = len(x)
    out = np.full(n, np.nan)
    if n == 0:
        return out
    width = min(width, n)  # windows past the series start are NaN pads
    pad = np.full(width - 1, np.nan)
    xp = np.concatenate([pad, x])
    block = _win_block(width)
    for b0 in range(0, n, block):
        b1 = min(n, b0 + block)
        wins = np.lib.stride_tricks.sliding_window_view(xp[b0 : b1 + width - 1], width)
        m, w = wins.shape
        sv = np.sort(wins, axis=1)
        nan_mask = np.isnan(sv)
        n_obs = w - nan_mask.sum(axis=1)
        flat = sv.ravel()
        start = np.ones(m * w, dtype=bool)
        start[1:] = flat[1:] != flat[:-1]
        start[::w] = True
        idx = np.flatnonzero(start)
        counts = np.diff(np.append(idx, m * w)).astype(np.float64)
        gid = np.cumsum(start) - 1
        c_slot = counts[gid].reshape(m, w)
        pos = np.maximum(n_obs, 1).astype(np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            terms = np.where(nan_mask, 0.0, np.log(c_slot / pos[:, None]))
            # 0.0 - s, not -s: one distinct value gives +0.0, not -0.0
            h = 0.0 - terms.sum(axis=1) / pos
        out[b0:b1] = np.where(n_obs >= max(min_obs, 1), h, np.nan)
    return _restore(out, x, na_restore)
