"""Vectorized numpy kernels for the Arrow (mapInArrow) path; each call
evaluates one whole series.

The reference computes each statistic with an online and an offline
kernel (src/roll.cpp:378-394). Streaming here (streaming/rolling.py)
carries the trailing raw window and reruns the batch kernels over
``[carry | micro-batch]``, so the engine runs only the offline family:

- ``conv_*``  offline kernels. Each window quantity is computed one
  way, by one of three shared engines, none of which allocates past
  the series length (lags >= n never reach a row, so an expanding
  window may be written as any width >= n):
  ``WindowSums``, the masked weighted window sums as 1-D convolutions
  (the rolling weighted sum with newest-last weight alignment,
  roll_vec.h:556, is exactly ``np.convolve(x, reversed(weights))``;
  an expanding equal-weight sum is O(n)); ``_matrix_window_moments``,
  the exact two-pass centred (co)moments of every column pair under
  one joint mask; and ``_windows``, the blocked trailing windows every
  strided kernel (weighted quantiles, MAD, ranks, skew/kurt, ...)
  reduces. Equal-weight quantiles select from a wavelet matrix, and
  percent rank and distinct counts count ranks on one, in O(n log n)
  at any width.
- ``online_mean`` and ``online_ewma_time``, the two sequential carries
  left. ``online_ewma_time`` is ewma's stream carry (itself a
  vectorized scan). ``online_mean``, the reference's lambda recursion
  (roll_vec.h:814), runs in no engine path; it stays as the kernel the
  stream-ingest benchmark times and as the tests' online == offline
  check.
- ``window_*`` stateless strided-window reduces (min/max, direct
  product, idxmin/idxmax) used by the streaming path.

All kernels take float64 arrays with NaN as missing and return float64
with NaN for NULL; gates (min_obs, na_restore, eps clamps) replicate
the reference emit rules exactly.
"""

from __future__ import annotations

import math
import warnings

import numpy as np

EPS = float(np.finfo(np.float64).eps)
SQRT_EPS = float(np.sqrt(EPS))


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
    """Masked weighted trailing-window sums as convolutions — the one
    masked-sum engine of every conv kernel. ``x`` is a series, or an
    (n, k) matrix whose rows count only where every column is observed
    (a column-stacked pair gets its joint mask). The taps are built at
    most n long: an expanding window may be written as any width >= n,
    and must not allocate that width. Each sum is convolved on call."""

    def __init__(self, x, width, weights=None):
        self.x = np.asarray(x, dtype=np.float64)
        ok = ~np.isnan(self.x)
        self.ok = ok if ok.ndim == 1 else ok.all(axis=1)
        self.okf = self.ok.astype(np.float64)
        taps = min(width, len(self.x))
        self.h = _kernel(weights, taps)
        self.ones = np.ones(taps)
        cols = self.x[:, None] if self.x.ndim == 1 else self.x
        # masked columns, each contiguous for np.convolve
        self._cols = np.ascontiguousarray(np.where(self.ok[:, None], cols, 0.0).T)

    def conv(self, v, h=None):
        """Window sum of ``v`` under the weights, or the taps ``h``."""
        return _rollconv(v, self.h if h is None else h)

    def count(self, mask):
        """How many slots of each window ``mask`` holds."""
        mask = mask.astype(np.float64, copy=False)
        return np.rint(self.conv(mask, self.ones)).astype(np.int64)

    def n_obs(self):
        return self.count(self.okf)

    def sum_w(self):
        return self.conv(self.okf)

    def sumsq_w(self):
        return self.conv(self.okf, self.h * self.h)

    def sum_wx(self):
        return self.conv(self._cols[0])

    def cross(self, j=0, l=0):
        """Weighted window sum of column j times column l."""
        return self.conv(self._cols[j] * self._cols[l])


def conv_sum(x, width, weights=None, min_obs=None, na_restore=False):
    min_obs = width if min_obs is None else min_obs
    s = WindowSums(x, width, weights)
    out = np.where(s.n_obs() >= min_obs, s.sum_wx(), np.nan)
    return _restore(out, s.x, na_restore)


def conv_mean(x, width, weights=None, min_obs=None, na_restore=False):
    min_obs = width if min_obs is None else min_obs
    s = WindowSums(x, width, weights)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.where(s.n_obs() >= min_obs, s.sum_wx() / s.sum_w(), np.nan)
    return _restore(out, s.x, na_restore)


def _win_block(width: int) -> int:
    """Row-block size for strided-window kernels: block x width x 8B ~ 1MB
    keeps the handful of working arrays inside L2/L3 so concurrent
    workers don't contend for DRAM bandwidth (measured: series-sized
    blocks were ~45% slower per group and capped multi-core scaling)."""
    return min(max(131072 // max(width, 1), 128), 8192)


def _windows(x, width):
    """Every trailing window of ``x`` (n values, or n rows of k), in row
    blocks: yields ``(b0, b1, wins)`` with ``wins[i]`` the window ending
    at row ``b0 + i``, oldest slot first along its last axis, so
    ``wins`` is (m, w) or (m, k, w). A window holds ``w = min(width, n)``
    slots — lags >= n never reach a row — and the head is NaN-padded
    (pads count as unobserved). Rows run in _win_block(w) blocks shared
    by the k columns; each column's slots are contiguous. Per-row
    outputs are independent, so blocking is exact."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    w = max(1, min(width, n))
    xp = np.full((n + w - 1, *x.shape[1:]), np.nan, order="F")
    xp[w - 1 :] = x
    block = max(_win_block(w) // math.prod(x.shape[1:]), 64)
    for b0 in range(0, n, block):
        b1 = min(n, b0 + block)
        yield b0, b1, np.lib.stride_tricks.sliding_window_view(
            xp[b0 : b1 + w - 1], w, axis=0
        )


def _pin_constant(mu, wins, ok):
    """Each window's mean, set to the window's value where all its
    observed values are equal (min == max): the mean of identical
    non-dyadic values is not exact in float64, and only the exact value
    gives exactly-zero deviations (rank-deficiency and zero-variance
    decisions hang on them)."""
    lo = np.where(ok, wins, np.inf).min(axis=1)
    hi = np.where(ok, wins, -np.inf).max(axis=1)
    return np.where(lo == hi, lo, mu)


def _matrix_window_moments(M, width, weights):
    """Exact two-pass weighted co-moments of ALL column pairs of ``M``
    (n, k) over every trailing window — the one centred co-moment
    engine (a series is k = 1, a pair k = 2).

    A row with ANY missing column is excluded from every window (the
    reference's any_na row mask, src/roll.cpp:125-155), so all columns
    share one observation mask; a column-stacked pair gets its
    pairwise-complete mask. Returns (n_obs, sum_w, sumsq_w, mu, SS) with
    mu (n, k) per-window weighted means (constant-window pinned, see
    _pin_constant) and SS (n, k, k) centred co-moment sums
    sum(w (a - mu_a)(b - mu_b)).

    The deviations are taken from each window's own mean, so there is
    NO uncentred-moment cancellation: constant windows give exactly 0,
    any data scale ~eps relative error — the float64 equivalent of the
    reference's long-double accumulators (roll_vec.h:410-415). The mask
    and weights are built once per block; each pair l <= j is one
    reduction of weight x deviation x deviation, mirrored to (l, j) —
    the reference's own work-halving (roll_mat.h:4745).
    """
    M = np.asarray(M, dtype=np.float64)
    n, k = M.shape
    M = np.where(np.isnan(M).any(axis=1)[:, None], np.nan, M)
    wts = _kernel(weights, min(width, n))[::-1]  # oldest-first slot weights
    n_obs = np.empty(n, dtype=np.int64)
    sum_w = np.empty(n)
    sumsq_w = np.empty(n)
    mu = np.empty((n, k))
    SS = np.empty((n, k, k))
    for b0, b1, wins in _windows(M, width):
        okm = ~np.isnan(wins[:, 0])
        sw = np.where(okm, wts, 0.0)
        swsum = sw.sum(axis=1)
        n_obs[b0:b1] = okm.sum(axis=1)
        sum_w[b0:b1] = swsum
        sumsq_w[b0:b1] = (sw * sw).sum(axis=1)
        dx = []
        for j in range(k):
            wx = wins[:, j]
            with np.errstate(invalid="ignore", divide="ignore"):
                muj = (sw * np.where(okm, wx, 0.0)).sum(axis=1) / swsum
            muj = _pin_constant(muj, wx, okm)
            mu[b0:b1, j] = muj
            dx.append(np.where(okm, wx - muj[:, None], 0.0))
            for l in range(j + 1):
                SS[b0:b1, j, l] = SS[b0:b1, l, j] = (sw * dx[l] * dx[j]).sum(axis=1)
    return n_obs, sum_w, sumsq_w, mu, SS


def _comoments(M, width, weights, center):
    """(n_obs, sum_w, sumsq_w, mu, SS) of the columns of ``M`` under
    their joint mask: SS[:, j, l] is the exact centred co-moment sum
    (center=True, _matrix_window_moments) or the raw weighted cross sum
    sum(w a b) (center=False, WindowSums; mu is then None)."""
    if center:
        return _matrix_window_moments(M, width, weights)
    s = WindowSums(M, width, weights)
    k = M.shape[1]
    SS = np.empty((len(M), k, k))
    for j in range(k):
        for l in range(j + 1):
            SS[:, j, l] = SS[:, l, j] = s.cross(j, l)
    return s.n_obs(), s.sum_w(), s.sumsq_w(), None, SS


def conv_var(x, width, weights=None, min_obs=None, na_restore=False, center=True):
    """Unbiased weighted variance: exact per-window two-pass centered sum
    of squares over the unbiased denominator sum_w - sumsq_w/sum_w, with
    the reference eps clamp (roll_vec.h:2404). The two-pass makes the
    centered sum exactly non-negative, so the negative-clamp branch of
    the reference is unreachable here by construction."""
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    out = _pairwise_cell(x, None, width, weights, min_obs, center, False)
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
        # reproduces every output bit for bit (once the series is at
        # least the width long, so batch windows are width long too).
        n_obs, sum_w, sumsq_w, mu, SS = _matrix_window_moments(x[:, None], width, weights)
        mean, ss = mu[:, 0], SS[:, 0, 0]
    else:
        s = WindowSums(x, width, weights)
        n_obs, sum_w = s.n_obs(), s.sum_w()
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = s.sum_wx() / sum_w
        if scale:
            sumsq_w, ss = s.sumsq_w(), s.cross()
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
    out = _pairwise_cell(x, y, width, weights, min_obs, center, False)
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
    n_obs, _, _, _, SS = _matrix_window_moments(np.column_stack([x, y]), width, weights)
    ssx, ssy, ssxy = SS[:, 0, 0], SS[:, 1, 1], SS[:, 0, 1]
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
    s = WindowSums(np.column_stack([x, y]), width, weights)
    out = np.where(s.n_obs() >= min_obs, s.cross(0, 1), np.nan)
    if na_restore:
        out = np.where(np.isnan(x) | np.isnan(y), np.nan, out)
    return out


def conv_prod(x, width, weights=None, min_obs=None, na_restore=False):
    """prod(w)*prod(x) with zero tracking, via log-space convolution."""
    min_obs = width if min_obs is None else min_obs
    s = WindowSums(x, width, weights)
    x, ok = s.x, s.ok
    nz = s.count(ok & (x == 0))
    nneg = s.count(ok & (x < 0))
    with np.errstate(divide="ignore", invalid="ignore"):
        logs = np.where(ok & (x != 0), np.log(np.abs(np.where(ok & (x != 0), x, 1.0))), 0.0)
    # log of weights contributes per observed slot: convolve mask with log(h)
    with np.errstate(divide="ignore"):
        log_h = np.log(s.h)
    sum_logx = s.conv(logs, s.ones)
    sum_logw = s.conv(s.okf, log_h)
    sign = np.where(nneg % 2 == 1, -1.0, 1.0)
    prod = np.where(nz > 0, 0.0, sign * np.exp(sum_logx + sum_logw))
    out = np.where(s.n_obs() >= min_obs, prod, np.nan)
    return _restore(out, x, na_restore)


def _quantile_block_multi(wins, pps, wts, min_obs):
    """HF2 scan for a block of windows ``wins`` (m, w) with oldest-first
    slot weights ``wts``, at every upper mass pp in ``pps``: sort each
    window, walk the sorted slot weights from
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
    m, width = wins.shape
    # unstable introsort matches the reference's std::sort (stl_sort_index
    # is introsort); ties carry equal values so selection is unaffected
    order = np.argsort(wins, axis=1)
    sv = np.take_along_axis(wins, order, axis=1)
    nan_mask = np.isnan(sv)
    n_obs = width - nan_mask.sum(axis=1)
    sw = np.where(nan_mask, 0.0, wts[order])
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
        # p = 1 (pp = 0) is the largest value, never averaged
        exact = (np.abs(mass_k - pp) <= SQRT_EPS) & (pp > 0.0)
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


def _window_bounds(x, width):
    """Each row's trailing window ``[s, e)`` and its observed count."""
    e = np.arange(1, len(x) + 1)
    s = np.maximum(e - width, 0)
    seen = np.concatenate([[0], np.cumsum(~np.isnan(x))])
    return s, e, seen[e] - seen[s]


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


def _wm_count(zeros, s, e, t):
    """How many positions in [s, e) hold a rank below ``t``, vectorized
    over rows: one top-down descent of the wavelet matrix. At a 1 bit
    of ``t`` the positions whose rank has a 0 there are all below it and
    are counted; the descent then follows the bit. A threshold of
    2**levels (n a power of two) lies above every rank: it counts the
    whole range up front, and its low bits, all 0, add nothing."""
    nbits = len(zeros)
    cnt = np.where(t >> nbits > 0, e - s, 0)
    for lvl, z in enumerate(zeros):
        one = (t >> (nbits - 1 - lvl)) & 1 == 1
        zs, ze = z[s], z[e]
        cnt += np.where(one, ze - zs, 0)
        s = np.where(one, z[-1] + s - zs, zs)
        e = np.where(one, z[-1] + e - ze, ze)
    return cnt


def _quantiles_equal(x, width, pps, min_obs):
    """Equal-weight HF2 selection at every upper mass in ``pps``. The
    top-down mass scan reduces to the order statistic k = n_obs - c,
    with c from _equal_weight_c (the weighted scan's own float64
    division predicate, so both paths agree bit for bit at boundary
    (p, n) combos). The k-th and (k-1)-th smallest of each window
    ``[max(0, i-w+1), i+1)`` come from one wavelet-matrix descent, so
    the cost is O(n log n) per series at any width."""
    sv, zeros = _wavelet_matrix(x)
    s, e, n_obs = _window_bounds(x, width)
    pos = np.maximum(n_obs, 1)
    gate_ok = n_obs >= max(min_obs, 1)
    out = np.empty((len(x), len(pps)))
    for j, pp in enumerate(pps):
        c = _equal_weight_c(pos, pp)
        k = pos - c
        val_hi = sv[_wm_select(zeros, s, e, k)]
        val_lo = sv[_wm_select(zeros, s, e, np.maximum(k - 1, 0))]
        with np.errstate(invalid="ignore", divide="ignore"):
            exact = (np.abs(c / pos - pp) <= SQRT_EPS) & (pp > 0.0)
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
    rows run in _windows blocks because the scan materializes
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
    wts = _kernel(weights, min(width, n))[::-1]  # oldest-first slot weights
    for b0, b1, wins in _windows(x, width):
        out[b0:b1] = _quantile_block_multi(wins, pps, wts, min_obs)
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
    # RAW centered crossprod moments (src/roll.cpp:2069-2087): the lm
    # normal equations use sum(w (x-mx)(x-mx)) undivided — that's what
    # makes se equal stats::lm's. With an intercept they are the exact
    # per-window two-pass co-moments of (X | y) under the complete_obs
    # row mask, so a constant regressor gives A_jj EXACTLY 0 and hits the
    # singular-system NA path just like arma::solve(no_approx); without
    # one, the uncentred cross sums.
    n_obs, sum_w, _, mu, SS = _comoments(np.column_stack([X, y]), width, weights, intercept)
    A = SS[:, :k, :k]
    b = SS[:, :k, k]
    var_y = SS[:, k, k]

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
    # arma::solve(no_approx): a system whose reciprocal 1-norm condition
    # number 1/(|A|_1 |A^-1|_1) is below eps (or that is exactly
    # singular, cond = inf) has no solution -> NA
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        solvable = np.linalg.cond(Av, 1) * EPS <= 1
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
            mxv = mu[idx, :k]
            res["intercept"][idx] = mu[idx, k] - np.einsum("ij,ij->i", mxv, coef)
            quad = np.einsum("ij,ijk,ik->i", mxv, Ainv, mxv)
            res["se_intercept"][idx] = np.sqrt(var_resid * (1 / sum_w[idx] + quad))
    # rows that were valid but singular keep NaN coef; blank their r2 too
    bad = idx[~solvable]
    for key in res:
        res[key][bad] = np.nan
    return res


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
    min_obs = width if min_obs is None else min_obs
    if not complete_obs:
        return _conv_cov_matrix_pairwise(X, width, weights, min_obs, center, scale)
    # all pairs in one sweep under the complete_obs row mask; centred
    # sums are exact two-pass, so constant columns give exactly 0 on the
    # diagonal and the scale=True eps gate is the reference's plain
    # absolute eps
    n_obs, sum_w, sumsq_w, _, ss = _comoments(X, width, weights, center)
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

    Runs the pair kernel (_pairwise_cell) once per lower-triangle pair — the same per-pair masking the reference builds
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
    M = xj[:, None] if xl is None else np.column_stack([xj, xl])
    n_o, s_w, sq_w, _, SS = _comoments(M, width, weights, center)
    ssx, ssy, ssxy = SS[:, 0, 0], SS[:, -1, -1], SS[:, -1, 0]
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
    if complete_obs:  # the (X, Y) block of the symmetric cube over [X | Y]
        return conv_cov_matrix(np.column_stack([X, Y]), width, weights,
                               min_obs, center)[:, :kx, kx:]
    min_obs = width if min_obs is None else min_obs
    out = np.empty((n, kx, Y.shape[1]))
    for j in range(kx):
        for l in range(Y.shape[1]):
            out[:, j, l] = _pairwise_cell(
                X[:, j], Y[:, l], width, weights, min_obs, center, False
            )
    return out


# ---------------------------------------------------------------------------
# online recursion (sequential, O(1)/row) — the reference's online mean
# ---------------------------------------------------------------------------


def _check_carry_width(hist, width, kernel: str) -> None:
    """A restored carry longer than the window means the stream resumed
    with a SMALLER width than the checkpointed one. Unlike stream_roll
    (whose raw-value carry lets it truncate and recover), the running
    sums online_mean carries are tied to the old width —
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
    w = _kernel(weights, width)[::-1]  # oldest-first slot weights
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
    out = np.full(len(x), np.nan)

    def _med_rows(sorted_rows, n_obs, rows):
        # interpolated median of the first n_obs sorted slots per row
        # (NaNs sort last, so observed values occupy slots [0, n_obs))
        pos = np.maximum(n_obs, 1)
        lo = (pos - 1) // 2
        hi = pos // 2
        return (sorted_rows[rows, lo] + sorted_rows[rows, hi]) / 2.0

    for b0, b1, wins in _windows(x, width):
        n_obs = wins.shape[1] - np.isnan(wins).sum(axis=1)
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
    (constant window), or under the min_obs gate. Rows run in _windows
    blocks.
    """
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    out = np.full((len(x), 3), np.nan)
    for b0, b1, wins in _windows(x, width):
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
    """Rolling max-rank percent rank of each row's value in its window,
    (#{v <= x_i} - 1) / (n_obs - 1): the count is one rank query on the
    series' wavelet matrix, with the threshold rank searchsorted(sorted,
    x_i, "right") (NaN ranks last, so it never counts), O(n log n) per
    series at any width."""
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    s, e, n_obs = _window_bounds(x, width)
    sv, zeros = _wavelet_matrix(x)
    le = _wm_count(zeros, s, e, np.searchsorted(sv, x, "right"))
    ok = ~np.isnan(x) & (n_obs >= max(min_obs, 1)) & (n_obs >= 2)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.where(ok, (le - 1.0) / (n_obs - 1.0), np.nan)
    return _restore(out, x, na_restore)


def conv_nunique(x, width, weights=None, min_obs=None, na_restore=False):
    """Rolling distinct count: the rows of a window whose previous equal
    value (-0.0 equals 0.0) lies before the window. That is one rank
    query on a wavelet matrix of previous-occurrence indices, with NaN
    rows at index n so they never count: O(n log n) per series at any
    width. Weights have no meaning for a cardinality and are rejected."""
    if weights is not None:
        raise ValueError("conv_nunique: weighted distinct count is not defined")
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    s, e, n_obs = _window_bounds(x, width)
    order = np.argsort(x, kind="stable")
    sx = x[order]
    prev = np.full(n, -1)
    tie = sx[1:] == sx[:-1]  # NaN != NaN
    prev[order[1:][tie]] = order[:-1][tie]
    prev[np.isnan(x)] = n
    sp, zeros = _wavelet_matrix(prev)
    nun = _wm_count(zeros, s, e, np.searchsorted(sp, s, "left"))
    out = np.where(n_obs >= max(min_obs, 1), nun.astype(np.float64), np.nan)
    return _restore(out, x, na_restore)


def conv_trimmed_mean(x, width, alpha=0.2, weights=None, min_obs=None,
                      na_restore=False):
    """Rolling trimmed mean: sort each window (NaNs last), drop
    floor(alpha * n_obs) observed values from EACH end and average the
    kept slice, summed directly. alpha in [0, 0.5) guarantees at least
    one surviving value per non-empty window. Weights are rejected (a
    weighted trimmed mean has no agreed definition)."""
    if weights is not None:
        raise ValueError("conv_trimmed_mean: weighted trim is not defined")
    if not 0.0 <= alpha < 0.5:
        raise ValueError(f"alpha must be in [0, 0.5), got {alpha}")
    min_obs = width if min_obs is None else min_obs
    x = np.asarray(x, dtype=np.float64)
    out = np.full(len(x), np.nan)
    for b0, b1, wins in _windows(x, width):
        sv = np.sort(wins, axis=1)
        nan_mask = np.isnan(sv)
        n_obs = wins.shape[1] - nan_mask.sum(axis=1)
        # same float64 product+floor as the DuckDB oracle
        k = np.floor(alpha * n_obs).astype(np.int64)
        m = n_obs - 2 * k
        # sum the kept slice DIRECTLY via a position mask — a
        # cumsum-difference here cancels catastrophically when the
        # trimmed-away extremes dwarf the kept values (the whole point
        # of trimming is that they often do)
        pos = np.arange(wins.shape[1])
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
    out = np.full(len(x), np.nan)
    ok = ~np.isnan(x) & ~np.isnan(y)
    pair = np.where(ok[:, None], np.column_stack([x, y]), np.nan)
    for b0, b1, wins in _windows(pair, width):
        rx, n_obs = _midranks_block(wins[:, 0])
        ry, _ = _midranks_block(wins[:, 1])
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
    out = np.full(len(x), np.nan)
    for b0, b1, wins in _windows(x, width):
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
