"""Arrow-path numpy kernels vs the naive oracle — including exponential
weights 0.9^(2w:1) of length 2*width, the reference's own weighted grid
(test-roll.R:22), and the online==offline equivalence axis."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pytest

from roll_spark.operators import kernels as K
from tests import oracle

SEED = 5640
N = 40


def _series():
    rng = np.random.default_rng(SEED)
    out = {}
    det = np.arange(N, dtype=np.float64)
    det[::5] = 0.0
    out["det_zeros"] = det
    r = rng.normal(size=N)
    r[rng.random(N) < 0.15] = 0.0
    out["rand_zeros"] = r
    rn = rng.normal(size=N)
    rn[rng.random(N) < 0.15] = 0.0
    rn[rng.random(N) < 0.2] = np.nan
    out["rand_zeros_nas"] = rn
    return out


SERIES = _series()
WIDTHS = [1, 5, 10]


def _weights_grid(width):
    return [None, list(0.9 ** np.arange(2 * width, 0, -1.0))]


def assert_close(got, want, label, rtol=1e-7):
    got, want = np.asarray(got), np.asarray(want)
    same_na = np.isnan(got) == np.isnan(want)
    assert same_na.all(), f"{label}: NA pattern\n got={got}\nwant={want}"
    ok = np.isnan(want) | np.isclose(got, want, rtol=rtol, atol=1e-10)
    assert ok.all(), f"{label}: values\n got={got}\nwant={want}"


KERNEL_OPS = {
    "sum": (K.conv_sum, oracle.roll_sum),
    "mean": (K.conv_mean, oracle.roll_mean),
    "var": (K.conv_var, oracle.roll_var),
    "sd": (K.conv_sd, oracle.roll_sd),
    "prod": (K.conv_prod, oracle.roll_prod),
}


@pytest.mark.parametrize("op", sorted(KERNEL_OPS))
@pytest.mark.parametrize("width", WIDTHS)
def test_conv_kernels_weighted_grid(op, width):
    fn, ofn = KERNEL_OPS[op]
    for weights in _weights_grid(width):
        for min_obs in (1, min(5, width)):
            for na_restore in (False, True):
                for name, x in SERIES.items():
                    got = fn(x, width, weights=weights, min_obs=min_obs,
                             na_restore=na_restore)
                    want = ofn(x, width, weights=weights, min_obs=min_obs,
                               na_restore=na_restore)
                    assert_close(got, want,
                                 f"{op} w={width} wt={'exp' if weights else 'eq'} "
                                 f"mo={min_obs} nr={na_restore} {name}")


@pytest.mark.parametrize("width", WIDTHS)
def test_conv_pair_kernels(width):
    rng = np.random.default_rng(SEED + 2)
    pair_ops = {
        "cov": (K.conv_cov, oracle.roll_cov),
        "cor": (K.conv_cor, oracle.roll_cor),
        "crossprod": (K.conv_crossprod, oracle.roll_crossprod),
    }
    for name, x in SERIES.items():
        y = rng.normal(size=N) + 0.3 * np.nan_to_num(x)
        if name.endswith("nas"):
            y[rng.random(N) < 0.2] = np.nan
        for opname, (fn, ofn) in pair_ops.items():
            for weights in _weights_grid(width):
                got = fn(x, y, width, weights=weights, min_obs=1)
                want = ofn(x, y, width, weights=weights, min_obs=1)
                assert_close(got, want, f"{opname} w={width} {name}")


@pytest.mark.parametrize("p", [0.0, 0.25, 0.5, 0.75, 1.0])
@pytest.mark.parametrize("width", [5, 10])
def test_conv_quantile(p, width):
    for name, x in SERIES.items():
        for weights in _weights_grid(width):
            got = K.conv_quantile(x, width, p, weights=weights, min_obs=1)
            want = oracle.roll_quantile(x, width, p, weights=weights, min_obs=1)
            assert_close(got, want, f"quantile p={p} w={width} "
                                    f"wt={'exp' if weights else 'eq'} {name}")


@pytest.mark.parametrize("width", [3, 5, 10])
@pytest.mark.parametrize("k", [1, 2, 3])
def test_conv_lm_k(width, k):
    rng = np.random.default_rng(SEED + 3)
    X = rng.normal(size=(N, k))
    beta_true = np.arange(1, k + 1, dtype=np.float64)
    y = X @ beta_true + 0.5 + 0.1 * rng.normal(size=N)
    X[rng.random(N) < 0.1, 0] = np.nan
    res = K.conv_lm_k(X, y, width, min_obs=1, intercept=True)
    # oracle: per-window numpy lstsq with same exclusion + gates
    for i in range(N):
        lo = max(0, i - width + 1)
        Xi, yi = X[lo : i + 1], y[lo : i + 1]
        ok = ~np.isnan(Xi).any(axis=1) & ~np.isnan(yi)
        n_obs = ok.sum()
        if n_obs < k + 1 or n_obs < 2:
            assert np.isnan(res["coef"][i]).all(), i
            continue
        Xo, yo = Xi[ok], yi[ok]
        M = np.column_stack([np.ones(len(Xo)), Xo])
        sol, *_ = np.linalg.lstsq(M, yo, rcond=None)
        if np.linalg.matrix_rank(np.cov(Xo.T).reshape(k, k)) < k:
            continue  # singular window: engine emits NA, lstsq approximates
        assert np.allclose(res["intercept"][i], sol[0], rtol=1e-6, atol=1e-8), i
        assert np.allclose(res["coef"][i], sol[1:], rtol=1e-6, atol=1e-8), i
        # r2 / se vs classic formulas
        pred = M @ sol
        ss_res = ((yo - pred) ** 2).sum()
        ss_tot = ((yo - yo.mean()) ** 2).sum()
        if ss_tot > 1e-12:
            assert np.allclose(res["r2"][i], 1 - ss_res / ss_tot, rtol=1e-6), i
        df_resid = n_obs - (k + 1)
        if df_resid > 0:
            sigma2 = ss_res / df_resid
            cov = sigma2 * np.linalg.inv(M.T @ M)
            assert np.allclose(res["se_intercept"][i], np.sqrt(cov[0, 0]),
                               rtol=1e-5, atol=1e-8), i
            assert np.allclose(res["se"][i], np.sqrt(np.diag(cov)[1:]),
                               rtol=1e-5, atol=1e-8), i


def test_lm_k1_matches_oracle_lm():
    x, y = SERIES["rand_zeros_nas"], SERIES["rand_zeros"]
    for width in (5, 10):
        res = K.conv_lm_k(x, y, width, min_obs=1, intercept=True)
        want = oracle.roll_lm(x, y, width, min_obs=1, intercept=True)
        assert_close(res["coef"][:, 0], want["coef_x"], f"k1 coef w={width}")
        assert_close(res["intercept"], want["intercept"], f"k1 int w={width}")
        assert_close(res["r2"], want["r2"], f"k1 r2 w={width}")
        assert_close(res["se"][:, 0], want["se_x"], f"k1 se w={width}")
        assert_close(res["se_intercept"], want["se_intercept"], f"k1 sei w={width}")


@pytest.mark.parametrize("k", [2, 3])
def test_lm_k_numerically_singular_window_is_na(k):
    """arma::solve(no_approx): a window whose reciprocal 1-norm condition
    number 1/(|A|_1 |A^-1|_1) is below eps emits NA in every output,
    even when float64 rounding leaves det(A) != 0; every other window
    is the plain np.linalg.solve of its normal equations, bit for bit."""
    rng = np.random.default_rng(2)
    X = np.round(rng.normal(size=(20, k)), 2)
    y = np.round(rng.normal(size=20), 2)
    # rows 0-9: the last regressor is a fixed combination of the others
    X[:10, k - 1] = X[:10, : k - 1] @ (0.1 * np.arange(1, k))
    res = K.conv_lm_k(X, y, 6, min_obs=6, intercept=True)

    _, _, _, _, SS = K._comoments(np.column_stack([X, y]), 6, None, True)
    A, b = SS[:, :k, :k], SS[:, :k, k]
    full = np.arange(5, 20)  # the rows with a full window
    rcond = np.array([1 / (np.linalg.norm(A[i], 1)
                           * np.linalg.norm(np.linalg.inv(A[i]), 1))
                      for i in full])
    singular = full[rcond < K.EPS]
    # the collinear windows are singular, yet det(A) != 0 on every one
    assert set(range(5, 10)) <= set(singular)
    assert (np.abs(np.linalg.det(A[5:10])) > 0).all()
    for key in res:
        assert np.isnan(res[key][singular]).all(), key
    solved = np.setdiff1d(full, singular)
    assert set(range(15, 20)) <= set(solved)
    np.testing.assert_array_equal(res["coef"][solved],
                                  np.linalg.solve(A[solved], b[solved]))
    for key in res:
        assert not np.isnan(res[key][solved]).any(), key


def test_online_equals_offline_mean():
    """The reference's own equivalence axis (test-roll.R): online
    recursion == offline recompute, equal + exponential weights."""
    for width in WIDTHS:
        for weights in _weights_grid(width):
            for name, x in SERIES.items():
                got, _ = K.online_mean(x, width, weights=weights, min_obs=1)
                want = oracle.roll_mean(x, width, weights=weights, min_obs=1)
                assert_close(got, want, f"online mean w={width} {name}", rtol=1e-6)


def test_online_mean_state_carry():
    """Chunked evaluation with state carry == single-pass evaluation —
    the skew-path invariant."""
    x = SERIES["rand_zeros_nas"]
    for width in (3, 7):
        full, _ = K.online_mean(x, width, min_obs=1)
        out1, st = K.online_mean(x[:17], width, min_obs=1)
        out2, _ = K.online_mean(x[17:], width, min_obs=1, state=st)
        got = np.concatenate([out1, out2])
        assert_close(got, full, f"state carry w={width}")


# ---------------------------------------------------------------------------
# fused matrix moments + cross-covariance cube (round 2)
# ---------------------------------------------------------------------------


def test_matrix_moments_match_brute_force(grid_pairs):
    """The one centred co-moment engine == a per-window two-pass replay
    under the pair's joint mask: counts, weight sums, means and every
    co-moment sum, with an exact mirror."""
    for name, (x, y) in grid_pairs.items():
        M = np.column_stack([x, y])
        ok = ~np.isnan(M).any(axis=1)
        for width in (2, 5, 10):
            for wts in (None, 0.9 ** np.arange(2 * width, 0, -1.0)):
                slot = np.ones(width) if wts is None else wts[-width:]
                n_obs, sum_w, sumsq_w, mu, SS = K._matrix_window_moments(
                    M, width, wts
                )
                for i in range(len(M)):
                    lo = max(0, i - width + 1)
                    keep = ok[lo : i + 1]
                    w = slot[width - (i + 1 - lo) :][keep]
                    V = M[lo : i + 1][keep]
                    assert n_obs[i] == len(V), (name, width, i)
                    if not len(V):
                        continue
                    m = w @ V / w.sum()
                    D = V - m
                    assert np.isclose(sum_w[i], w.sum(), rtol=1e-12)
                    assert np.isclose(sumsq_w[i], w @ w, rtol=1e-12)
                    assert np.allclose(mu[i], m, rtol=1e-12, atol=1e-12)
                    assert np.allclose(SS[i], (D * w[:, None]).T @ D,
                                       rtol=1e-9, atol=1e-9), (name, width, i)
                assert np.array_equal(SS[:, 1, 0], SS[:, 0, 1], equal_nan=True), \
                    "mirror must be exact"


def test_cov_xy_matrix_equals_stacked_symmetric_block(grid_pairs):
    """The (x, y) cross-cov cube must equal the off-diagonal block of the
    symmetric cube over the stacked columns (same complete-obs mask)."""
    for name, (x, y) in grid_pairs.items():
        X = np.column_stack([x, y])
        Y = np.column_stack([2.0 * x + 1.0])
        for wts in (None, np.arange(1.0, 6.0)):
            xy = K.conv_cov_xy_matrix(X, Y, 5, weights=wts, min_obs=3)
            full = K.conv_cov_matrix(np.column_stack([X, Y]), 5, weights=wts,
                                     min_obs=3)
            assert np.allclose(xy, full[:, :2, 2:], equal_nan=True, atol=1e-10), name


def test_cov_matrix_pairwise_complete():
    """complete_obs=False: every (j, l) cell must equal the 2-column
    pairwise-complete kernel on those columns, and it must DIFFER from
    the complete-obs cube when NAs are scattered per column."""
    rng = np.random.default_rng(42)
    n, k = 300, 3
    X = rng.normal(size=(n, k)) * 10
    # scatter NAs independently per column so pair masks differ
    for j in range(k):
        X[rng.random(n) < 0.15, j] = np.nan
    for wts in (None, 0.9 ** np.arange(10, 0, -1.0)):
        for center in (True, False):
            pw = K.conv_cov_matrix(
                X, 10, weights=wts, min_obs=3, center=center, complete_obs=False
            )
            for j in range(k):
                for l in range(k):
                    ref = K.conv_cov(
                        X[:, j], X[:, l], 10, weights=wts, min_obs=3, center=center
                    )
                    assert np.allclose(
                        pw[:, j, l], ref, equal_nan=True, atol=1e-10
                    ), (j, l, wts is None, center)
    comp = K.conv_cov_matrix(X, 10, min_obs=3, complete_obs=True)
    pw = K.conv_cov_matrix(X, 10, min_obs=3, complete_obs=False)
    both = np.isfinite(comp) & np.isfinite(pw)
    assert (np.abs(comp[both] - pw[both]) > 1e-12).any(), (
        "pairwise and complete-obs must differ on scattered-NA input"
    )
    # correlation flavor: off-diagonals match conv_cor per pair
    pwc = K.conv_cov_matrix(X, 10, min_obs=3, scale=True, complete_obs=False)
    refc = K.conv_cor(X[:, 0], X[:, 2], 10, min_obs=3)
    assert np.allclose(pwc[:, 0, 2], refc, equal_nan=True, atol=1e-10)


def test_cov_xy_matrix_pairwise_complete():
    """Cross cube with complete_obs=False: every (j, l) cell equals the
    2-column pairwise kernel; differs from complete-obs on scattered NAs."""
    rng = np.random.default_rng(5)
    n = 200
    X = rng.normal(size=(n, 2)) * 5
    Y = rng.normal(size=(n, 2)) * 3
    for M in (X, Y):
        for j in range(2):
            M[rng.random(n) < 0.2, j] = np.nan
    pw = K.conv_cov_xy_matrix(X, Y, 8, min_obs=3, complete_obs=False)
    for j in range(2):
        for l in range(2):
            ref = K.conv_cov(X[:, j], Y[:, l], 8, min_obs=3)
            assert np.allclose(pw[:, j, l], ref, equal_nan=True, atol=1e-10), (j, l)
    comp = K.conv_cov_xy_matrix(X, Y, 8, min_obs=3, complete_obs=True)
    both = np.isfinite(comp) & np.isfinite(pw)
    assert (np.abs(comp[both] - pw[both]) > 1e-12).any()


def test_cov_xy_matrix_constant_column_gates():
    """A constant y column yields exactly-zero cross moments (two-pass
    mean pinning), never NaN from cancellation."""
    x = np.arange(30, dtype=np.float64)
    X = np.column_stack([x, x * x])
    Y = np.full((30, 1), 7.0)
    out = K.conv_cov_xy_matrix(X, Y, 5, min_obs=5)
    body = out[4:]
    assert np.isfinite(body).all()
    assert np.allclose(body, 0.0, atol=0)


def test_quantile_selection_boundary_combos():
    """The selection predicate is the reference's NORMALIZED division
    (sum_upper/sum_w >= p, roll_vec.h:2048). At (p, n) combos where the
    PRODUCT n*(1-p) rounds to the other side of an attainable mass —
    e.g. p=0.41/n=100, p=0.18/n=50 — a ceil-of-product shortcut selects
    a different order statistic. The equal-weight wavelet-matrix
    selection and the weighted scan must agree on exactly these combos."""
    rng = np.random.default_rng(5)
    for p, w in ((0.41, 100), (0.18, 50), (0.18, 150), (0.408, 125),
                 (0.999, 37), (0.82, 50)):
        x = rng.normal(0, 1, 1200)
        x[rng.random(1200) < 0.1] = np.nan
        fast = K.conv_quantile(x, w, p, min_obs=1)
        scan = K.conv_quantile(x, w, p, weights=np.ones(w), min_obs=1)
        same = (fast == scan) | (np.isnan(fast) & np.isnan(scan))
        assert same.all(), (p, w, np.where(~same)[0][:3])


def test_quantile_tie_heavy_long_series_matches_oracle():
    """Heavy ties over a long series: the wavelet-matrix selection ==
    the sorted-window oracle, tie averaging included."""
    rng = np.random.default_rng(97)
    x = np.round(rng.normal(100, 5, 3000), 1)  # heavy ties
    x[rng.random(3000) < 0.15] = np.nan
    for width, p in ((7, 0.5), (40, 0.25), (200, 0.9)):
        got = K.conv_quantile(x, width, p, min_obs=1)
        want = oracle.roll_quantile(x, width, p, min_obs=1)
        assert np.array_equal(got, want, equal_nan=True), (width, p)


def test_equal_weight_c_is_smallest_division_satisfier():
    """_equal_weight_c must return the SMALLEST integer c with
    float64(c/n) >= 1-p — brute-checked over a fine p grid."""
    ns = np.arange(1, 401)
    for pct in range(1, 1000, 7):
        pp = 1.0 - pct / 1000.0
        c_fast = K._equal_weight_c(ns, pp)
        for n in (1, 2, 3, 37, 50, 100, 125, 150, 399, 400):
            c = 1
            while c < n and c / n < pp:
                c += 1
            assert c_fast[n - 1] == c, (pp, n, c_fast[n - 1], c)


def test_conv_quantiles_fused_equals_per_p():
    """conv_quantiles column j must be BIT-identical to conv_quantile at
    ps[j] on both the equal-weight wavelet-matrix path and the weighted
    scan path, across NaN mixes, min_obs, and na_restore."""
    rng = np.random.default_rng(1234)
    ps = [0.01, 0.25, 0.5, 0.75, 0.99, 1 / 3]
    for trial in range(4):
        n = int(rng.integers(5, 300))
        width = int(rng.integers(1, 25))
        x = rng.normal(size=n)
        x[rng.random(n) < 0.25] = np.nan
        for weights in (None, list(rng.random(width) + 0.1)):
            for min_obs, na_restore in ((1, False), (max(1, width // 2), True)):
                fused = K.conv_quantiles(x, width, ps, weights=weights,
                                         min_obs=min_obs, na_restore=na_restore)
                for j, p in enumerate(ps):
                    single = K.conv_quantile(x, width, p, weights=weights,
                                             min_obs=min_obs, na_restore=na_restore)
                    same = (fused[:, j] == single) | (
                        np.isnan(fused[:, j]) & np.isnan(single))
                    assert same.all(), (trial, p, width, weights is None)


def test_conv_quantiles_empty_and_degenerate():
    assert K.conv_quantiles(np.array([]), 5, [0.5]).shape == (0, 1)
    # all-NaN series: every output NaN, both paths
    x = np.full(20, np.nan)
    out = K.conv_quantiles(x, 4, [0.25, 0.75], min_obs=1)
    assert np.isnan(out).all()


QUANTILE_PS = [0.0, 1 / 3, 0.5, 1.0, 0.1, 0.18, 0.41, 0.75, 0.999]


def _quantile_input(rng, n):
    """Ties (one decimal over a narrow range), a leading NaN run, NaN
    bursts and scattered NaNs; -0.0 normalised to +0.0, the one tie
    whose two members differ in their bits."""
    x = np.round(rng.normal(0.0, 2.0, n), 1)
    x[: int(rng.integers(0, n // 4 + 1))] = np.nan
    for _ in range(3):
        a = int(rng.integers(0, n))
        x[a : a + int(rng.integers(1, 40))] = np.nan
    x[rng.random(n) < 0.05] = np.nan
    return x + 0.0


@pytest.mark.parametrize("width", [1, 2, 3, 5, 63, 64, 65, 256, 400, 1000])
def test_equal_weight_quantiles_match_sorted_window(width):
    """Equal-weight conv_quantiles (wavelet-matrix selection) against
    the brute-force sorted-window HF2 scan, row by row: the same bits
    and the same NaN positions, including widths longer than the
    series."""
    rng = np.random.default_rng(width)
    for n in (min(2 * width + 40, 700), max(width // 2, 3)):
        x = _quantile_input(rng, n)
        for min_obs in sorted({1, max(1, width // 2), width}):
            got = K.conv_quantiles(x, width, QUANTILE_PS, min_obs=min_obs)
            for j, p in enumerate(QUANTILE_PS):
                want = oracle.roll_quantile(x, width, p, min_obs=min_obs)
                assert np.array_equal(np.isnan(got[:, j]), np.isnan(want)), (n, min_obs, p)
                assert np.array_equal(got[:, j].view(np.int64), want.view(np.int64)), (
                    n, min_obs, p)


def _rank_count_replay(x, width, min_obs):
    """Brute-force window replay of percent rank and distinct count."""
    pr, nun = np.full(len(x), np.nan), np.full(len(x), np.nan)
    for i in range(len(x)):
        win = x[max(0, i - width + 1): i + 1]
        obs = win[~np.isnan(win)]
        if len(obs) >= max(min_obs, 1):
            nun[i] = len(set(obs.tolist()))  # -0.0 == 0.0 in a set
            if len(obs) >= 2 and not np.isnan(x[i]):
                pr[i] = ((obs <= x[i]).sum() - 1.0) / (len(obs) - 1.0)
    return pr, nun


@pytest.mark.parametrize("n", [0, 1, 2, 7, 8, 64, 100, 128, 257])
def test_rank_count_kernels_match_replay(n):
    """conv_percentrank and conv_nunique count ranks on a wavelet matrix;
    against a window-by-window replay they give the same bits, with
    ties, NaN and -0.0 beside 0.0. Power-of-two lengths put the
    percent-rank threshold of the largest value at 2**levels."""
    rng = np.random.default_rng(n + 1)
    x = rng.choice([0.0, -0.0, 1.5, -2.0, 3.0, np.nan], n)
    fresh = rng.random(n) < 0.5
    x[fresh] = rng.normal(size=n).round(1)[fresh]
    for width in sorted({1, 2, 5, max(n // 2, 1), n, n + 5}):
        for min_obs in sorted({1, width}):
            pr, nun = _rank_count_replay(x, width, min_obs)
            got_pr = K.conv_percentrank(x, width, min_obs=min_obs)
            got_nun = K.conv_nunique(x, width, min_obs=min_obs)
            assert np.array_equal(got_pr, pr, equal_nan=True), (width, min_obs)
            assert np.array_equal(got_nun, nun, equal_nan=True), (width, min_obs)


@pytest.mark.parametrize("fn,ref", [(K.conv_sum, oracle.roll_sum),
                                    (K.conv_mean, oracle.roll_mean)])
def test_conv_sum_mean_width_beyond_series(fn, ref):
    """A width far past the series length (the expanding case) reads
    only the series' own lags: the result equals the brute-force
    window sums, and no array wider than the series is allocated."""
    rng = np.random.default_rng(11)
    x = rng.normal(5.0, 3.0, 1000)
    x[rng.random(1000) < 0.1] = np.nan
    tracemalloc.start()
    try:
        got = fn(x, 10**9, min_obs=1)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak  # a few 1,000-long float64 arrays
    want = ref(x, 10**9, min_obs=1)
    assert np.array_equal(np.isnan(got), np.isnan(want))
    np.testing.assert_allclose(got, want, rtol=1e-12)


@pytest.mark.parametrize("fn", [K.conv_percentrank, K.conv_nunique, K.conv_mad,
                                K.conv_trimmed_mean, K.conv_entropy])
def test_sorted_window_kernels_width_beyond_series(fn):
    """The strided-window kernels build windows at most the series
    long: a width of 10^9 over 1,000 rows gives the width-n result bit
    for bit inside a block-sized memory budget."""
    rng = np.random.default_rng(13)
    x = rng.integers(0, 40, 1000).astype(np.float64)
    x[rng.random(1000) < 0.1] = np.nan
    tracemalloc.start()
    try:
        got = fn(x, 10**9, min_obs=1)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 16 << 20, peak  # peaks at 0.3-8.5 MB
    assert np.array_equal(got, fn(x, 1000, min_obs=1), equal_nan=True)


def _wide_width_cases():
    rng = np.random.default_rng(17)
    X = rng.normal(5.0, 3.0, (1000, 3))
    X[rng.random((1000, 3)) < 0.05] = np.nan
    x, y = X[:, 0], X[:, 1]
    # a window never reaches more than the trailing n weights
    wts = 0.995 ** np.arange(1000, 0, -1.0)
    cases = {
        "var": lambda w: K.conv_var(x, w, weights=wts, min_obs=1),
        "sd": lambda w: K.conv_sd(x, w, min_obs=1),
        "scale": lambda w: K.conv_scale(x, w, weights=wts, min_obs=1),
        "cov": lambda w: K.conv_cov(x, y, w, weights=wts, min_obs=1),
        "cor": lambda w: K.conv_cor(x, y, w, min_obs=1),
        "crossprod": lambda w: K.conv_crossprod(x, y, w, weights=wts, min_obs=1),
        "prod": lambda w: K.conv_prod(x / 5.0, w, weights=wts, min_obs=1),
        "quantiles_weighted": lambda w: K.conv_quantiles(
            x, w, [0.1, 0.5, 0.9], weights=wts, min_obs=1),
        "spearman": lambda w: K.conv_spearman(x, y, w, min_obs=1),
        "cov_xy_matrix": lambda w: K.conv_cov_xy_matrix(X[:, :2], X[:, 2:], w, min_obs=1),
    }
    for center in (True, False):
        for complete in (True, False):
            cases[f"cov_matrix_c{center:d}_co{complete:d}"] = (
                lambda w, c=center, co=complete: K.conv_cov_matrix(
                    X, w, weights=wts, min_obs=1, center=c, complete_obs=co))
    for intercept in (True, False):
        cases[f"lm_k_i{intercept:d}"] = lambda w, i=intercept: tuple(
            K.conv_lm_k(X[:, :2], X[:, 2], w, min_obs=1, intercept=i).values())
    return cases


WIDE_WIDTH_CASES = _wide_width_cases()


@pytest.mark.parametrize("case", sorted(WIDE_WIDTH_CASES))
def test_conv_kernels_width_beyond_series(case):
    """Every conv kernel with a width cuts its windows, taps and weights
    at the series length: a width of 10^9 over 1,000 rows gives the
    width-n result bit for bit inside a block-sized memory budget."""
    fn = WIDE_WIDTH_CASES[case]
    tracemalloc.start()
    try:
        got = fn(10**9)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 16 << 20, peak
    want = fn(1000)
    if not isinstance(got, tuple):
        got, want = (got,), (want,)
    for g, w in zip(got, want):
        assert np.array_equal(g, w, equal_nan=True)
    assert np.isfinite(want[0]).any()


def test_skew_kurt_width_beyond_series():
    """conv_skew_kurt never builds windows wider than the series: a
    width of 10^7 over 1,000 rows gives the expanding result, bit for
    bit, without allocating block x width windows."""
    rng = np.random.default_rng(12)
    x = rng.normal(5.0, 3.0, 1000)
    x[rng.random(1000) < 0.1] = np.nan
    got = K.conv_skew_kurt(x, 10**7, min_obs=4)
    want = K.conv_skew_kurt(x, 1000, min_obs=4)
    assert np.array_equal(got, want, equal_nan=True)
    assert np.isnan(got[:3]).all() and np.isfinite(got[-1]).all()


def test_skew_kurt_constant_window_is_null():
    """A constant window has no shape: skew, kurtosis and JB are NULL
    even where sum/n misses the repeated non-dyadic value by an ulp
    (123456789.123 at n = 3, 6, 7, 9..15), which would leave M2 = n·d²
    above eps and a spurious +-sqrt(n(n-1))/(n-2) skew."""
    x = np.full(40, 123456789.123)
    x[[5, 17]] = np.nan
    got = K.conv_skew_kurt(x, 12, min_obs=3)
    assert np.isnan(got).all()
    # the constant tail after a varying head: every all-constant window
    # is NULL, every window holding the head is finite
    y = np.concatenate([np.arange(6.0), np.full(30, 123456789.123)])
    got = K.conv_skew_kurt(y, 12, min_obs=4)
    assert np.isfinite(got[5:17]).all()
    assert np.isnan(got[17:]).all()
