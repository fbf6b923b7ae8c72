"""Kernel parity vs C-reference golden fixtures (tests/golden/*.json,
generated by tools/gen_golden.py from the compiled reference), plus the
reference's own inline assertions (test style 1 + 2, SURVEY.md §5)."""

from __future__ import annotations

import json
import math
import pathlib

import numpy as np
import pytest

from tits_spark.functions import kernels as K

GOLD = pathlib.Path(__file__).parent / "golden"


def load(name):
    return json.loads((GOLD / f"{name}.json").read_text())


# ------------------------------------------------------------------ norm

@pytest.mark.parametrize("name", ["norm_8", "norm_3", "norm_rand13", "norm_rand4096"])
def test_znorm_bit_exact(name):
    g = load(name)
    got = K.znorm(np.array(g["x"]))
    # 4-lane Welford + scalar tail replicated exactly -> bit-for-bit
    assert np.array_equal(got, np.array(g["out"]))


def test_norm_reference_bands():
    # ref:test/norm_01.c / norm_02.c inline expectations (+-1e-3)
    out8 = K.znorm(np.array([-3.0, -2, -1, 0, 0, 1, 2, 3]))
    assert np.allclose(out8, [-1.5, -1, -0.5, 0, 0, 0.5, 1, 1.5], atol=1e-3)
    out3 = K.znorm(np.array([0.0, 1, 2]))
    assert np.allclose(out3, [-1, 0, 1], atol=1e-3)


# ------------------------------------------------------------------ sacf/xcor

@pytest.mark.parametrize("name", ["sacf_regular", "sacf_irregular80", "sacf_irregular_ar3"])
def test_sacf_golden(name):
    g = load(name)
    got = K.sacf(np.array(g["t"]), np.array(g["y"]), g["nlags"], g["tau"])
    assert np.allclose(got, np.array(g["out"]), rtol=1e-10, atol=1e-11)


def test_sacf_reference_band_regular():
    # ref:test/sacf_01.c: AR filter lambda=(1,0,0.4) -> lag2 in (0.3, 0.5)
    g = load("sacf_regular")
    got = K.sacf(np.array(g["t"]), np.array(g["y"]), 10, 1.0)
    assert 0.3 < got[1] < 0.5


def test_sacf_reference_band_irregular():
    # ref:test/sacf_03.c: thinned to 80%, tau=0.5 -> lag index 3 in (0.3, 0.5)
    g = load("sacf_irregular80")
    got = K.sacf(np.array(g["t"]), np.array(g["y"]), 10, 0.5)
    assert 0.3 < got[3] < 0.5


def test_xcor_golden():
    g = load("xcor_pair")
    got = K.xcor(np.array(g["t1"]), np.array(g["y1"]),
                 np.array(g["t2"]), np.array(g["y2"]), g["nlags"], g["tau"])
    assert np.allclose(got, np.array(g["out"]), rtol=1e-10, atol=1e-11)


def test_xcor_recovers_planted_lag():
    # series 2 = series 1 shifted by +1.0 time unit; tau=0.25 -> peak at
    # lag index nlags + 4 (lag = +4 * tau = 1.0)
    g = load("xcor_pair")
    got = K.xcor(np.array(g["t1"]), np.array(g["y1"]),
                 np.array(g["t2"]), np.array(g["y2"]), g["nlags"], g["tau"])
    assert int(np.nanargmax(got)) == g["nlags"] + 4
    assert got[g["nlags"] + 4] > 0.9


def test_trunc_to_lane_multiple():
    # ref:sacf.c:193-196 drops up to LANES-1 trailing points silently
    t = np.arange(11, dtype=np.float64)
    y = np.sin(t)
    full = K.sacf(t[:8], y[:8], 3, 1.0)
    trunc = K.sacf(t, y, 3, 1.0)
    assert np.array_equal(full, trunc)


# ------------------------------------------------------------------ acf2ar

@pytest.mark.parametrize("name", ["acf2ar_10", "acf2ar_4", "acf2ar_3"])
def test_acf2ar_golden(name):
    g = load(name)
    got = K.acf2ar(np.array(g["acf"]))
    assert np.array_equal(got, np.array(g["out"]))


def test_acf2ar_reference_trunc1000():
    # ref:test/acf24ar_04.c: acf (0.8, 0.4, 0.2) -> trunc(ar*1000) = (-2000, 2000, -1000)
    ar = K.acf2ar(np.array([0.8, 0.4, 0.2]))
    assert [math.trunc(a * 1000) for a in ar] == [-2000, 2000, -1000]
    # ref:test/acf24ar_01.c
    acf = [0.0075, -0.3214, -0.0445, 0.0641, -0.0006,
           -0.0299, -0.0027, 0.0750, -0.0579, -0.0706]
    ar = K.acf2ar(np.array(acf))
    assert [math.trunc(a * 1000) for a in ar] == [5, 335, 55, 52, 38, 11, 38, -54, 70, 30]


# ------------------------------------------------------------------ pacf

@pytest.mark.parametrize("dtype", [np.float64, np.float32])
def test_acf2pacf_is_last_ar_coef_per_order(dtype):
    # defining property: pacf[k-1] == -(last coefficient of the AR(k)
    # fit) for every order k, under acf2ar's sign convention
    rng = np.random.default_rng(11)
    for _ in range(20):
        # ACF of a real stationary AR process: derive from random
        # stable coefficients via sample autocovariance of a long sim
        x = rng.standard_normal(4000)
        for i in range(2, 4000):
            x[i] += 0.5 * x[i - 1] - 0.3 * x[i - 2] + 0.1 * rng.standard_normal()
        xc = x - x.mean()
        denom = float(xc @ xc)
        acf = np.array([(xc[:-k] @ xc[k:]) / denom for k in range(1, 7)], dtype=dtype)
        pacf = K.acf2pacf(acf, 6, dtype=dtype)
        for k in range(1, 7):
            ar_k = K.acf2ar(acf, k, dtype=dtype)
            assert pacf[k - 1] == pytest.approx(-ar_k[k - 1], abs=1e-6)


def test_acf2pacf_closed_form_low_orders():
    r1, r2 = 0.8, 0.4
    pacf = K.acf2pacf(np.array([r1, r2, 0.2]), 2)
    assert pacf[0] == pytest.approx(r1)
    assert pacf[1] == pytest.approx((r2 - r1 * r1) / (1 - r1 * r1))


def test_acf2pacf_early_break_is_nan():
    # |r1| = 1 drives E to 0 after order 1: later orders are undefined
    pacf = K.acf2pacf(np.array([1.0, 0.5, 0.2]), 3)
    assert pacf[0] == pytest.approx(1.0)
    assert np.isnan(pacf[1:]).all()


# ------------------------------------------------------------------ roots

def test_roots_cubic():
    # ref:test/roots_01.c: (x+4)(x-5)(x-7) = 140 - 13x - 8x^2 + x^3
    reals, pairs = K.roots(np.array([140.0, -13.0, -8.0, 1.0]))
    assert pairs.size == 0
    assert sorted(round(r) for r in reals) == [-4, 5, 7]
    g = load("roots_cubic")
    assert np.allclose(np.sort(reals), np.sort(np.array(g["out"])), atol=1e-9)


def test_roots_complex_pair():
    # ref:test/roots_03.c: 1 real root 7, pair -4 +- 2i
    reals, pairs = K.roots(np.array([-140.0, -36.0, 1.0, 1.0]))
    assert len(reals) == 1 and abs(reals[0] - 7) < 1e-9
    assert pairs.shape == (1, 2)
    assert abs(pairs[0][0] + 4) < 1e-9 and abs(pairs[0][1] - 2) < 1e-9


def test_roots_deg5():
    # ref:test/roots_04.c: real 4, pairs -4 +- 2i and 3 +- 1i
    reals, pairs = K.roots(np.array([-800.0, 360.0, 32.0, -26.0, -2.0, 1.0]))
    assert len(reals) == 1 and abs(reals[0] - 4) < 1e-8
    got = sorted((round(a, 6), round(b, 6)) for a, b in pairs)
    assert got == [(-4.0, 2.0), (3.0, 1.0)]


# ------------------------------------------------------------------ perio

def test_perio_golden():
    g = load("perio_sin3")
    got = K.perio(np.array(g["t"]), np.array(g["y"]), g["nw"])
    assert np.allclose(got, np.array(g["out"]), rtol=1e-10, atol=1e-11)


def test_perio_peak_at_planted_frequency():
    g = load("perio_sin3")
    got = K.perio(np.array(g["t"]), np.array(g["y"]), g["nw"])
    assert int(np.argmax(got)) == 2  # w_j = 2*pi*(j+1) -> freq 3 at j=2


# ------------------------------------------------------------------ misc

def test_meandiff():
    assert K.meandiff(np.array([0.0, 1.0, 3.0])) == pytest.approx(1.5)
    assert math.isnan(K.meandiff(np.array([1.0])))


def test_nan_on_empty_band():
    # degenerate: points densely clustered -> kernel width h ~ mean dt is
    # tiny, so lag-1 band on the tau=1 grid holds no pairs -> dsum == 0
    # -> NaN propagates (ref:xcor.c:180, sacf.c:180)
    t = np.array([0.0, 0.001, 0.002, 0.003])
    y = np.array([1.0, -1.0, 1.0, -1.0])
    out = K.sacf(t, y, 3, 1.0)
    assert np.isnan(out).all()


# ------------------------------------------------------- float32 twins

@pytest.mark.parametrize("name", ["norm_8", "norm_3", "norm_rand13", "norm_rand4096"])
def test_znorm_f32_bit_exact(name):
    """8-lane float Welford replicated exactly vs the compiled
    tits_snorm twin (ref:norm.c:183-204)."""
    g = load(name)
    got = K.znorm(np.array(g["x"]), dtype=np.float32)
    assert got.dtype == np.float32
    assert np.array_equal(got, np.array(g["out_f32"], dtype=np.float32))


@pytest.mark.parametrize("name", ["sacf_regular", "sacf_irregular80", "sacf_irregular_ar3"])
def test_sacf_f32_golden(name):
    """float twin (ref:sacf.c:228-256): 8-lane truncation + float32
    arithmetic; tolerance covers single-precision sum-order noise."""
    g = load(name)
    got = K.sacf(np.array(g["t"]), np.array(g["y"]), g["nlags"], g["tau"],
                 dtype=np.float32)
    assert got.dtype == np.float32
    assert np.allclose(got, np.array(g["out_f32"], dtype=np.float32),
                       rtol=1e-3, atol=1e-5)


def test_xcor_f32_golden():
    g = load("xcor_pair")
    got = K.xcor(np.array(g["t1"]), np.array(g["y1"]),
                 np.array(g["t2"]), np.array(g["y2"]), g["nlags"], g["tau"],
                 dtype=np.float32)
    assert np.allclose(got, np.array(g["out_f32"], dtype=np.float32),
                       rtol=1e-3, atol=1e-5)


@pytest.mark.parametrize("name", ["acf2ar_10", "acf2ar_4", "acf2ar_3"])
def test_acf2ar_f32_bit_exact(name):
    g = load(name)
    got = K.acf2ar(np.array(g["acf"]), dtype=np.float32)
    assert got.dtype == np.float32
    assert np.array_equal(got, np.array(g["out_f32"], dtype=np.float32))


@pytest.mark.parametrize("name", ["roots_cubic", "roots_cplx", "roots_deg5"])
def test_roots_f32_golden(name):
    """float twin (ref:roots.c:205-228): same real count, reals match
    the golden layout (reals first) to float32 precision."""
    g = load(name)
    reals, pairs = K.roots(np.array(g["p"]), dtype=np.float32)
    assert len(reals) == g["nreal_f32"]
    want = np.array(g["out_f32"][: g["nreal_f32"]], dtype=np.float32)
    assert np.allclose(np.sort(reals), np.sort(want), rtol=1e-5, atol=1e-5)
    # complex pairs packed from the tail as (re, |im|)
    tail = np.array(g["out_f32"][g["nreal_f32"]:], dtype=np.float32).reshape(-1, 2)
    if len(tail):
        assert np.allclose(np.sort(pairs, axis=0), np.sort(tail, axis=0),
                           rtol=1e-4, atol=1e-4)


# (no perio float32 golden: the reference declares tits_sperio in
# perio.h:49 but perio.c has no float self-include — never defined)


def test_fast_stats_matches_parity():
    """The vectorized normalization (operators' default) agrees with the
    lane-faithful Welford far below the 6-dp oracle gate."""
    rng = np.random.Generator(np.random.PCG64(9))
    for n in (7, 8, 1001, 10_000):
        x = rng.normal(3.0, 5.0, n)
        mp, vp = K.welford_stats(x)
        mf, vf = K.fast_stats(x)
        assert abs(mp - mf) < 1e-12 * max(1, abs(mp))
        assert abs(vp - vf) < 1e-12 * max(1, abs(vp))


def test_sacf_fast_stats_close_and_faster():
    import time

    g = load("sacf_regular")
    t, y = np.array(g["t"]), np.array(g["y"])
    a = K.sacf(t, y, 10, 1.0, stats="parity")
    t0 = time.perf_counter()
    for _ in range(3):
        K.sacf(t, y, 10, 1.0, stats="parity")
    t_par = time.perf_counter() - t0
    b = K.sacf(t, y, 10, 1.0, stats="fast")
    t0 = time.perf_counter()
    for _ in range(3):
        K.sacf(t, y, 10, 1.0, stats="fast")
    t_fast = time.perf_counter() - t0
    assert np.allclose(a, b, rtol=1e-9, atol=1e-12)
    assert t_fast < t_par  # 10k-point series: Welford python loop gone


# ------------------------------------------------- banded multi-lag strategies

def test_regular_fast_path_matches_banded_scan():
    """The regular-grid diagonal collapse (_band_corr_regular) must agree
    with the generic lag-binned scan (_band_corr_multi) — same data,
    both strategies, 1e-10 relative."""
    n1, n2 = 1024, 700
    rng = np.random.Generator(np.random.PCG64(11))
    y1 = np.convolve(rng.standard_normal(n1), [1.0, 0.0, 0.4], mode="same")
    y2 = np.convolve(rng.standard_normal(n2), [1.0, 0.3], mode="same")
    t1 = np.arange(n1) * 0.01
    t2 = np.arange(n2) * 0.01
    out_fast = K.xcor(t1, y1, t2, y2, 32, 0.01, stats="fast")
    # force the generic path by computing via _band_corr_multi directly
    s1, s2 = t1 * 100.0, t2 * 100.0
    z1 = K.znorm(np.ascontiguousarray(y1), np.float64, "fast")
    z2 = K.znorm(np.ascontiguousarray(y2), np.float64, "fast")
    h, xf, vf = K._kernel_consts(
        min(K.meandiff(t1), K.meandiff(t2)) * 100.0, np.float64)
    ns, ds = K._band_corr_multi(
        list(range(-32, 33)), s1, z1, s2, z2, h * 5.0, xf, vf, np.float64)
    want = np.where(ds != 0.0, ns / ds, np.nan)
    assert np.allclose(out_fast, want, rtol=1e-10, atol=1e-12, equal_nan=True)


def test_lattice_path_detection_and_fallbacks():
    """Truly irregular grids, mismatched steps, and NaNs must all refuse
    the diagonal collapse and take the generic banded scan; complete
    AND thinned (gapped) grids must take it."""
    rng = np.random.Generator(np.random.PCG64(12))
    y = rng.standard_normal(64)
    # thinned integer grid IS a lattice now (the sacf bench shape)
    t_thin = np.sort(rng.choice(np.arange(200.0), 64, replace=False))
    assert K._lattice_cells(t_thin) is not None
    # complete grid: positive control
    assert K._lattice_cells(np.arange(64) * 0.01) is not None
    # irrational-step irregular grid: refused
    t_irr = np.sort(rng.uniform(0, 200.0, 64))
    assert K._lattice_cells(t_irr) is None
    # too sparse to zero-fill: refused
    t_sparse = np.sort(rng.choice(np.arange(0.0, 64.0 * 100), 64, replace=False))
    t_sparse[1] = t_sparse[0] + 1.0  # give it a unit min-diff
    h, xf, vf = K._kernel_consts(1.0, np.float64)
    out = K._band_corr_lattice(
        [0, 1], t_sparse, y, t_sparse, y, h * 5.0, xf, vf, np.float64)
    assert out is None
    # mismatched steps -> None from the lattice dispatcher
    out = K._band_corr_lattice(
        [0, 1], np.arange(64.0), y, np.arange(64.0) * 2.0, y,
        h * 5.0, xf, vf, np.float64)
    assert out is None
    # NaN in values -> refuse (C propagates NaN only through its band)
    ynan = y.copy()
    ynan[10] = np.nan
    out = K._band_corr_lattice(
        [0, 1], np.arange(64.0), ynan, np.arange(64.0), y,
        h * 5.0, xf, vf, np.float64)
    assert out is None


def test_lattice_path_matches_union_scan_on_thinned_grid():
    """The gapped-lattice diagonal collapse must reproduce the generic
    union-band scan (and hence the C semantics) on thinned grids, for
    both the self (sacf) and cross (xcor) shapes."""
    rng = np.random.Generator(np.random.PCG64(77))
    for n1, n2, lags in ((500, 500, list(range(1, 11))),
                         (500, 380, list(range(-8, 9)))):
        t1 = np.sort(rng.choice(np.arange(0.0, n1 * 1.3), n1, replace=False))
        t2 = (t1 if n2 == n1
              else np.sort(rng.choice(np.arange(0.0, n2 * 1.3), n2, replace=False)))
        y1 = rng.standard_normal(n1)
        y2 = y1 if n2 == n1 else rng.standard_normal(n2)
        h, xf, vf = K._kernel_consts(1.3, np.float64)
        thresh = h * 5.0
        out = K._band_corr_lattice(lags, t1, y1, t2, y2, thresh, xf, vf, np.float64)
        assert out is not None, "thinned grid should take the lattice path"
        ns, ds = out
        nsu, dsu = K._band_corr_multi(lags, t1, y1, t2, y2, thresh, xf, vf, np.float64)
        np.testing.assert_allclose(ns, nsu, rtol=1e-10, atol=1e-12)
        np.testing.assert_allclose(ds, dsu, rtol=1e-10, atol=1e-12)


def test_band_corr_multi_matches_single_lag():
    """Multi-lag union scan == per-lag _band_corr on an irregular pair."""
    rng = np.random.Generator(np.random.PCG64(13))
    t1 = np.sort(rng.uniform(0, 500, 400))
    t2 = np.sort(rng.uniform(0, 500, 300))
    y1 = rng.standard_normal(400)
    y2 = rng.standard_normal(300)
    h, xf, vf = K._kernel_consts(1.3, np.float64)
    thresh = h * 5.0
    lags = list(range(-5, 6))
    ns, ds = K._band_corr_multi(lags, t1, y1, t2, y2, thresh, xf, vf, np.float64)
    for i, k in enumerate(lags):
        n1, d1 = K._band_corr(float(k), t1, y1, t2, y2, thresh, xf, vf)
        assert abs(ns[i] - n1) <= 1e-12 * max(1.0, abs(n1))
        assert abs(ds[i] - d1) <= 1e-12 * max(1.0, abs(d1))


def test_band_corr_multi_chunk_cap_recursion():
    """Chunk-cap recursion path returns identical results."""
    rng = np.random.Generator(np.random.PCG64(14))
    t1 = np.sort(rng.uniform(0, 100, 500))
    t2 = np.sort(rng.uniform(0, 100, 500))
    y1 = rng.standard_normal(500)
    y2 = rng.standard_normal(500)
    h, xf, vf = K._kernel_consts(1.0, np.float64)
    lags = list(range(-8, 9))
    a = K._band_corr_multi(lags, t1, y1, t2, y2, h * 5.0, xf, vf, np.float64)
    old = K._BAND_PAIR_CAP
    try:
        K._BAND_PAIR_CAP = 100  # force the split-recursion branch
        b = K._band_corr_multi(lags, t1, y1, t2, y2, h * 5.0, xf, vf, np.float64)
    finally:
        K._BAND_PAIR_CAP = old
    assert np.allclose(a[0], b[0], rtol=1e-12) and np.allclose(a[1], b[1], rtol=1e-12)


# ------------------------------------------------- integer lag-bin order

def test_band_edges_match_single_lag_bit_for_bit():
    """Pairs whose delta equals k - thresh or k + thresh exactly, or sits
    one ulp either side, get the membership of the per-pair comparison
    ``k - thresh <= delta < k + thresh`` (and of _band_corr). With unit
    weights (xf=0, vf=1) and y2 = distinct powers of two, nsums encodes
    the member set exactly."""
    thresh = 0.75
    lags = list(range(-3, 4))
    edges = [k + s * thresh for k in lags for s in (-1, 1)]
    t2 = np.unique(np.concatenate([
        edges, np.nextafter(edges, -np.inf), np.nextafter(edges, np.inf)]))
    t1 = np.array([0.0])
    y1 = np.array([1.0])
    y2 = 2.0 ** np.arange(t2.size)
    ns, ds = K._band_corr_multi(lags, t1, y1, t2, y2, thresh, 0.0, 1.0, np.float64)
    for i, k in enumerate(lags):
        member = (k - thresh <= t2) & (t2 < k + thresh)
        assert ns[i] == y2[member].sum() and ds[i] == member.sum()
        n1, d1 = K._band_corr(float(k), t1, y1, t2, y2, thresh, 0.0, 1.0)
        assert (ns[i], ds[i]) == (n1, d1)


def test_lag_bins_widen_past_int16(monkeypatch):
    """A bin count above the int16 range takes int32 keys, and the sums
    still match the per-lag scan."""
    keys = []
    lag_bins = K._lag_bins

    def spy(x, base, nbins):
        out = lag_bins(x, base, nbins)
        keys.append(out.dtype)
        return out

    monkeypatch.setattr(K, "_lag_bins", spy)
    rng = np.random.Generator(np.random.PCG64(21))
    y1 = rng.standard_normal(60)
    y2 = rng.standard_normal(50)
    for thresh, key in ((2.5, np.int16), (20_000.0, np.int32)):
        t1 = np.sort(rng.uniform(0, 3 * thresh, 60))
        t2 = np.sort(rng.uniform(0, 3 * thresh, 50))
        keys.clear()
        lags = list(range(-4, 5))
        h = thresh / 5.0
        xf, vf = -1.0 / (2.0 * h * h), 1.0 / np.sqrt(2.0 * np.pi * h)
        ns, ds = K._band_corr_multi(lags, t1, y1, t2, y2, thresh, xf, vf, np.float64)
        assert keys and set(keys) == {np.dtype(key)}
        for i, k in enumerate(lags):
            n1, d1 = K._band_corr(float(k), t1, y1, t2, y2, thresh, xf, vf)
            assert abs(ns[i] - n1) <= 1e-12 * max(1.0, abs(n1))
            assert abs(ds[i] - d1) <= 1e-12 * max(1.0, abs(d1))


@pytest.mark.parametrize("seed", [31, 32, 33])
@pytest.mark.parametrize("shape", ["sacf", "xcor"])
def test_binned_lags_match_single_lag_scan(shape, seed):
    """The chunked, lag-binned dispatcher equals the per-lag scan within
    1e-12 on random irregular pairs, at the sacf (self, lags 1..n) and
    xcor (cross, lags -n..n) shapes."""
    rng = np.random.Generator(np.random.PCG64(seed))
    t1 = np.sort(rng.uniform(0, 400, 600))
    y1 = rng.standard_normal(600)
    if shape == "sacf":
        t2, y2, lags = t1, y1, list(range(1, 41))
    else:
        t2 = np.sort(rng.uniform(-20, 380, 450))
        y2 = rng.standard_normal(450)
        lags = list(range(-40, 41))
    h, xf, vf = K._kernel_consts(min(K.meandiff(t1), K.meandiff(t2)), np.float64)
    thresh = h * 5.0
    assert K._band_corr_lattice(lags, t1, y1, t2, y2, thresh, xf, vf, np.float64) is None
    ns, ds = K._band_corr_lags(lags, t1, y1, t2, y2, thresh, xf, vf, np.float64)
    for i, k in enumerate(lags):
        n1, d1 = K._band_corr(float(k), t1, y1, t2, y2, thresh, xf, vf)
        assert abs(ns[i] - n1) <= 1e-12 * max(1.0, abs(n1))
        assert abs(ds[i] - d1) <= 1e-12 * max(1.0, abs(d1))
