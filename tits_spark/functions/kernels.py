"""Numpy ports of the reference's numerical kernels.

These are independent re-implementations (not copies) of the math in
/root/reference/src, replicating semantics the tests pin down:

 - 4-lane (float64) / 8-lane (float32) Welford moments + pairwise
   combine for mean/var, including the scalar tail (ref:norm.c:75-147,
   float twin via self-#include ref:norm.c:183-204) — lane-order
   faithful so z-normalized series match the C build bit-for-bit on
   lane-multiple inputs;
 - truncation of series length to a multiple of the SIMD width — 4
   doubles / 8 floats per AVX2 vector (ref:sacf.c:193-196,
   xcor.c:193-199) — the reference silently drops up to lanes-1
   trailing points; we replicate, not "fix" (SURVEY.md §7);
 - Bjoernstad-Falck Gaussian kernel with Edelson-Krolik banding:
   h = 0.25 * (mean_dt / tau), band = +-5h, K = exp(-d^2/(2h^2)) /
   sqrt(2*pi*h) (ref:sacf.c:117-148);
 - monotone two-pointer band sweep == np.searchsorted on the sorted
   rescaled time axis (ref:sacf.c:166-179, xcor.c:166-179); all lags
   share one union band of (i, j) pairs, ordered by integer half-lag
   bin of their delta (a stable radix sort of int16 keys, not a float
   sort of the deltas), so each lag is one contiguous slice and only
   its two edge bins take the exact float band test;
 - Levinson-Durbin ACF->AR per ITU-T G.729 with early termination on
   |E| <= eps (ref:acf24ar.c:48-73);
 - Laguerre iteration + Horner deflation for polynomial roots, real
   roots first, complex pairs (re, |im|) packed from the tail
   (ref:roots.c:74-203);
 - Lomb-Scargle periodogram on the integer frequency grid w_j =
   2*pi*(j+1) with phase rotation tau = atan2(2*Scs, Scc-Sss)/2
   (ref:perio.c:49-86).

Every kernel takes ``dtype`` (np.float64 default; np.float32 gives the
reference's single-precision twins — tits_ssacf/snorm/sxcor/sacf2ar/
sroots/sperio — including the wider 8-lane truncation).

``sacf``/``xcor`` additionally take ``stats``, as their callers differ:
 - "parity" (default): the lane-order-faithful Welford normalization —
   bit-compatible with the C build, used by the golden tests and by
   ``operators/guess_lag.py``, whose correlograms match the reference;
 - "fast": vectorized two-pass numpy mean/var (ddof=1) — identical to
   ~1e-15 relative, no Python-loop over n/4 blocks. The operators in
   ``operators/correlate.py`` (sacf/xcor/AR/PACF by key) always use it
   (their acceptance gate is the 6-dp DuckDB oracle, far above the
   1e-15 difference), keeping the per-series hot path fully vectorized.

Everything here is plain numpy over contiguous arrays — these functions
run inside Arrow-batched pandas UDFs (applyInPandas / cogroup /
mapInPandas), never per-row Python.
"""

from __future__ import annotations

import numpy as np

LANES = 4   # AVX2 = 4 doubles (ref:sacf.c:61-65)
LANES32 = 8  # AVX2 = 8 floats (ref:norm.c:48 widthof under the float twin)


def _lanes(dtype) -> int:
    return LANES if np.dtype(dtype) == np.float64 else LANES32


def _eps(dtype) -> float:
    return float(np.finfo(np.dtype(dtype)).eps)


# ---------------------------------------------------------------- stats / norm

def welford_stats(x: np.ndarray, dtype=np.float64):
    """(mean, sample variance) with the reference's exact accumulation:
    ``lanes`` parallel Welford lanes over x[0::L]..x[L-1::L] blocks,
    pairwise combine, scalar Welford tail, /(n-1). ref:norm.c:75-147.
    All arithmetic stays in ``dtype`` (float32 == the tits_snorm twin)."""
    dt = np.dtype(dtype).type
    x = np.asarray(x, dtype=dtype)
    lanes = _lanes(dtype)
    n = x.size
    mean = dt(0.0)
    svar = dt(0.0)
    nblk = n // lanes
    if nblk:
        blocks = x[: nblk * lanes].reshape(nblk, lanes)
        m1 = np.zeros(lanes, dtype=dtype)
        m2 = np.zeros(lanes, dtype=dtype)
        for i in range(nblk):
            xi = blocks[i]
            dlt = xi - m1
            m1 = m1 + dlt / dt(i + 1)
            m2 = m2 + dlt * (xi - m1)
        for i in range(lanes):
            mean += m1[i]
        mean /= dt(lanes)
        for i in range(lanes):
            for j in range(i + 1, lanes):
                svar -= dt(2) * m1[i] * m1[j]
        mtmp = (m1 * m1) * dt(lanes - 1)
        for i in range(lanes):
            svar += mtmp[i]
        svar *= dt(nblk)
        svar /= dt(lanes)
        for i in range(lanes):
            svar += m2[i]
    for i in range(nblk * lanes, n):
        numean = mean + (x[i] - mean) / dt(i + 1)
        svar += (x[i] - mean) * (x[i] - numean)
        mean = numean
    svar /= dt(n - 1)
    return mean, svar


def fast_stats(x: np.ndarray, dtype=np.float64):
    """Vectorized two-pass (mean, sample variance) — numpy-speed twin of
    welford_stats, equal to ~1e-15 relative in float64."""
    x = np.asarray(x, dtype=dtype)
    return x.mean(), x.var(ddof=1)


def znorm(x: np.ndarray, dtype=np.float64, stats: str = "parity") -> np.ndarray:
    """x <- (x - mean) / sdev, reference op order: (x + (-mean)) * (1/sqrt(var)).
    ref:norm.c:151-181."""
    dt = np.dtype(dtype).type
    x = np.asarray(x, dtype=dtype)
    mean, svar = (welford_stats if stats == "parity" else fast_stats)(x, dtype)
    return (x + (-mean)) * (dt(1.0) / np.sqrt(svar))


def meandiff(t: np.ndarray, dtype=np.float64):
    """Mean consecutive time step: -sum(t[i] - t[i+1]) / (n-1); NaN for
    n <= 1. ref:sacf.c:82-95."""
    t = np.asarray(t, dtype=dtype)
    if t.size <= 1:
        return np.dtype(dtype).type(np.nan)
    return -np.sum(t[:-1] - t[1:]) / np.dtype(dtype).type(t.size - 1)


# ----------------------------------------------------------- kernel ACF / XCF

def _kernel_consts(tau_scaled, dt):
    """(h, _xf, _vf): width h = 0.25*tau_scaled, exponent scale
    -1/(2h^2), total scale 1/sqrt(2*pi*h). ref:sacf.c:130-142."""
    h = dt(0.25) * tau_scaled
    return h, dt(-1.0) / (dt(2.0) * h * h), dt(1.0) / np.sqrt(dt(2.0 * np.pi) * h)


def _band_corr(lag, t1, y1, t2, y2, thresh, xf, vf):
    """One lag of the Edelson-Krolik banded, Gaussian-weighted sum:
    nsum = sum_{|lag-(t2j-t1i)|<thresh} y1i*y2j*K, dsum = sum K.
    Two-pointer cursor scan (ref:xcor.c:166-179) == searchsorted bands.

    Kept for single-lag callers/tests; the sacf/xcor hot paths use
    :func:`_band_corr_multi`, which amortizes band construction across
    all lags (5-7x faster at the reference's bench shapes)."""
    kti = lag + t1
    starts = np.searchsorted(t2, kti - thresh, side="left")
    ends = np.searchsorted(t2, kti + thresh, side="left")
    cnt = ends - starts
    total = int(cnt.sum())
    if total == 0:
        return 0.0, 0.0
    # ragged ranges: j indices for every (i, j) pair in band
    ii = np.repeat(np.arange(t1.size), cnt)
    jj = np.repeat(starts - np.concatenate(([0], np.cumsum(cnt)[:-1])), cnt) + np.arange(total)
    d = lag - (t2[jj] - t1[ii])
    K = vf * np.exp(xf * d * d)
    return np.sum(y1[ii] * y2[jj] * K), np.sum(K)


# Chunk cap on materialized union-band pairs (~8 float64 temporaries of
# this length ~= 0.5 GB peak); beyond it, lags are processed in chunks.
_BAND_PAIR_CAP = 8_000_000


def _lattice_cells(t: np.ndarray):
    """If ``t`` lies on an integer LATTICE (a regular grid with gaps
    allowed), return (g, cells) where cells[i] = round((t[i]-t[0])/g);
    else None. The candidate step is the minimum positive diff — the
    common data shapes (complete grids, randomly thinned grids, tick
    grids with silences) always contain at least one adjacent pair.

    Tolerance is deliberately tight (32 ulps of the span): the lattice
    fast path replaces per-pair deltas with per-diagonal
    representatives, and the kernel-weight error that substitution
    introduces is ~|2*xf*thresh*dev| relative — ulp-scale deviations
    keep it well under the 1e-10 C-golden gate, anything looser would
    not."""
    if t.size < 3:
        return None
    d = np.diff(t)
    g0 = float(d.min())
    if not np.isfinite(g0) or g0 <= 0:
        return None
    # seed cells with the (ulp-noisy) min diff, then refit the step
    # from the endpoints so rounding in g0 doesn't accumulate across
    # the span (a complete grid then gets the exact same g the former
    # regular-grid-only detection used)
    q = np.rint((t - t[0]) / g0)
    if q[-1] <= 0:
        return None
    g = float(t[-1] - t[0]) / float(q[-1])
    q = np.rint((t - t[0]) / g)
    tol = 32.0 * np.finfo(t.dtype).eps * max(abs(float(t[0])), abs(float(t[-1])))
    if float(np.abs(t - (t[0] + q * g)).max()) > tol:
        return None
    q = q.astype(np.int64)
    if np.any(np.diff(q) <= 0):
        return None
    return g, q


# Zero-fill density floor for the lattice path: bail out when the
# filled axis would exceed this many cells per observed point (the
# series is then too sparse for diagonal collapse to pay).
_LATTICE_FILL_CAP = 8


def _sliding_dots(y1: np.ndarray, y2: np.ndarray, d_lo: int, d_hi: int) -> np.ndarray:
    """S_d = sum_i y1[i] * y2[i+d] for d in [d_lo, d_hi], via one FFT
    cross-correlation (O(n log n) for all diagonals at once)."""
    n1, n2 = y1.size, y2.size
    L = 1
    while L < n1 + n2:
        L <<= 1
    c = np.fft.irfft(np.conj(np.fft.rfft(y1, L)) * np.fft.rfft(y2, L), L)
    d = np.arange(d_lo, d_hi + 1)
    return c[np.mod(d, L)]


def _band_corr_lattice(lags, t1, y1, t2, y2, thresh, xf, vf, dtype):
    """Lattice fast path for the banded Gaussian-weighted sums.

    When both series sit on integer lattices with the SAME step g
    (complete regular grids, thinned/gapped grids, tick grids with
    silences), the delta of a pair depends only on the diagonal
    d = cell2[j] - cell1[i]: delta_d = (t2[0] - t1[0]) + d*g.  The
    banded sums then collapse to per-diagonal sliding dot products
    over the ZERO-FILLED value arrays,
        S_d = sum_a yf1[a] * yf2[a + d],   c_d = sum_a m1[a] * m2[a + d]
    (m = presence indicators, so gaps contribute nothing), weighted by
    K(lag - delta_d) over the ~2*thresh/g diagonals in each lag's band
    — O(cells * ndiag) direct dots for narrow bands, one FFT
    cross-correlation for wide ones, instead of O(nlags * band * n1).
    Complete grids are the gap-free special case (this path subsumes
    the former regular-grid-only collapse); guess_lag's fixed 10ms tick
    grid and the per-second/minute event lattices the engine's ACF
    queries run on all land here.

    Returns (nsums, dsums), or None when the collapse is unsafe: not
    same-step lattices, non-finite values (the C propagates NaN only
    through bands that contain it), too sparse to zero-fill
    (_LATTICE_FILL_CAP), or a band boundary within rounding distance
    of a diagonal (membership could differ from the C's per-pair
    comparison).
    """
    dt = np.dtype(dtype).type
    if not (np.isfinite(y1).all() and np.isfinite(y2).all()):
        return None
    l1 = _lattice_cells(t1)
    l2 = _lattice_cells(t2)
    if l1 is None or l2 is None:
        return None
    g1, q1 = l1
    g2, q2 = l2
    g = 0.5 * (g1 + g2)
    if abs(g1 - g2) > 1e-9 * g:
        return None
    n1, n2 = t1.size, t2.size
    a_max = int(q1[-1])
    b_max = int(q2[-1])
    if a_max + 1 > _LATTICE_FILL_CAP * n1 or b_max + 1 > _LATTICE_FILL_CAP * n2:
        return None
    delta0 = float(t2[0] - t1[0])
    # diagonals d = cell2 - cell1 present: d in [-a_max, b_max];
    # restrict to the union band of all lags
    d_min = max(-a_max, int(np.floor((float(lags[0]) - float(thresh) - delta0) / g)) - 1)
    d_max = min(b_max, int(np.ceil((float(lags[-1]) + float(thresh) - delta0) / g)) + 1)
    nl = len(lags)
    nsums = np.zeros(nl, dtype=dtype)
    dsums = np.zeros(nl, dtype=dtype)
    if d_min > d_max:
        return nsums, dsums
    diags = np.arange(d_min, d_max + 1)
    deltas = dt(delta0) + diags.astype(dtype) * dt(g)
    # guard: no band boundary may sit within rounding distance of a
    # diagonal delta, else membership could flip vs the C per-pair scan
    scale = max(abs(deltas[0]), abs(deltas[-1]), float(abs(thresh)), 1.0)
    guard = 1e-9 * scale
    edges = np.concatenate([np.asarray(lags, dtype=np.float64) - float(thresh),
                            np.asarray(lags, dtype=np.float64) + float(thresh)])
    pos = (edges - delta0) / g
    frac = np.abs(pos - np.rint(pos)) * g
    if float(frac.min()) < guard:
        return None
    # zero-filled value/presence arrays on the lattice
    yf1 = np.zeros(a_max + 1, dtype=dtype)
    yf2 = np.zeros(b_max + 1, dtype=dtype)
    yf1[q1] = y1
    yf2[q2] = y2
    ndiag = d_max - d_min + 1
    if ndiag <= 64:
        m1 = np.zeros(a_max + 1, dtype=dtype)
        m2 = np.zeros(b_max + 1, dtype=dtype)
        m1[q1] = 1.0
        m2[q2] = 1.0
        S = np.zeros(ndiag, dtype=dtype)
        counts = np.zeros(ndiag, dtype=dtype)
        for r, d in enumerate(range(d_min, d_max + 1)):
            lo1 = max(0, -d)
            hi1 = min(a_max + 1, b_max + 1 - d)
            if lo1 >= hi1:
                continue
            S[r] = yf1[lo1:hi1] @ yf2[lo1 + d:hi1 + d]
            counts[r] = m1[lo1:hi1] @ m2[lo1 + d:hi1 + d]
    else:
        S = _sliding_dots(yf1, yf2, d_min, d_max).astype(dtype)
        m1 = np.zeros(a_max + 1, dtype=dtype)
        m2 = np.zeros(b_max + 1, dtype=dtype)
        m1[q1] = 1.0
        m2[q2] = 1.0
        counts = np.rint(_sliding_dots(m1, m2, d_min, d_max)).astype(dtype)
    for idx, k in enumerate(lags):
        kk = dt(k)
        lo = int(np.searchsorted(deltas, kk - thresh, side="left"))
        hi = int(np.searchsorted(deltas, kk + thresh, side="left"))
        if lo == hi:
            continue
        d = kk - deltas[lo:hi]
        K = vf * np.exp(xf * d * d)
        nsums[idx] = K @ S[lo:hi]
        dsums[idx] = K @ counts[lo:hi]
    return nsums, dsums


def _band_corr_lags(lags, t1, y1, t2, y2, thresh, xf, vf, dtype):
    """Dispatch: lattice (regular-with-gaps) collapse when safe, else the
    lag-binned union-band scan (:func:`_band_corr_multi`), chunked so each
    chunk's union stays within ~12 band-widths of lag range (amortizes
    the bin sort and build without letting the union balloon past the
    in-band work)."""
    out = _band_corr_lattice(lags, t1, y1, t2, y2, thresh, xf, vf, dtype)
    if out is not None:
        return out
    nl = len(lags)
    # estimated band width in lag-grid units is 2*thresh (lag step is 1)
    chunk = max(12, int(24.0 * float(thresh)))
    if nl <= chunk:
        return _band_corr_multi(lags, t1, y1, t2, y2, thresh, xf, vf, dtype)
    ns_parts, ds_parts = [], []
    for s in range(0, nl, chunk):
        ns, ds = _band_corr_multi(lags[s:s + chunk], t1, y1, t2, y2, thresh, xf, vf, dtype)
        ns_parts.append(ns)
        ds_parts.append(ds)
    return np.concatenate(ns_parts), np.concatenate(ds_parts)


def _lag_bins(x, base, nbins: int) -> np.ndarray:
    """Half-lag bin of each delta: ``floor(2 * (x - base))`` clipped to
    ``[0, nbins)``, as int16 keys (numpy's stable sort is a radix sort
    at that width) or int32 when ``nbins`` exceeds the int16 range.

    Every step is monotone in ``x``, so a delta whose bin lies strictly
    between the bins of a band's two float edges is strictly inside the
    band whatever the rounding; only the two edge bins need the exact
    test. ``x`` and ``base`` must share the dtype the deltas use."""
    key = np.int16 if nbins <= np.iinfo(np.int16).max else np.int32
    b = np.floor((x - base) * 2)
    np.clip(b, 0, nbins - 1, out=b)
    return b.astype(key)


def _band_corr_multi(lags, t1, y1, t2, y2, thresh, xf, vf, dtype):
    """All lags of the banded Gaussian-weighted sums in one pass.

    Band membership at lag k is ``-thresh < k - (t2j - t1i) <= thresh``,
    i.e. an *interval in delta = t2j - t1i*: ``k - thresh <= delta <
    k + thresh``.  So: materialize the union band over [lags[0],
    lags[-1]] once (ragged searchsorted ranges, ref:xcor.c:166-179's
    cursor == the per-row bounds), order the pairs by integer half-lag
    bin of delta (:func:`_lag_bins`, a stable radix sort), and every lag
    becomes a *contiguous slice* of the binned arrays: the bins from its
    lower edge's to its upper edge's, located by ``bincount`` offsets.
    Pairs inside the interior bins are in band by construction; the pairs
    of the two edge bins that fail the exact float test get zero weight,
    so membership is exactly the per-pair comparison above.  Per-lag work
    is the in-band pairs plus at most two half-lag bins (exp + dot).
    Returns (nsums, dsums) arrays.

    ``lags`` must be ascending (sacf: 1..nlags, xcor: -nlags..nlags).
    Only the summation *order* differs from the per-lag scan (by bin,
    then row-major, instead of row-major), a ~1e-15 relative reordering
    effect; C-golden parity is asserted at rtol=1e-10 in
    tests/test_kernels.py.
    """
    dt = np.dtype(dtype).type
    nl = len(lags)
    nsums = np.zeros(nl, dtype=dtype)
    dsums = np.zeros(nl, dtype=dtype)
    if t1.size == 0 or t2.size == 0:
        return nsums, dsums
    lo_n = np.searchsorted(t2, dt(lags[0]) + t1 - thresh, side="left")
    hi_n = np.searchsorted(t2, dt(lags[-1]) + t1 + thresh, side="left")
    cnt = hi_n - lo_n
    total = int(cnt.sum())
    if total == 0:
        return nsums, dsums
    if total > _BAND_PAIR_CAP and nl > 1:
        # bound peak memory: split the lag range, recurse per half
        mid = nl // 2
        n1s, d1s = _band_corr_multi(lags[:mid], t1, y1, t2, y2, thresh, xf, vf, dtype)
        n2s, d2s = _band_corr_multi(lags[mid:], t1, y1, t2, y2, thresh, xf, vf, dtype)
        return np.concatenate([n1s, n2s]), np.concatenate([d1s, d2s])
    # ragged union ranges -> flat pair arrays (values repeated directly;
    # no ii index array needed)
    jj = np.repeat(lo_n - np.concatenate(([0], np.cumsum(cnt)[:-1])), cnt) + np.arange(total)
    delta = t2[jj] - np.repeat(t1, cnt)
    w = np.repeat(y1, cnt) * y2[jj]
    kks = np.asarray(lags, dtype=dtype)
    lo_edge = kks - thresh
    hi_edge = kks + thresh
    base = lo_edge[0]
    nbins = int(np.floor((hi_edge[-1] - base) * 2)) + 2
    bins = _lag_bins(delta, base, nbins)
    order = np.argsort(bins, kind="stable")
    delta = delta[order]
    w = w[order]
    off = np.zeros(nbins + 1, dtype=np.int64)
    np.cumsum(np.bincount(bins, minlength=nbins), out=off[1:])
    b_lo = _lag_bins(lo_edge, base, nbins)
    b_hi = _lag_bins(hi_edge, base, nbins)
    for idx in range(nl):
        lo = int(off[b_lo[idx]])
        hi = int(off[b_hi[idx] + 1])
        if lo == hi:
            continue
        kk = kks[idx]
        d = kk - delta[lo:hi]
        K = vf * np.exp(xf * d * d)
        # exact edge tests, on the edge bins only
        e = int(off[b_lo[idx] + 1]) - lo
        K[:e][delta[lo:lo + e] < lo_edge[idx]] = 0
        e = int(off[b_hi[idx]]) - lo
        K[e:][delta[lo + e:hi] >= hi_edge[idx]] = 0
        nsums[idx] = K @ w[lo:hi]
        dsums[idx] = K.sum()
    return nsums, dsums


def _trunc(a: np.ndarray, lanes: int = LANES) -> np.ndarray:
    n = a.size - a.size % lanes
    return a[:n]


def sacf(
    t: np.ndarray, y: np.ndarray, nlags: int, tau: float,
    dtype=np.float64, stats: str = "parity",
) -> np.ndarray:
    """Kernel-weighted sample autocorrelation for irregular series,
    lags 1..nlags on the tau grid. ref:sacf.c:185-226 (float twin
    ref:sacf.c:228-256)."""
    dt = np.dtype(dtype).type
    lanes = _lanes(dtype)
    t = _trunc(np.ascontiguousarray(t, dtype=dtype), lanes)
    y = _trunc(np.ascontiguousarray(y, dtype=dtype), lanes)
    if t.size == 0:
        return np.full(nlags, np.nan, dtype=dtype)
    y = znorm(y, dtype, stats)
    rtau = dt(1.0) / dt(tau)
    tmd = meandiff(t, dtype)
    ts = t * rtau
    h, xf, vf = _kernel_consts(tmd * rtau, dt)
    thresh = h * dt(5.0)
    nsums, dsums = _band_corr_lags(
        list(range(1, nlags + 1)), ts, y, ts, y, thresh, xf, vf, dtype)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(dsums != 0.0, nsums / dsums, np.nan).astype(dtype)


def xcor(
    t1, y1, t2, y2, nlags: int, tau: float,
    dtype=np.float64, stats: str = "parity",
) -> np.ndarray:
    """Kernel-weighted cross-correlation (Edelson-Krolik), lags
    -nlags..+nlags on the tau grid; kernel width from the *smaller*
    mean time step of the two series. ref:xcor.c:185-238 (float twin
    ref:xcor.c:240-268)."""
    dt = np.dtype(dtype).type
    lanes = _lanes(dtype)
    t1 = _trunc(np.ascontiguousarray(t1, dtype=dtype), lanes)
    y1 = _trunc(np.ascontiguousarray(y1, dtype=dtype), lanes)
    t2 = _trunc(np.ascontiguousarray(t2, dtype=dtype), lanes)
    y2 = _trunc(np.ascontiguousarray(y2, dtype=dtype), lanes)
    if t1.size == 0 or t2.size == 0:
        return np.full(2 * nlags + 1, np.nan, dtype=dtype)
    y1 = znorm(y1, dtype, stats)
    y2 = znorm(y2, dtype, stats)
    rtau = dt(1.0) / dt(tau)
    tmd1 = meandiff(t1, dtype)
    tmd2 = meandiff(t2, dtype)
    s1 = t1 * rtau
    s2 = t2 * rtau
    h, xf, vf = _kernel_consts(min(tmd1, tmd2) * rtau, dt)
    thresh = h * dt(5.0)
    nsums, dsums = _band_corr_lags(
        list(range(-nlags, nlags + 1)), s1, y1, s2, y2, thresh, xf, vf, dtype)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(dsums != 0.0, nsums / dsums, np.nan).astype(dtype)


# --------------------------------------------------------------- AR / spectral

def acf2ar(acf: np.ndarray, mo: int | None = None, dtype=np.float64) -> np.ndarray:
    """Levinson-Durbin recursion ACF -> AR(mo) coefficients, assuming
    acf[0-lag] == 1; stops early when |E| <= eps. ref:acf24ar.c:48-73
    (float twin ref:acf24ar.c:82-98)."""
    acf = np.asarray(acf, dtype=dtype)
    dt = np.dtype(dtype).type
    eps = _eps(dtype)
    if mo is None:
        mo = acf.size
    ar = np.zeros(mo, dtype=dtype)
    E = dt(1.0)
    for i in range(mo):
        if not (abs(E) > eps):
            break
        k = -acf[i]
        for j in range(1, i + 1):
            k -= ar[j - 1] * acf[i - j]
        k /= E
        an = ar.copy()
        an[i] = k
        for j in range(1, i + 1):
            an[j - 1] = ar[j - 1] + k * ar[i - j]
        ar[: i + 1] = an[: i + 1]
        E *= dt(1) - k * k
    return ar


def acf2pacf(acf: np.ndarray, mo: int | None = None, dtype=np.float64) -> np.ndarray:
    """Partial autocorrelation function from the ACF: the negated
    reflection coefficients of the same Levinson-Durbin recursion
    :func:`acf2ar` runs (ref:acf24ar.c:48-73), so pacf[k-1] equals the
    last coefficient of an order-k AR fit under the statistical sign
    convention (pacf at lag 1 == acf at lag 1). Orders past an early
    |E| <= eps break are NaN (the recursion is undefined there, which
    the C signals by stopping)."""
    acf = np.asarray(acf, dtype=dtype)
    dt = np.dtype(dtype).type
    eps = _eps(dtype)
    if mo is None:
        mo = acf.size
    ar = np.zeros(mo, dtype=dtype)
    pacf = np.full(mo, np.nan, dtype=dtype)
    E = dt(1.0)
    for i in range(mo):
        if not (abs(E) > eps):
            break
        k = -acf[i]
        for j in range(1, i + 1):
            k -= ar[j - 1] * acf[i - j]
        k /= E
        pacf[i] = -k
        an = ar.copy()
        an[i] = k
        for j in range(1, i + 1):
            an[j - 1] = ar[j - 1] + k * ar[i - j]
        ar[: i + 1] = an[: i + 1]
        E *= dt(1) - k * k
    return pacf


# Cap on the (harmonics x points) trig block materialized at once
# (~3 arrays of this many elements); larger problems chunk over POINTS
# so every chunk still holds all nw harmonic rows (the doubling scheme
# below needs the low harmonics in reach) and partial sums accumulate.
_PERIO_BLOCK = 4_000_000


def perio(t: np.ndarray, y: np.ndarray, nw: int, dtype=np.float64) -> np.ndarray:
    """Lomb-Scargle periodogram at frequencies w_j = 2*pi*(j+1),
    j = 0..nw-1. ref:perio.c:49-86 (float twin ref:perio.c:88-104).

    The frequencies are HARMONICS of one base phase
    (theta_j = (j+1) * 2*pi*t), so the (nw x points) cos/sin block is
    built from TWO libm trig rows (cos/sin of the base) followed by
    log2(nw) angle-addition doubling steps
        cos((m+h)p) = cos(mp)cos(hp) - sin(mp)sin(hp)
    — six big fused ufunc passes per step instead of libm cos+sin per
    element (the block's former dominant cost). Error grows with the
    ~log2(nw) additions per harmonic (measured ~4e-12 absolute at
    nw=400), well under the kernel's 1e-10 golden gate vs the C.
    Points are chunked to bound the live block at _PERIO_BLOCK
    elements; the five per-frequency sums accumulate across chunks and
    the C's phase/power formulas (ref:perio.c:66-85) are applied once
    at the end. Same per-row formulas as the C, golden-gated at
    rtol=1e-10."""
    dt = np.dtype(dtype).type
    t = np.asarray(t, dtype=dtype)
    y = np.asarray(y, dtype=dtype)
    n = t.size
    xc = np.zeros(nw, dtype=dtype)
    xs = np.zeros(nw, dtype=dtype)
    cc = np.zeros(nw, dtype=dtype)
    ss = np.zeros(nw, dtype=dtype)
    cs = np.zeros(nw, dtype=dtype)
    ncol = max(1, _PERIO_BLOCK // max(1, nw))
    c = np.empty((nw, min(ncol, n)), dtype=dtype)
    s = np.empty_like(c)
    tmp = np.empty_like(c)
    for i0 in range(0, n, ncol):
        i1 = min(n, i0 + ncol)
        w = i1 - i0
        cb, sb, tb = c[:, :w], s[:, :w], tmp[:, :w]
        base = (dt(2.0) * dt(np.pi)) * t[i0:i1]
        np.cos(base, out=cb[0])
        np.sin(base, out=sb[0])
        m = 1
        while m < nw:
            k = min(m, nw - m)
            cm, sm = cb[m - 1], sb[m - 1]
            np.multiply(cm, cb[:k], out=cb[m:m + k])
            np.multiply(sm, sb[:k], out=tb[:k])
            np.subtract(cb[m:m + k], tb[:k], out=cb[m:m + k])
            np.multiply(sm, cb[:k], out=sb[m:m + k])
            np.multiply(cm, sb[:k], out=tb[:k])
            np.add(sb[m:m + k], tb[:k], out=sb[m:m + k])
            m += k
        yk = y[i0:i1]
        xc += cb @ yk
        xs += sb @ yk
        cc += np.einsum("ij,ij->i", cb, cb)
        ss += np.einsum("ij,ij->i", sb, sb)
        cs += np.einsum("ij,ij->i", cb, sb)
    ph = np.arctan2(dt(2.0) * cs, cc - ss) / dt(2.0)
    cp, sp = np.cos(ph), np.sin(ph)
    ct = cp * xc + sp * xs
    st = cp * xs - sp * xc
    cct, sst, cst = cp * cp, sp * sp, cp * sp
    p = (ct * ct) / (cct * cc + dt(2.0) * cst * cs + sst * ss)
    p += (st * st) / (cct * ss - dt(2.0) * cst * cs + sst * cc)
    return dt(0.5) * p


# -------------------------------------------------------------------- roots

def _horner_eval(p: np.ndarray, n: int, at, ct):
    """Horner evaluation of p (monomial coeffs, degree n) and first two
    derivatives at a complex point; d2 is doubled like the reference.
    ref:roots.c:74-90."""
    d0 = d1 = d2 = ct(0j)
    for i in range(n, 1, -1):
        d0 = p[i] + d0 * at
        d1 = d0 + d1 * at
        d2 = d1 + d2 * at
    d0 = p[1] + d0 * at
    d1 = d0 + d1 * at
    d0 = p[0] + d0 * at
    return d0, d1, ct(2.0) * d2


def _laguerre(p: np.ndarray, n: int, x, ct, eps):
    """Laguerre iteration (max 32 steps) for one root. ref:roots.c:133-159."""
    for _ in range(32):
        d0, d1, d2 = _horner_eval(p, n, x, ct)
        if abs(d0) < eps:
            break
        g = d1 / d0
        h = g * g - d2 / d0
        r = np.sqrt((h * ct(n) - g * g) * ct(n - 1))
        den1, den2 = g + r, g - r
        den = den1 if abs(den1) > abs(den2) else den2
        a = ct(n) / den
        if abs(a) < eps:
            break
        x -= a
    return x


def _deflate_real(p: np.ndarray, n: int, at) -> None:
    p[:n] = p[1 : n + 1]
    p[n] = 0.0
    for i in range(n - 1, 0, -1):
        p[i - 1] += p[i] * at


def _deflate(p: np.ndarray, n: int, at, eps) -> int:
    """Factor out (x-at) if real else (x-at)(x-conj(at)); returns degree
    reduction (1 or 2). ref:roots.c:104-131."""
    if abs(at.imag) < eps:
        _deflate_real(p, n, at.real)
        return 1
    aa = (at * at.conjugate()).real
    ra = 2.0 * at.real
    p[: n - 1] = p[2 : n + 1]
    p[n] = 0.0
    p[n - 1] = 0.0
    for i in range(n - 2, 0, -1):
        p[i - 1] += p[i] * ra - p[i + 1] * aa
    return 2


def roots(p: np.ndarray, dtype=np.float64) -> tuple[np.ndarray, np.ndarray]:
    """All roots of the real polynomial with monomial coefficients p
    (p[0] + p[1] x + ... + p[n] x^n).

    Returns (real_roots, complex_pairs) where complex_pairs rows are
    (re, |im|) for each conjugate pair — matching the reference's output
    layout of real roots first, pairs packed from the tail.
    ref:roots.c:162-203 (float twin ref:roots.c:205-228)."""
    p = np.asarray(p, dtype=dtype)
    ct = np.complex64 if np.dtype(dtype) == np.float32 else np.complex128
    eps = _eps(dtype)
    n = p.size - 1
    if n == 0 or abs(p[n]) < eps:
        raise ValueError("degenerate polynomial (zero leading coefficient)")
    reals: list[float] = []
    pairs: list[tuple[float, float]] = []
    q = p.copy()  # real coefficients throughout, like the C deflation
    guess = ct(0j)
    while n > 1:
        guess = _laguerre(q, n, guess, ct, eps)
        red = _deflate(q, n, guess, eps)
        if red == 1:
            reals.append(float(guess.real))
            n -= 1
        else:
            pairs.append((float(guess.real), float(abs(guess.imag))))
            n -= 2
    if n == 1:
        reals.append(float((-q[0] / q[1]).real))
    return np.asarray(reals), np.asarray(pairs).reshape(-1, 2)
