"""Seasonality / period / decomposition / detection operators (SURVEY.md §2.5).

Parity targets (per-series array computations of the reference, re-expressed
as Arrow-batched pandas UDFs):

- period detection, 13 methods (``periods.rs:17-46`` enum; impls
  ``periods.rs:275-1500``; outputs ``ts_periods.cpp:57-74``)
- seasonality analysis & strength (``seasonality.rs:323-830``)
- detrending (``detrending.rs:18-282``) & classical/MSTL decomposition
  (``detrending.rs:283-372``, ``decomposition.rs:151``)
- peak detection (``peaks.rs:134-243``)
- changepoints: PELT (``changepoint.rs:16-180``) and BOCPD
  (``changepoint.rs:198-360``)

All detectors are deterministic numpy (no scipy in this environment): the
periodogram is numpy rfft, Lomb-Scargle is the textbook Press-Rybicki form,
PELT is the standard pruned dynamic program with L2/L1/Normal costs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.batched import SeriesOp, series_map
from ..functions.models import detect_seasonality, interpolate_nulls

EPS = 2.220446049250313e-16


# ---------------------------------------------------------------------------
# numpy detectors
# ---------------------------------------------------------------------------

def _detrend_linear(y):
    t = np.arange(len(y), dtype=float)
    b1, b0 = np.polyfit(t, y, 1)
    return y - (b0 + b1 * t)


def _periodogram(y):
    x = _detrend_linear(y - y.mean())
    spec = np.abs(np.fft.rfft(x)) ** 2
    freqs = np.fft.rfftfreq(len(y))
    spec[0] = 0.0
    return freqs, spec


def _acf_all(y, max_lag):
    x = y - y.mean()
    denom = float(np.sum(x * x))
    if denom <= 0:
        return np.zeros(max_lag + 1)
    n = len(y)
    out = np.zeros(max_lag + 1)
    out[0] = 1.0
    for k in range(1, max_lag + 1):
        out[k] = float(np.sum(x[:-k] * x[k:]) / denom)
    return out


def _fft_candidates(y, top=5):
    """Top periodogram candidates as (period, share_conf, peak_mean_conf).

    ``share_conf`` is the bin's share of total spectral power (0-1 scale,
    used by the regression/autoperiod branches); ``peak_mean_conf`` is the
    peak-to-mean power ratio — the reference's FFT confidence convention
    (``periods.rs:1370-1375``: "FFT confidence is peak-to-mean power
    ratio"), against which the 5.0 default threshold applies."""
    freqs, spec = _periodogram(y)
    n = len(y)
    cands = []
    order = np.argsort(spec)[::-1]
    for i in order:
        if freqs[i] <= 0:
            continue
        p = 1.0 / freqs[i]
        if 2 <= p <= n // 2:
            cands.append((int(round(p)), float(spec[i])))
        if len(cands) >= top:
            break
    total = float(spec.sum()) or 1.0
    nbins = n // 2
    return [(p, pw / total, pw * nbins / total) for p, pw in cands]


def _acf_peak(y, max_lag):
    acf = _acf_all(y, max_lag)
    best, conf = 0, 0.0
    for k in range(2, max_lag):
        if acf[k] > acf[k - 1] and acf[k] > acf[k + 1] and acf[k] > conf:
            best, conf = k, float(acf[k])
    return best, max(conf, 0.0)


def _acf_period(y):
    n = len(y)
    return _acf_peak(y, min(n // 2, 400))


def _lomb_scargle(y):
    """Normalized Lomb-Scargle periodogram on an evenly spaced grid."""
    n = len(y)
    t = np.arange(n, dtype=float)
    x = y - y.mean()
    var = float(np.var(x)) or 1.0
    periods = np.arange(2, max(n // 2, 3))
    best_p, best_pw = 0, 0.0
    for p in periods:
        w = 2 * math.pi / p
        tau = math.atan2(float(np.sum(np.sin(2 * w * t))),
                         float(np.sum(np.cos(2 * w * t)))) / (2 * w)
        c = np.cos(w * (t - tau))
        s_ = np.sin(w * (t - tau))
        num_c = float(np.sum(x * c)) ** 2
        num_s = float(np.sum(x * s_)) ** 2
        den_c = float(np.sum(c * c)) or 1.0
        den_s = float(np.sum(s_ * s_)) or 1.0
        power = (num_c / den_c + num_s / den_s) / (2 * var)
        if power > best_pw:
            best_p, best_pw = int(p), float(power)
    conf = 1.0 - math.exp(-best_pw) if best_pw < 700 else 1.0
    return best_p, conf


def _autoperiod(y):
    """FFT candidate periods validated on the ACF (autoperiod algorithm)."""
    cands = [(p, share) for p, share, _ in _fft_candidates(y, top=5)]
    n = len(y)
    max_lag = min(n // 2, 400)
    acf = _acf_all(y, max_lag)
    for p, pw in cands:
        if p + 1 < len(acf):
            # valid if the ACF has a local hill at the candidate
            lo, hi = max(2, p - 1), min(len(acf) - 2, p + 1)
            seg = acf[lo:hi + 1]
            if len(seg) and float(seg.max()) > 0 and acf[p] >= 0:
                return p, float(pw), True
    if cands:
        return cands[0][0], float(cands[0][1]), False
    return 0, 0.0, False


def _seasonal_fit_sse(y, p):
    n = len(y)
    if p < 2 or n < 2 * p:
        return float("inf"), 0
    idx = np.zeros(p)
    for ph in range(p):
        vals = y[ph::p]
        idx[ph] = vals.mean() if len(vals) else 0.0
    fitted = np.array([idx[t % p] for t in range(n)])
    return float(np.sum((y - fitted) ** 2)), p


def _aic_period(y):
    x = _detrend_linear(y)
    n = len(y)
    best_p, best_aic = 0, float("inf")
    for p in range(2, max(n // 2, 3)):
        sse, k = _seasonal_fit_sse(x, p)
        if not math.isfinite(sse) or sse <= 0:
            continue
        aic = n * math.log(sse / n) + 2 * k
        if aic < best_aic:
            best_p, best_aic = p, aic
    conf = 1.0 if best_p else 0.0
    return best_p, conf


def _ssa_period(y, n_iter: int = 30):
    """SSA: dominant lag-covariance eigenvector oscillation period.

    The dominant eigenvector of C = X'X/m (X = L-lag trajectory matrix) is
    found by fixed-count power iteration instead of a LAPACK eigensolver —
    same dominant direction, but every arithmetic step is deterministic
    sequential-order (the ``np.cumsum(...)[-1]`` trick keeps the strict
    left-to-right summation at C speed), so the DuckDB oracle can replay
    the run bit-for-bit. Confidence = lambda_max / trace(C) — identical to
    the former eigh-based w[-1]/w.sum() (trace = eigenvalue sum)."""
    n = len(y)
    L = min(n // 2, 100)
    if L < 4:
        return 0, 0.0
    mean = float(np.cumsum(y)[-1]) / n
    x = y - mean
    X = np.lib.stride_tricks.sliding_window_view(x, L)
    m = len(X)
    v = np.full(L, 1.0 / math.sqrt(float(L)))
    for _ in range(n_iter):
        u = np.cumsum(X * v[None, :], axis=1)[:, -1]
        w = np.cumsum(X * u[:, None], axis=0)[-1, :]
        nrm = math.sqrt(float(np.cumsum(w * w)[-1]))
        if nrm == 0:
            return 0, 0.0
        v = w / nrm
    u = np.cumsum(X * v[None, :], axis=1)[:, -1]
    lam = float(np.cumsum(u * u)[-1]) / m
    tr = float(np.cumsum(np.cumsum(X * X, axis=1)[:, -1])[-1]) / m
    sgn = np.sign(v)
    zc = int(((sgn[:-1] != sgn[1:]) & (v[:-1] != 0)).sum())
    if zc == 0:
        return 0, 0.0
    p = int(round(2 * L / zc))
    conf = lam / tr if tr > 0 else 0.0
    return (p if 2 <= p <= n // 2 else 0), conf


def _stl_decompose_seq(y, m, iterations=2):
    """Sequential-sum replica of ``models._stl_lite`` (identical algorithm:
    iterate seasonal = centered phase-means of the detrended series, trend =
    clipped centered MA of the deseasonalized series) with every reduction
    strict left-to-right, so the period-scoring decisions built on it are
    replayable bit-for-bit by the DuckDB oracle's ``list_sum`` folds."""
    from ..functions.models import _seq_sum
    n = len(y)
    trend = np.zeros(n)
    seasonal = np.zeros(n)
    w = m if m % 2 == 1 else m + 1
    k = w // 2
    for _ in range(iterations):
        detr = y - trend
        idx = np.array([_seq_sum(detr[ph::m]) / len(detr[ph::m])
                        for ph in range(m)])
        idx = idx - _seq_sum(idx) / m
        seasonal = idx[np.arange(n) % m]
        deseas = y - seasonal
        trend = np.array([
            _seq_sum(deseas[max(0, t - k):min(n, t + k + 1)])
            / (min(n, t + k + 1) - max(0, t - k)) for t in range(n)])
    resid = y - trend - seasonal
    return trend, seasonal, resid


def _stl_period(y):
    """STL period pick (ref ``periods.rs:952-1120`` ``stl_period``):
    ~20 evenly spaced integer candidates in [4, n/3] (Rust half-away-from-
    zero rounding), each scored on the *actual STL decomposition* (our
    ``_stl_lite`` algorithm, sequential-sum replica) by
    strength = max(1 - Var(remainder) / Var(seasonal + remainder), 0)
    — the reference's seasonal-strength formula; strict maximum wins over
    ascending candidates, best initialized to the smallest candidate.
    Constant series → (NaN, 0) like the reference's total_var < EPS path."""
    from ..functions.models import _seq_sum
    n = len(y)
    if n < 16:
        return float("nan"), 0.0
    min_p = 4
    max_p = min(n // 3, n // 2)
    if min_p >= max_p:
        return float("nan"), 0.0
    n_cand = 20
    step = max((max_p - min_p) / n_cand, 1.0)
    # rust f64::round = half away from zero
    cands = sorted({int(math.floor(min_p + i * step + 0.5))
                    for i in range(n_cand)})
    cands = [p for p in cands if min_p <= p <= max_p and n >= 2 * p]
    if not cands:
        return float("nan"), 0.0
    my = _seq_sum(y) / n
    total_var = _seq_sum((y - my) ** 2) / n
    if total_var < EPS:
        return float("nan"), 0.0
    best_p, best_s = cands[0], 0.0
    for p in cands:
        _, seasonal, resid = _stl_decompose_seq(y, p)
        detr = seasonal + resid
        md = _seq_sum(detr) / n
        var_d = _seq_sum((detr - md) ** 2) / n
        mr = _seq_sum(resid) / n
        var_r = _seq_sum((resid - mr) ** 2) / n
        s = max(1.0 - var_r / var_d, 0.0) if var_d > EPS else 0.0
        if s > best_s:
            best_p, best_s = p, s
    return float(best_p), best_s


def _matrix_profile_period(y):
    """Matrix-profile period (ref ``periods.rs:1134-1250``
    ``matrix_profile_period``): z-normalized nearest-neighbor distance
    profile with subsequence length m = clamp(n/10, 4, n/4) and exclusion
    zone max(m/4, 1); good motifs are profile entries below 2× the 25th
    percentile; the period is the most common |mpi[i] - i| motif spacing
    with exclusion < lag < n/2, confidence = that lag's share of good
    motifs. On tied counts we take the smallest lag (the reference's
    ``max_by_key`` iterates a HashMap, which is order-nondeterministic —
    a deterministic tie-break is required for replay). All reductions are
    sequential (np.cumsum rows) so the DuckDB oracle replays every
    distance, threshold, and count bit-for-bit."""
    n = len(y)
    if n < 32:
        return float("nan"), 0.0
    m = min(max(n // 10, 4), n // 4)
    excl = max(m // 4, 1)
    nw = n - m + 1
    if nw < 10:
        return float("nan"), 0.0
    W = np.lib.stride_tricks.sliding_window_view(np.asarray(y, float), m)
    means = np.cumsum(W, axis=1)[:, -1] / m
    dev = W - means[:, None]
    stds = np.sqrt(np.cumsum(dev * dev, axis=1)[:, -1] / m)
    stds = np.maximum(stds, EPS)
    Z = dev / stds[:, None]
    D = np.full((nw, nw), np.inf)
    for lag in range(excl, nw):
        A = Z[:-lag] - Z[lag:]
        d = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
        i = np.arange(nw - lag)
        D[i, i + lag] = d
        D[i + lag, i] = d
    mp = D.min(axis=1)
    # argmin keeps the first (smallest-index) partner on ties — the same
    # winner as the reference's strict `<` update order
    mpi = D.argmin(axis=1)
    finite = np.sort(mp[np.isfinite(mp)])
    thr = finite[len(finite) // 4] * 2.0 if len(finite) > 10 else float("inf")
    lag_counts: dict[int, int] = {}
    valid = 0
    for i in range(nw):
        if math.isfinite(mp[i]) and mp[i] < thr:
            lag = abs(int(mpi[i]) - i)
            if excl < lag < n // 2:
                lag_counts[lag] = lag_counts.get(lag, 0) + 1
                valid += 1
    if not lag_counts:
        return float("nan"), 0.0
    best_lag, best_count = max(lag_counts.items(),
                               key=lambda kv: (kv[1], -kv[0]))
    return float(best_lag), best_count / valid


def _sazed(y):
    """SAZED (ref ``periods.rs:1259-1330`` ``sazed_period``): mean-removed
    Hann-windowed series zero-padded to next_power_of_two(4n); O(n²) DFT
    power spectrum; local-maximum peaks whose FRACTIONAL period
    padded_len/k lies in [2, n/2]; noise floor = median in-band power;
    returns (period, power, snr) for the strongest peak, period as a
    fractional double exactly like the reference. Every spectrum sum is
    strict left-to-right (np.cumsum) and DuckDB's cos/sin are bitwise
    libm-identical on this host, so the oracle replays the whole spectral
    pipeline bit-for-bit. (NaN, 0, 0) when no peak qualifies."""
    n = len(y)
    if n < 16:
        return float("nan"), 0.0, 0.0
    pl = 1
    while pl < 4 * n:
        pl *= 2
    mean = float(np.cumsum(y)[-1]) / n
    i = np.arange(n, dtype=float)
    hann = 0.5 * (1.0 - np.cos(2.0 * np.pi * i / (n - 1)))
    vals = (y - mean) * hann
    min_p, max_p = 2, n // 2
    klo = max(pl // max_p, 1)
    khi = min(pl // min_p, pl // 2)   # exclusive upper bound of the k loop

    def power(k):
        c = -2.0 * np.pi * k
        ang = c * i / pl
        real = float(np.cumsum(vals * np.cos(ang))[-1])
        imag = float(np.cumsum(vals * np.sin(ang))[-1])
        return (real * real + imag * imag) / pl

    spec = {k: power(k) for k in range(max(klo - 1, 1),
                                       min(khi + 1, pl // 2))}
    peaks = []
    in_band = []
    for k in range(klo, khi):
        p = spec[k]
        in_band.append(p)
        is_peak = ((k == 1 or p > spec[k - 1])
                   and (k + 1 >= pl // 2 or p > spec[k + 1]))
        period = pl / k
        if is_peak and min_p <= period <= max_p:
            peaks.append((period, p))
    peaks.sort(key=lambda t: -t[1])   # stable: ties keep k ascending
    in_band.sort()
    noise = in_band[len(in_band) // 2] if in_band else 1.0
    if not peaks:
        return float("nan"), 0.0, 0.0
    period, pw = peaks[0]
    snr = pw / noise if noise > 0 else pw
    return period, pw, snr


#: Reference method-default confidence thresholds (``periods.rs:1363-1375``):
#: FFT confidence is a peak-to-mean power ratio so its bar is higher; every
#: other method is on a 0-1 ACF-like scale.
DEFAULT_MIN_CONFIDENCE_ACF = 0.3
DEFAULT_MIN_CONFIDENCE_FFT = 5.0


def detect_periods(y: np.ndarray, method: str = "auto",
                   expected_periods: list[float] | None = None,
                   min_confidence: float | None = None) -> dict:
    """Multi-method period detection (``periods.rs:275-1500``).

    Mirrors the reference surface's default confidence filtering
    (``ts_periods.cpp:95-163`` passes -1.0 → ``periods.rs:1488-1546``
    applies the method-default threshold): candidates below the threshold
    are dropped, and when every candidate is cut the result is the
    "no seasonality" answer — empty periods, primary_period 0.0, and the
    method label suffixed with " (no seasonality)". ``min_confidence=None``
    selects the method default (5.0 for fft, 0.3 otherwise); a value <= 0
    disables filtering. Periods are doubles (the reference's f64 — sazed
    returns fractional periods). ``amplitude``/``phase`` are 0.0 like every
    arm of the reference dispatch (``periods.rs:1521-1760``)."""
    y = interpolate_nulls(np.asarray(y, dtype=float))
    n = len(y)
    periods: list[dict] = []

    def add(p, conf, iteration=0, strength=None):
        if p and not math.isnan(p) and p >= 2:
            matched = None
            dev = None
            if expected_periods:
                diffs = [(abs(p - e), e) for e in expected_periods]
                d, e = min(diffs)
                # reference DEFAULT_TOLERANCE = 0.1 (periods.rs:1378-1380)
                if e > 0 and d / e <= 0.1:
                    matched, dev = float(e), d / e
            periods.append({
                "period": float(p), "confidence": float(conf),
                "strength": float(strength if strength is not None else conf),
                "amplitude": 0.0,
                "phase": 0.0, "iteration": iteration,
                "matches_expected": matched is not None,
                "matched_expected_period": matched,
                "match_deviation": dev,
            })

    m = method.lower()
    if m == "fft":
        for i, (p, _share, pm) in enumerate(_fft_candidates(y, top=3)):
            add(p, pm, i)
    elif m == "regression":
        for i, (p, share, _pm) in enumerate(_fft_candidates(y, top=3)):
            add(p, share, i)
    elif m == "acf":
        p, c = _acf_period(y)
        add(p, c)
    elif m in ("autoperiod", "cfd_autoperiod"):
        p, c, validated = _autoperiod(y)
        add(p, c if validated else c * 0.5)
    elif m == "lomb_scargle":
        p, c = _lomb_scargle(y)
        add(p, c)
    elif m == "aic":
        p, c = _aic_period(y)
        add(p, c)
    elif m == "ssa":
        p, c = _ssa_period(y)
        add(p, c)
    elif m == "stl":
        p, c = _stl_period(y)
        add(p, c)
    elif m == "matrix_profile":
        p, c = _matrix_profile_period(y)
        add(p, c)
    elif m == "sazed":
        p, pw, snr = _sazed(y)
        # dispatch confidence = snr.min(1.0), strength = raw spectral power
        # (periods.rs:1742-1760)
        add(p, min(snr, 1.0), strength=pw)
    elif m == "multi":
        # iterative removal: detect, remove seasonal component, repeat.
        # Sequential-order primitives (models._linfit / _seq_sum) throughout:
        # the residual of round k feeds round k+1's detection, so the DuckDB
        # oracle must replay every intermediate bit-for-bit — same pattern
        # as the r4 optimizer replays.
        from ..functions.models import _linfit, _seq_sum
        resid = y.copy()
        for it in range(3):
            p = detect_seasonality(resid)
            if p <= 1:
                break
            b1, b0 = _linfit(resid)
            x = resid - (b0 + b1 * np.arange(n, dtype=float))
            idx = np.array([_seq_sum(x[ph::p]) / max(len(x[ph::p]), 1)
                            for ph in range(p)])
            fitted = np.array([idx[t % p] for t in range(n)])
            mx = _seq_sum(x) / n
            var_x = _seq_sum((x - mx) ** 2) / n
            mr = _seq_sum(x - fitted) / n
            var_r = _seq_sum((x - fitted - mr) ** 2) / n
            add(p, 1.0 - var_r / (var_x or 1.0), it)
            resid = resid - fitted
    else:  # auto
        p, c, validated = _autoperiod(y)
        if not validated:
            p2 = detect_seasonality(y)
            if p2 > 1:
                p, c = p2, max(c, 0.5)
        add(p, c)

    # reference-default confidence filter (periods.rs:1488-1546)
    thr = min_confidence if min_confidence is not None else (
        DEFAULT_MIN_CONFIDENCE_FFT if m == "fft"
        else DEFAULT_MIN_CONFIDENCE_ACF)
    if thr > 0:
        periods = [d for d in periods if d["confidence"] >= thr]
    periods.sort(key=lambda d: -d["confidence"])
    return {
        "periods": periods,
        "n_periods": len(periods),
        "primary_period": periods[0]["period"] if periods else 0.0,
        "method": method if periods else f"{method} (no seasonality)",
    }


def seasonal_strength(y: np.ndarray, period: int, method: str = "variance") -> float:
    """Strength ∈ [0,1] (``seasonality.rs:478-647``): variance method =
    1 - Var(remainder)/Var(detrended)."""
    y = interpolate_nulls(np.asarray(y, dtype=float))
    n = len(y)
    p = int(period)
    if p < 2 or n < 2 * p:
        return 0.0
    if method == "spectral":
        freqs, spec = _periodogram(y)
        total = float(spec.sum()) or 1.0
        target = 1.0 / p
        i = int(np.argmin(np.abs(freqs - target)))
        return min(max(float(spec[i]) / total * p, 0.0), 1.0)
    x = _detrend_linear(y)
    idx = np.array([x[ph::p].mean() for ph in range(p)])
    remainder = x - np.array([idx[t % p] for t in range(n)])
    var_x = float(np.var(x))
    if var_x <= 0:
        return 0.0
    return min(max(1.0 - float(np.var(remainder)) / var_x, 0.0), 1.0)


def classify_seasonality(y: np.ndarray, period: int) -> dict:
    """none / additive / multiplicative (``seasonality.rs:648-699``)."""
    y = interpolate_nulls(np.asarray(y, dtype=float))
    p = int(period)
    s_add = seasonal_strength(y, p)
    s_mul = 0.0
    if np.all(y > 0):
        s_mul = seasonal_strength(np.log(y), p)
    if max(s_add, s_mul) < 0.3:
        cls = "none"
    elif s_mul > s_add * 1.05:
        cls = "multiplicative"
    else:
        cls = "additive"
    return {"classification": cls, "additive_strength": float(s_add),
            "multiplicative_strength": float(s_mul)}


# ---------------------------------------------------------------------------
# Detrending / decomposition
# ---------------------------------------------------------------------------

def _loess(y, bandwidth=0.3, degree=1):
    """Hand-rolled tricube-weighted local regression."""
    n = len(y)
    t = np.arange(n, dtype=float)
    k = max(int(bandwidth * n), degree + 2)
    out = np.empty(n)
    for i in range(n):
        d = np.abs(t - i)
        cut = np.partition(d, k - 1)[k - 1] or 1.0
        w = (1 - np.minimum(d / cut, 1.0) ** 3) ** 3
        W = w > 0
        coef = np.polyfit(t[W], y[W], degree, w=np.sqrt(w[W]))
        out[i] = np.polyval(coef, i)
    return out


def detrend(y: np.ndarray, method: str = "linear", degree: int = 2,
            order: int = 1, bandwidth: float = 0.3) -> dict:
    """(trend[], detrended[], method, coefficients[], rss, n_params)
    — ``detrending.rs:18-282``."""
    y = interpolate_nulls(np.asarray(y, dtype=float))
    n = len(y)
    t = np.arange(n, dtype=float)
    m = method.lower()
    if m == "auto":
        cands = [detrend(y, mm) for mm in ("linear", "polynomial", "loess")]
        aics = [n * math.log(max(c["rss"], 1e-12) / n) + 2 * c["n_params"]
                for c in cands]
        best = cands[int(np.argmin(aics))]
        best["method"] = f"auto:{best['method']}"
        return best
    if m == "linear":
        coef = np.polyfit(t, y, 1)
        trend = np.polyval(coef, t)
        k = 2
    elif m == "polynomial":
        coef = np.polyfit(t, y, int(degree))
        trend = np.polyval(coef, t)
        k = int(degree) + 1
    elif m == "diff":
        d = y.copy()
        for _ in range(int(order)):
            d = np.diff(d)
        trend = np.full(n, np.nan)
        detr = np.concatenate([np.full(n - len(d), np.nan), d])
        return {"trend": trend, "detrended": detr, "method": "diff",
                "coefficients": [float(order)], "rss": float(np.nansum(detr ** 2)),
                "n_params": int(order)}
    elif m == "loess":
        trend = _loess(y, bandwidth, 1)
        coef = []
        k = max(int(bandwidth * n), 3)
    else:
        raise ValueError(f"unknown detrend method {method!r}")
    detr = y - trend
    return {"trend": trend, "detrended": detr, "method": m,
            "coefficients": [float(c) for c in np.atleast_1d(coef)],
            "rss": float(np.sum(detr ** 2)), "n_params": k}


def decompose_seasonal(y: np.ndarray, period: int, method: str = "additive") -> dict:
    """Classical decomposition via centered MA (``detrending.rs:283-372``)."""
    y = interpolate_nulls(np.asarray(y, dtype=float))
    n = len(y)
    p = int(period)
    if p < 2 or n < 2 * p:
        raise ValueError("period too large for series")
    # centered moving average trend
    w = p if p % 2 == 1 else p + 1
    k = w // 2
    c = np.concatenate([[0.0], np.cumsum(y)])
    trend = np.full(n, np.nan)
    for t in range(k, n - k):
        trend[t] = (c[t + k + 1] - c[t - k]) / w
    if method == "multiplicative":
        with np.errstate(divide="ignore", invalid="ignore"):
            detr = np.where(trend != 0, y / trend, np.nan)
    else:
        detr = y - trend
    idx = np.empty(p)
    for ph in range(p):
        vals = detr[ph::p]
        vals = vals[np.isfinite(vals)]
        idx[ph] = vals.mean() if len(vals) else (1.0 if method == "multiplicative" else 0.0)
    if method == "multiplicative":
        idx *= p / idx.sum() if idx.sum() else 1.0
    else:
        idx -= idx.mean()
    seasonal = np.array([idx[t % p] for t in range(n)])
    if method == "multiplicative":
        remainder = np.where(np.isfinite(trend) & (trend * seasonal != 0),
                             y / (trend * seasonal), np.nan)
    else:
        remainder = y - trend - seasonal
    return {"trend": trend, "seasonal": seasonal, "remainder": remainder,
            "period": p, "method": method}


# ---------------------------------------------------------------------------
# Peaks
# ---------------------------------------------------------------------------

def find_peaks(y: np.ndarray, min_prominence: float = 0.0) -> dict:
    """Local maxima with prominences (mirrors scipy.signal.find_peaks
    semantics, which the reference's ``peaks.rs:134-243`` follows)."""
    y = interpolate_nulls(np.asarray(y, dtype=float))
    n = len(y)
    idxs = [i for i in range(1, n - 1) if y[i] > y[i - 1] and y[i] >= y[i + 1]]
    peaks, proms = [], []
    for i in idxs:
        # prominence: height above the higher of the two flanking valley bases
        lo = i
        while lo > 0 and y[lo - 1] <= y[i]:
            lo -= 1
        left_base = float(np.min(y[lo:i + 1]))
        hi = i
        while hi < n - 1 and y[hi + 1] <= y[i]:
            hi += 1
        right_base = float(np.min(y[i:hi + 1]))
        prom = y[i] - max(left_base, right_base)
        if prom >= min_prominence:
            peaks.append(i)
            proms.append(float(prom))
    return {"indices": peaks, "values": [float(y[i]) for i in peaks],
            "prominences": proms, "n_peaks": len(peaks)}


def analyze_peak_timing(y: np.ndarray, period: int,
                        min_prominence: float = 0.0) -> dict:
    """Peak-timing stability across seasonal cycles (``peaks.rs:190``,
    output ``ts_seasonality.cpp:349-356``)."""
    y = interpolate_nulls(np.asarray(y, dtype=float))
    p = int(period)
    res = find_peaks(y, min_prominence)
    n = len(y)
    n_cycles = n // p if p >= 2 else 0
    phases = [i % p for i in res["indices"]] if p >= 2 else []
    strength = seasonal_strength(y, p) if p >= 2 else 0.0
    if len(phases) >= 2:
        # circular variance of peak phases
        ang = np.array(phases) * 2 * math.pi / p
        r = math.hypot(float(np.mean(np.cos(ang))), float(np.mean(np.sin(ang))))
        variability = 1.0 - r
    else:
        variability = float("nan")
    stable = math.isfinite(variability) and variability < 0.2
    cycle_strengths = []
    weak = []
    for cyc in range(n_cycles):
        seg = y[cyc * p:(cyc + 1) * p]
        s = float(np.std(seg))
        cycle_strengths.append(s)
    if cycle_strengths:
        med = float(np.median(cycle_strengths))
        weak = [i for i, s in enumerate(cycle_strengths) if s < 0.5 * med]
    timing = ("stable" if stable else
              "variable" if math.isfinite(variability) else "insufficient_peaks")
    return {
        "timing_classification": timing,
        "modulation_type": "amplitude" if weak else "none",
        "has_stable_timing": bool(stable),
        "timing_variability": float(variability),
        "seasonal_strength": float(strength),
        "is_seasonal": strength > 0.3,
        "cycle_strengths": [float(s) for s in cycle_strengths],
        "weak_seasons": weak,
    }


# ---------------------------------------------------------------------------
# Changepoints: PELT and BOCPD
# ---------------------------------------------------------------------------

def pelt(y: np.ndarray, penalty: float | None = None, min_size: int = 2,
         cost: str = "l2") -> list[int]:
    """Pruned Exact Linear Time changepoint detection
    (``changepoint.rs:16-180``). Returns changepoint indices (segment starts,
    excluding 0)."""
    y = interpolate_nulls(np.asarray(y, dtype=float))
    n = len(y)
    if n < 2 * min_size:
        return []
    if penalty is None:
        penalty = 2.0 * math.log(n) * float(np.var(y) or 1.0)
    c1 = np.concatenate([[0.0], np.cumsum(y)])
    c2 = np.concatenate([[0.0], np.cumsum(y ** 2)])
    ca = np.concatenate([[0.0], np.cumsum(np.abs(y))])

    def seg_cost(s, t):
        m = t - s
        if m <= 0:
            return 0.0
        if cost == "l1":
            med = float(np.median(y[s:t]))
            return float(np.sum(np.abs(y[s:t] - med)))
        sse = (c2[t] - c2[s]) - (c1[t] - c1[s]) ** 2 / m
        if cost == "normal":
            v = max(sse / m, 1e-12)
            return m * math.log(v)
        return float(sse)  # l2

    INF = float("inf")
    Fv = np.full(n + 1, INF)
    Fv[0] = -penalty
    prev = np.zeros(n + 1, dtype=int)
    cand = [0]
    for t in range(min_size, n + 1):
        best, arg = INF, 0
        for s in cand:
            if t - s < min_size:
                continue
            val = Fv[s] + seg_cost(s, t) + penalty
            if val < best:
                best, arg = val, s
        if best < INF:
            Fv[t] = best
            prev[t] = arg
        # prune
        cand = [s for s in cand
                if Fv[s] + seg_cost(s, t) <= Fv[t]] + [t - min_size + 1] \
            if t - min_size + 1 > 0 else cand
        cand = sorted(set(c for c in cand if 0 <= c <= t))
    cps = []
    t = n
    while t > 0:
        s = prev[t]
        if s > 0:
            cps.append(s)
        t = s
    return sorted(cps)


def bocpd(y: np.ndarray, hazard_lambda: float = 250.0) -> np.ndarray:
    """Bayesian online changepoint probability per position
    (``changepoint.rs:198-360``), Student-t predictive with NIG prior."""
    y = interpolate_nulls(np.asarray(y, dtype=float))
    n = len(y)
    h = 1.0 / float(hazard_lambda)
    # NIG prior hyperparams
    mu0, kappa0, alpha0, beta0 = float(np.mean(y)), 1.0, 1.0, float(np.var(y) or 1.0)
    R = np.zeros(n + 1)
    R[0] = 1.0
    mu = np.array([mu0])
    kappa = np.array([kappa0])
    alpha = np.array([alpha0])
    beta = np.array([beta0])
    cp_prob = np.zeros(n)
    for t in range(n):
        x = y[t]
        # Student-t predictive
        df = 2 * alpha
        scale = np.sqrt(beta * (kappa + 1) / (alpha * kappa))
        z = (x - mu) / scale
        # vectorized log pdf of student-t
        logpdf = (np.vectorize(math.lgamma)((df + 1) / 2)
                  - np.vectorize(math.lgamma)(df / 2)
                  - 0.5 * np.log(df * math.pi) - np.log(scale)
                  - (df + 1) / 2 * np.log1p(z * z / df))
        pred = np.exp(logpdf)
        growth = R[:t + 1] * pred * (1 - h)
        cp = float(np.sum(R[:t + 1] * pred * h))
        newR = np.zeros(t + 2)
        newR[0] = cp
        newR[1:] = growth
        total = newR.sum() or 1.0
        newR /= total
        R = np.zeros(n + 1)
        R[:t + 2] = newR
        cp_prob[t] = newR[0]
        # update params
        mu_new = np.concatenate([[mu0], (kappa * mu + x) / (kappa + 1)])
        kappa_new = np.concatenate([[kappa0], kappa + 1])
        alpha_new = np.concatenate([[alpha0], alpha + 0.5])
        beta_new = np.concatenate([[beta0],
                                   beta + kappa * (x - mu) ** 2 / (2 * (kappa + 1))])
        mu, kappa, alpha, beta = mu_new, kappa_new, alpha_new, beta_new
    return cp_prob


# ---------------------------------------------------------------------------
# Per-series kernels. Each detection operator is one ``SeriesOp``: its output
# fields after the group column, and ONE computation over a ds-sorted series
# that both surfaces call — the DataFrame operators through ``series_map``,
# the SQL table functions through ``functions/sql.py::_series_udtf``.
# ---------------------------------------------------------------------------

_D, _I = T.DoubleType(), T.IntegerType()
_B, _S = T.BooleanType(), T.StringType()


def _f(name: str, dtype: T.DataType) -> T.StructField:
    return T.StructField(name, dtype)


_PERIOD_KEYS = ("period", "confidence", "strength", "amplitude", "phase",
                "iteration", "matches_expected", "matched_expected_period",
                "match_deviation")
_NO_PERIOD = {"period": 0.0, "confidence": 0.0, "strength": 0.0,
              "amplitude": 0.0, "phase": 0.0, "iteration": 0,
              "matches_expected": False, "matched_expected_period": None,
              "match_deviation": None}


def _periods(ds, y, method="auto", expected=None, min_confidence=None):
    res = detect_periods(y, method, expected, min_confidence=min_confidence)
    found = res["periods"] or [_NO_PERIOD]
    n = len(found)
    return (*([d[k] for d in found] for k in _PERIOD_KEYS),
            [res["n_periods"]] * n, [res["primary_period"]] * n,
            [res["method"]] * n)


PERIODS = SeriesOp(lambda ds, dt, y, *_: [
    _f("period", _D), _f("confidence", _D), _f("strength", _D),
    _f("amplitude", _D), _f("phase", _D), _f("iteration", _I),
    _f("matches_expected", _B), _f("matched_expected_period", _D),
    _f("match_deviation", _D), _f("n_periods", _I),
    _f("primary_period", _D), _f("method", _S)], _periods)


def _seasonality(ds, y):
    y = interpolate_nulls(y)
    p = int(detect_seasonality(y))
    s = seasonal_strength(y, p) if p > 1 else 0.0
    t = np.arange(len(y), dtype=float)
    b1, b0 = np.polyfit(t, y, 1) if len(y) > 1 else (0.0, float(y[0]))
    resid = y - (b0 + b1 * t)
    vy = float(np.var(y))
    ts = min(max(1.0 - float(np.var(resid)) / vy, 0.0), 1.0) if vy > 0 else 0.0
    return [[p] if p > 1 else []], [p if p > 1 else 0], [float(s)], [ts]


SEASONALITY = SeriesOp(lambda ds, dt, y, *_: [
    _f("detected_periods", T.ArrayType(_I)), _f("primary_period", _I),
    _f("seasonal_strength", _D), _f("trend_strength", _D)], _seasonality)


def _classify(ds, y, period):
    res = classify_seasonality(y, period)
    return ([res["classification"]], [res["additive_strength"]],
            [res["multiplicative_strength"]])


CLASSIFY = SeriesOp(lambda ds, dt, y, *_: [
    _f("classification", _S), _f("additive_strength", _D),
    _f("multiplicative_strength", _D)], _classify)

STRENGTH = SeriesOp(
    lambda ds, dt, y, *_: [_f("seasonal_strength", _D)],
    lambda ds, y, period, method="variance": (
        [float(seasonal_strength(y, period, method))],))


def _detrended(ds, y, method="linear", degree=2, order=1, bandwidth=0.3):
    r = detrend(y, method, degree=degree, order=order, bandwidth=bandwidth)
    return ds, y, r["trend"], r["detrended"], [r["method"]] * len(y)


DETREND = SeriesOp(lambda ds, dt, y, *_: [
    _f(ds, dt), _f(y, _D), _f("trend", _D), _f("detrended", _D),
    _f("method", _S)], _detrended)


def _decomposed(ds, y, period, method="additive"):
    try:
        r = decompose_seasonal(y, period, method)
    except ValueError:
        return [], [], [], [], []
    return ds, y, r["trend"], r["seasonal"], r["remainder"]


DECOMPOSE = SeriesOp(lambda ds, dt, y, *_: [
    _f(ds, dt), _f(y, _D), _f("trend", _D), _f("seasonal", _D),
    _f("remainder", _D)], _decomposed)


def _peaks(ds, y, min_prominence=0.0):
    r = find_peaks(y, min_prominence)
    idx = r["indices"]
    return [ds[i] for i in idx], r["values"], idx, r["prominences"]


PEAKS = SeriesOp(lambda ds, dt, y, *_: [
    _f(ds, dt), _f(y, _D), _f("peak_index", _I), _f("prominence", _D)],
    _peaks)


def _peak_timing(ds, y, period, min_prominence=0.0):
    r = analyze_peak_timing(y, period, min_prominence)
    return tuple([r[k]] for k in (
        "timing_classification", "modulation_type", "has_stable_timing",
        "timing_variability", "seasonal_strength", "is_seasonal",
        "cycle_strengths", "weak_seasons"))


PEAK_TIMING = SeriesOp(lambda ds, dt, y, *_: [
    _f("timing_classification", _S), _f("modulation_type", _S),
    _f("has_stable_timing", _B), _f("timing_variability", _D),
    _f("seasonal_strength", _D), _f("is_seasonal", _B),
    _f("cycle_strengths", T.ArrayType(_D)),
    _f("weak_seasons", T.ArrayType(_I))], _peak_timing)


def _changepoints(ds, y, min_size=2, penalty=None, cost="l2",
                  method="pelt", hazard=250.0):
    if method == "bocpd":
        prob = bocpd(y, hazard)
        return ds, prob > 0.5, prob
    cps = set(pelt(y, penalty, min_size, cost))
    is_cp = np.array([i in cps for i in range(len(y))])
    return ds, is_cp, is_cp.astype(float)


CHANGEPOINTS = SeriesOp(lambda ds, dt, y, *_: [
    _f(ds, dt), _f("is_changepoint", _B),
    _f("changepoint_probability", _D)], _changepoints)


def _mstl(ds, y, periods=None):
    trend, seasonal, remainder, ms = mstl_decompose(y, periods)
    return ds, trend, seasonal, remainder, [ms] * len(trend)


MSTL = SeriesOp(lambda ds, dt, y, *_: [
    _f(ds, dt), _f("trend", _D), _f("seasonal", _D), _f("remainder", _D),
    _f("periods", T.ArrayType(_I))], _mstl)


def estimate_period_udf(kind: str, max_lag: int | None = None):
    """Build the Arrow-batched struct UDF behind the two scalar period
    estimators; also registered on the SQL surface (``functions/sql.py``)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("period double, frequency double, power double, "
                "confidence double, method string")
    def _est(vs: pd.Series) -> pd.DataFrame:
        rows = []
        for v in vs:
            y = interpolate_nulls(np.asarray(v, dtype=float))
            n = len(y)
            if n < 4:
                rows.append((None, None, None, None, None))
                continue
            if kind == "acf":
                lag = int(max_lag) if max_lag else n // 2
                lag = max(3, min(lag, n - 1))
                p, c = _acf_peak(y, lag)
                rows.append((float(p), 1.0 / p if p else 0.0, c, c, "acf"))
            else:
                cands = _fft_candidates(y, top=1)
                if not cands:
                    rows.append((0.0, 0.0, 0.0, 0.0, "fft"))
                else:
                    p, share, pm = cands[0]
                    rows.append((float(p), 1.0 / p, share, pm, "fft"))
        return pd.DataFrame(rows, columns=["period", "frequency", "power",
                                           "confidence", "method"])

    return _est


def ts_estimate_period_acf(values, max_lag: int | None = None):
    """Scalar single-period ACF estimate over a ``DOUBLE[]`` column (ref
    ``ts_periods.cpp:551-624`` → ``periods.rs:299-315``): returns
    ``struct(period, frequency, power, confidence, method)``. Fields are
    NULL when the series has fewer than 4 points (the reference's
    InsufficientData error maps the whole value to NULL). ``max_lag``
    defaults to the reference's n/2; the vectorized Arrow batch keeps the
    crossing per-batch, not per-row."""
    return estimate_period_udf("acf", max_lag)(values)


def ts_estimate_period_fft(values):
    """Scalar single-period FFT estimate over a ``DOUBLE[]`` column (ref
    ``ts_periods.cpp`` ts_estimate_period_fft → ``periods.rs:275-287``):
    ``struct(period, frequency, power, confidence, method)`` from the top
    periodogram bin — period banker's-rounded n/k as in the detect arm,
    power = the bin's share of total spectral power, confidence = the
    reference's peak-to-mean ratio (``periods.rs:1370-1375``). The raw
    estimate carries NO default-threshold filter (that belongs to the
    detect_periods SQL surface); fields are NULL under 4 points and zero
    when no bin lands in [2, n/2]."""
    return estimate_period_udf("fft")(values)


def ts_detect_periods_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                         params: dict | None = None) -> DataFrame:
    """One row per detected period: (<group>, period, confidence, strength,
    amplitude, phase, iteration, matches_expected, matched_expected_period,
    match_deviation, n_periods, primary_period, method)."""
    p = dict(params or {})
    min_confidence = p.get("min_confidence")
    return series_map(df, group_col, ds_col, y_col, PERIODS,
                      str(p.get("method", "auto")),
                      p.get("expected_periods"),
                      None if min_confidence is None else float(min_confidence))


def ts_analyze_seasonality_by(df: DataFrame, group_col: str, ds_col: str,
                              y_col: str) -> DataFrame:
    """(<group>, detected_periods[], primary_period, seasonal_strength,
    trend_strength) — ``seasonality.rs:323-380``."""
    return series_map(df, group_col, ds_col, y_col, SEASONALITY)


def ts_classify_seasonality_by(df: DataFrame, group_col: str, ds_col: str,
                               y_col: str, period: int) -> DataFrame:
    return series_map(df, group_col, ds_col, y_col, CLASSIFY, period)


def ts_seasonal_strength_by(df: DataFrame, group_col: str, ds_col: str,
                            y_col: str, period: int,
                            method: str = "variance") -> DataFrame:
    return series_map(df, group_col, ds_col, y_col, STRENGTH, period, method)


def ts_detrend_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                  params: dict | None = None) -> DataFrame:
    """Row-per-observation detrended output: (<group>, <ds>, <y>, trend,
    detrended, method) — macro ``ts_macros.cpp:434-460``."""
    p = dict(params or {})
    return series_map(df, group_col, ds_col, y_col, DETREND,
                      str(p.get("method", "linear")), int(p.get("degree", 2)),
                      int(p.get("order", 1)), float(p.get("bandwidth", 0.3)))


def ts_decompose_seasonal_by(df: DataFrame, group_col: str, ds_col: str,
                             y_col: str, period: int,
                             method: str = "additive") -> DataFrame:
    return series_map(df, group_col, ds_col, y_col, DECOMPOSE, period, method)


def mstl_decompose(y: np.ndarray, periods: list[int] | None = None):
    """Per-series MSTL: returns (trend, seasonal_total, remainder, periods)
    — the single compute shared by the DataFrame op and the SQL UDTF."""
    from ..functions.models import _stl_lite
    y = interpolate_nulls(np.asarray(y, dtype=float))
    ms = periods or ([detect_seasonality(y)] if detect_seasonality(y) > 1 else [])
    ms = [int(m) for m in ms if m and int(m) >= 2 and len(y) >= 2 * int(m)]
    seasonal_total = np.zeros(len(y))
    deseas = y.copy()
    trend = np.zeros(len(y))
    for m in sorted(set(ms)):
        trend, seasonal, _ = _stl_lite(deseas, m)
        seasonal_total += seasonal
        deseas = deseas - seasonal
    if not ms:
        trend, _, _ = _stl_lite(deseas, 0)
    remainder = y - trend - seasonal_total
    return trend, seasonal_total, remainder, ms


def ts_mstl_decomposition_by(df: DataFrame, group_col: str, ds_col: str,
                             y_col: str, params: dict | None = None) -> DataFrame:
    """(<group>, <ds>, trend, seasonal, remainder, periods) — macro
    ``ts_macros.cpp:419-433``, native ``ts_mstl_decomposition_native.cpp``."""
    periods = dict(params or {}).get("seasonal_periods")
    return series_map(df, group_col, ds_col, y_col, MSTL, periods)


def ts_detect_peaks_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                       params: dict | None = None) -> DataFrame:
    """One row per peak: (<group>, <ds>, <y>, peak_index, prominence)."""
    min_prom = float(dict(params or {}).get("min_prominence", 0.0))
    return series_map(df, group_col, ds_col, y_col, PEAKS, min_prom)


def ts_analyze_peak_timing_by(df: DataFrame, group_col: str, ds_col: str,
                              y_col: str, period: int,
                              params: dict | None = None) -> DataFrame:
    min_prom = float(dict(params or {}).get("min_prominence", 0.0))
    return series_map(df, group_col, ds_col, y_col, PEAK_TIMING, period,
                      min_prom)


def ts_detect_changepoints_by(df: DataFrame, group_col: str, ds_col: str,
                              y_col: str, params: dict | None = None) -> DataFrame:
    """(<group>, <ds>, is_changepoint, changepoint_probability) — macro
    ``ts_macros.cpp:489-538``, output ``ts_changepoints.cpp:519-528``."""
    p = dict(params or {})
    penalty = p.get("penalty")
    return series_map(df, group_col, ds_col, y_col, CHANGEPOINTS,
                      int(p.get("min_size", 2)),
                      None if penalty is None else float(penalty),
                      str(p.get("cost", "l2")), str(p.get("method", "pelt")),
                      float(p.get("hazard_lambda", 250.0)))


# ---------------------------------------------------------------------------
# Windowed / time-varying seasonality analysis (SURVEY.md §2.5 rows 6-8)
# ---------------------------------------------------------------------------

def _hilbert_analytic(y: np.ndarray) -> np.ndarray:
    """Analytic signal via FFT (one-sided spectrum doubling) — numpy stand-in
    for scipy.signal.hilbert."""
    n = len(y)
    spec = np.fft.fft(y)
    h = np.zeros(n)
    if n % 2 == 0:
        h[0] = h[n // 2] = 1.0
        h[1:n // 2] = 2.0
    else:
        h[0] = 1.0
        h[1:(n + 1) // 2] = 2.0
    return np.fft.ifft(spec * h)


def _window_strengths(y, period: int, win: int):
    """(window start, window end, seasonal strength) per window position."""
    step = max(period, 1)
    for s in range(0, max(len(y) - win + 1, 1), step):
        e = min(s + win, len(y))
        if e - s < 2 * period:
            break
        yield s, e, float(seasonal_strength(y[s:e], period))


def _windowed(ds, y, period, win):
    rows = list(_window_strengths(interpolate_nulls(y), period, win))
    return tuple([r[i] for r in rows] for i in range(3))


WINDOWED = SeriesOp(lambda ds, dt, y, *_: [
    _f("window_start", _I), _f("window_end", _I),
    _f("seasonal_strength", _D)], _windowed)


def ts_seasonal_strength_windowed_by(df: DataFrame, group_col: str, ds_col: str,
                                     y_col: str, period: int,
                                     window: int | None = None) -> DataFrame:
    """Sliding-window seasonal strength: one row per window position
    (<group>, window_start, window_end, seasonal_strength) — ref
    ``ts_detrend.cpp:342-439`` (``ts_seasonal_strength_windowed``), window
    default 2×period like ``seasonality.rs:703`` (win_size)."""
    period = int(period)
    win = int(window) if window else 2 * period
    return series_map(df, group_col, ds_col, y_col, WINDOWED, period, win)


def _seasonality_changes(ds, y, period, win, thr):
    rows = []
    prev = None
    for s, _e, cur in _window_strengths(interpolate_nulls(y), period, win):
        if prev is not None:
            kind = None
            if prev < thr <= cur:
                kind = "appeared"
            elif cur < thr <= prev:
                kind = "disappeared"
            elif cur - prev > thr / 2:
                kind = "increased"
            elif prev - cur > thr / 2:
                kind = "decreased"
            if kind:
                rows.append((s, kind, prev, cur))
        prev = cur
    return tuple([r[i] for r in rows] for i in range(4))


SEASONALITY_CHANGES = SeriesOp(lambda ds, dt, y, *_: [
    _f("index", _I), _f("change_type", _S), _f("strength_before", _D),
    _f("strength_after", _D)], _seasonality_changes)


def ts_detect_seasonality_changes_by(df: DataFrame, group_col: str, ds_col: str,
                                     y_col: str, period: int,
                                     params: dict | None = None) -> DataFrame:
    """Seasonal-regime change points: (<group>, index, change_type,
    strength_before, strength_after) — ref ``seasonality.rs:699-744``,
    output struct ``ts_detrend.cpp:456-460``. change_type ∈
    {appeared, disappeared, increased, decreased} against `threshold`."""
    p = dict(params or {})
    period = int(period)
    return series_map(df, group_col, ds_col, y_col, SEASONALITY_CHANGES,
                      period, int(p.get("window_size", 2 * period)),
                      float(p.get("threshold", 0.3)))


def _instantaneous(ds, y):
    y = interpolate_nulls(y)
    n = len(y)
    if n < 4:
        return [], [], [], []
    analytic = _hilbert_analytic(y - y.mean())
    amp = np.abs(analytic)
    phase = np.unwrap(np.angle(analytic))
    freq = np.empty(n)
    freq[1:] = np.diff(phase) / (2.0 * np.pi)
    freq[0] = freq[1]
    with np.errstate(divide="ignore", invalid="ignore"):
        per = np.where(np.abs(freq) > EPS, 1.0 / np.abs(freq), np.nan)
    return ds, per, freq, amp


INSTANTANEOUS = SeriesOp(lambda ds, dt, y, *_: [
    _f(ds, dt), _f("period", _D), _f("frequency", _D),
    _f("amplitude", _D)], _instantaneous)


def ts_instantaneous_period_by(df: DataFrame, group_col: str, ds_col: str,
                               y_col: str) -> DataFrame:
    """Hilbert-transform instantaneous period/frequency/amplitude per
    observation: (<group>, <ds>, period, frequency, amplitude) — ref
    ``seasonality.rs:744-760``, output ``ts_detrend.cpp:612-695`` (arrays;
    we emit rows, the relational form). ``period`` is NaN where
    |frequency| <= EPS."""
    return series_map(df, group_col, ds_col, y_col, INSTANTANEOUS)


def _amplitude_modulation(ds, y, period, mod_thr, seas_thr):
    y = interpolate_nulls(y)
    n = len(y)
    if n < 2 * period or period < 2:
        return [], [], [], [], [], []
    strength = float(seasonal_strength(y, period))
    is_seasonal = strength >= seas_thr
    amp = np.abs(_hilbert_analytic(y - y.mean()))
    ncyc = n // period
    cyc_amp = np.array([amp[i * period:(i + 1) * period].mean()
                        for i in range(ncyc)])
    mu = float(cyc_amp.mean())
    score = float(cyc_amp.std(ddof=0) / mu) if mu > EPS else 0.0
    t = np.arange(ncyc, dtype=float)
    trend = float(np.polyfit(t, cyc_amp, 1)[0]) if ncyc > 1 else 0.0
    has_mod = is_seasonal and score > mod_thr
    if not is_seasonal:
        kind = "none"
    elif not has_mod:
        kind = "stable"
    elif trend > 0:
        kind = "increasing"
    elif trend < 0:
        kind = "decreasing"
    else:
        kind = "varying"
    return [is_seasonal], [strength], [has_mod], [kind], [score], [trend]


AMPLITUDE_MODULATION = SeriesOp(lambda ds, dt, y, *_: [
    _f("is_seasonal", _B), _f("seasonal_strength", _D),
    _f("has_modulation", _B), _f("modulation_type", _S),
    _f("modulation_score", _D), _f("amplitude_trend", _D)],
    _amplitude_modulation)


def ts_detect_amplitude_modulation_by(df: DataFrame, group_col: str, ds_col: str,
                                      y_col: str, period: int,
                                      params: dict | None = None) -> DataFrame:
    """Amplitude-modulation classification: (<group>, is_seasonal,
    seasonal_strength, has_modulation, modulation_type, modulation_score,
    amplitude_trend) — ref ``seasonality.rs:760-830``, output struct
    ``ts_detrend.cpp:706-716``. Envelope via the Hilbert analytic amplitude
    (numpy stand-in for the reference's Morlet wavelet), modulation score =
    CV of the per-cycle envelope."""
    p = dict(params or {})
    return series_map(df, group_col, ds_col, y_col, AMPLITUDE_MODULATION,
                      int(period), float(p.get("modulation_threshold", 0.2)),
                      float(p.get("seasonality_threshold", 0.3)))


def ts_detect_anomalies_by(df: DataFrame, group_col: str, ds_col: str,
                           y_col: str, window: int = 28,
                           threshold: float = 3.5,
                           min_obs: int = 5) -> DataFrame:
    """Rolling-MAD robust anomaly detection per series (beyond-parity
    detection surface; the Iglewicz-Hoaglin modified z-score over a
    trailing window): for each point, the window is the previous
    ``window`` observations (the point itself EXCLUDED, so an anomaly
    cannot mask itself), center = exact type-7 median of the window,
    scale = median absolute deviation from that center, and

        robust_z = 0.6745 * (y - median) / MAD

    flagged when ``|robust_z| > threshold`` (3.5 is the Iglewicz-Hoaglin
    recommendation). Points with fewer than ``min_obs`` trailing
    observations, NULL values, or a zero MAD (a constant window — any
    deviation is infinitely surprising, flagged when y != median) get
    NULL / rule-based handling documented below.

    Output: ``(group, ds, y, rolling_median, rolling_mad, robust_z,
    is_anomaly)``. ``robust_z`` is NULL when history < min_obs or y is
    NULL; when MAD = 0, robust_z is NULL but is_anomaly = (y != median).

    Scale shape: ONE per-series window sort (rowsBetween bounded by
    ``window``), exact medians by sorted-array interpolation — pure
    Catalyst, bounded per-row state, no Python. 100 TB = shuffle on the
    series key once, like every other per-series window operator.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if min_obs < 1 or min_obs > window:
        raise ValueError("min_obs must be in [1, window]")
    w = (Window.partitionBy(group_col).orderBy(ds_col)
         .rowsBetween(-int(window), -1))
    hist = F.sort_array(F.collect_list(F.col(y_col).cast("double")).over(w))

    def med(arr):
        n = F.size(arr)
        ix = F.lit(0.5) * (n - 1).cast("double")
        lo = F.floor(ix).cast("int")
        frac = ix - lo.cast("double")
        return (F.when(n == 1, F.get(arr, 0)).otherwise(
            F.get(arr, lo) * (F.lit(1.0) - frac)
            + F.get(arr, F.least(lo + 1, n - 1)) * frac))

    out = (df.withColumn("__h", hist)
             .withColumn("rolling_median", F.when(
                 F.size("__h") >= min_obs, med(F.col("__h")))))
    # r13 CSE fix: the sorted deviation array is projected ONCE — inlining
    # it into med() re-ran the sort_array(transform(...)) per reference
    # (~6x per row; every reference to a non-cheap alias re-evaluates).
    # Unconditional projection is value-identical: rolling_mad's
    # NULL-median guard is unchanged, it just reads the bound column.
    dev = F.sort_array(F.transform(
        F.col("__h"), lambda v: F.abs(v - F.col("rolling_median"))))
    out = (out.withColumn("__dev", dev)
              .withColumn("rolling_mad",
                          F.when(F.col("rolling_median").isNotNull(),
                                 med(F.col("__dev")))))
    y = F.col(y_col).cast("double")
    z = F.when(F.col("rolling_mad") > 0,
               F.lit(0.6745) * (y - F.col("rolling_median"))
               / F.col("rolling_mad"))
    anom = (F.when(F.col("rolling_median").isNull() | y.isNull(),
                   F.lit(None).cast("boolean"))
             .when(F.col("rolling_mad") > 0,
                   F.abs(z) > float(threshold))
             .otherwise(y != F.col("rolling_median")))
    return (out.withColumn("robust_z", z)
               .withColumn("is_anomaly", anom)
               .select(group_col, ds_col, y_col, "rolling_median",
                       "rolling_mad", "robust_z", "is_anomaly"))


def ts_detect_anomalies_online_by(df: DataFrame, group_col: str,
                                  ds_col: str, y_col: str,
                                  z_threshold: float = 3.0,
                                  min_obs: int = 30) -> DataFrame:
    """ONLINE z-score anomaly detection per series (beyond-parity; the
    O(1)-state sibling of the rolling-MAD detector): each point is scored
    against the EXPANDING mean/std of everything strictly before it
    (Welford's recurrence — the point can't mask itself), then joins the
    running state. Constant per-step state (count, mean, M2) is what lets
    the streaming twin ``stream_zscore_anomaly`` keep exactly three
    numbers per key forever — unlike the rolling window's row buffer.

    Output: ``(group, ds, y, exp_mean, exp_std, online_z, is_anomaly)``.
    ``exp_mean``/``exp_std`` are the PRIOR-prefix statistics the point
    was scored against (NULL while the prefix has < 1 / < 2 points);
    ``online_z`` is NULL while the prefix has < min_obs points or the
    prior std is not positive; ``is_anomaly`` = |z| > z_threshold (false
    when z is NULL). Rows with NULL y are excluded (they can neither be
    scored nor update the state). Anomalies are NOT excluded from the
    running statistics (the level-shift-following variant; exclude-on-
    detect diverges under drift). Ties on duplicate ``ds`` walk in
    (ds, y) lexicographic order, same convention as the ACI walk.

    Implementation is ONE sequential JVM ``aggregate`` fold per series
    over the (ds, y)-sorted row list — deterministic on any partitioning,
    one series-key shuffle, replayable engine-side as a recursive CTE
    carrying the same three scalars.

    Series-length bound: the *running state* is three scalars, but the
    fold's emitted per-step array is rebuilt by ``concat`` each step
    (Catalyst has no linear scan primitive), so materializing the
    output costs O(n^2) element copies per series — fine for panel
    series (~1e3–1e4 points; 10k points ≈ 5e7 struct copies), wrong
    for million-point single series. Beyond that, use the streaming
    twin ``stream_zscore_anomaly`` (genuinely O(1) state per key) or
    split the series and carry the three scalars across chunks.
    """
    thr, mo = online_zscore_args(z_threshold, min_obs)
    base = df.filter(F.col(y_col).isNotNull())
    ev = F.array_sort(F.collect_list(F.struct(
        F.col(ds_col).alias("ds"),
        F.col(y_col).cast("double").alias("y"))))
    grouped = base.groupBy(group_col).agg(ev.alias("__e"))

    def step(acc, t):
        x = F.element_at(F.col("__e"), t)["y"]
        n, mean, m2 = acc["n"], acc["mean"], acc["m2"]
        # prior-prefix statistics (the scoring basis)
        std = F.when(n >= 2.0, F.sqrt(m2 / (n - F.lit(1.0))))
        pm = F.when(n >= 1.0, mean)
        z = F.when((n >= float(mo)) & (std > 0), (x - mean) / std)
        # Welford update: mean' = mean + d/n', M2' = M2 + d*(x - mean')
        n1 = n + F.lit(1.0)
        d = x - mean
        mean1 = mean + d / n1
        m21 = m2 + d * (x - mean1)
        # ONE array append per step (not three): the running state stays
        # three scalars; only the emitted per-step structs accumulate
        return F.struct(
            n1.alias("n"), mean1.alias("mean"), m21.alias("m2"),
            F.concat(acc["out"], F.array(F.struct(
                pm.alias("pm"), std.alias("ps"), z.alias("pz"))))
            .alias("out"))

    # the emitted structs hold NULLs at the warm-up steps — init as a
    # nullable-field array or codegen reads the NULLs back as 0.0
    empty = F.expr(
        "CAST(array() AS array<struct<pm double, ps double, pz double>>)")
    init = F.struct(
        F.lit(0.0).alias("n"), F.lit(0.0).alias("mean"),
        F.lit(0.0).alias("m2"), empty.alias("out"))
    state = F.aggregate(F.sequence(F.lit(1), F.size("__e")), init, step)
    out = (grouped.withColumn("__st", state)
           .select(group_col,
                   F.explode(F.arrays_zip(
                       F.col("__e"), F.col("__st")["out"].alias("s")))
                   .alias("__z")))
    z = F.col("__z")
    zz = z["s"]["pz"]
    return out.select(
        F.col(group_col),
        z["__e"]["ds"].alias(ds_col),
        z["__e"]["y"].alias(y_col),
        z["s"]["pm"].alias("exp_mean"),
        z["s"]["ps"].alias("exp_std"),
        zz.alias("online_z"),
        F.coalesce(F.abs(zz) > thr, F.lit(False)).alias("is_anomaly"))


def online_zscore_args(z_threshold, min_obs) -> tuple[float, int]:
    """The validated ``(z_threshold, min_obs)`` of the online detector."""
    thr, mo = float(z_threshold), int(min_obs)
    if thr <= 0:
        raise ValueError("z_threshold must be positive")
    if mo < 1:
        raise ValueError("min_obs must be >= 1")
    return thr, mo


def _online_zscore(ds, y, thr, mo):
    """Python replay of ``ts_detect_anomalies_online_by``'s fold (the SQL
    form runs it). ``y`` holds None for NULL: those rows are excluded, a
    NaN is a value, as in the DataFrame op."""
    # NULL ds sorts FIRST, then (ds, y) — the DataFrame op's array_sort
    # over (ds, y) structs (NULL field smallest); a plain tuple sort would
    # raise TypeError on None-vs-timestamp
    walk = sorted(((d, float(v)) for d, v in zip(ds, y) if v is not None),
                  key=lambda t: ((0, 0, t[1]) if t[0] is None
                                 else (1, t[0], t[1])))
    rows = []
    n, mean, m2 = 0.0, 0.0, 0.0
    for d, x in walk:
        # m2 can round a hair negative on near-constant series; Spark's
        # F.sqrt yields NaN there (z then falls to the NULL branch)
        s2 = m2 / (n - 1.0) if n >= 2.0 else None
        std = (math.sqrt(s2) if s2 >= 0.0 else float("nan")) \
            if s2 is not None else None
        pm = mean if n >= 1.0 else None
        z = ((x - mean) / std
             if n >= float(mo) and std is not None and std > 0 else None)
        rows.append((d, x, pm, std, z, bool(z is not None and abs(z) > thr)))
        n1 = n + 1.0
        dx = x - mean
        mean = mean + dx / n1
        m2 = m2 + dx * (x - mean)
        n = n1
    return tuple([r[i] for r in rows] for i in range(6))


ONLINE_ZSCORE = SeriesOp(lambda ds, dt, y, *_: [
    _f(ds, dt), _f(y, _D), _f("exp_mean", _D), _f("exp_std", _D),
    _f("online_z", _D), _f("is_anomaly", _B)], _online_zscore)
