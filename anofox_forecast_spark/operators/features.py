"""Feature extraction (SURVEY.md §2.6) — ~119 tsfresh-compatible features.

Parity target: ``crates/anofox-fcst-core/src/features.rs`` (feature list
:327-441, computations :7-326, helpers :465-1075); macros
``ts_macros.cpp:1644-1789``; native TF ``ts_features_native.cpp``.

One ``SeriesOp``, ``FEATURES``, returns a series' selected features as a
wide row, for ``ts_features_by`` and its SQL forms alike.
Formulas re-derived from the cited reference lines (population moments,
linear-interp quantiles, PACF via 2-lag Yule-Walker, Benford correlation,
m=2/r=0.2σ sample & approximate entropy, order-3 permutation entropy,
mean-threshold Lempel-Ziv, DFT/n coefficients, chunked aggregate trend).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.batched import SeriesOp, series_map

EPS = 2.220446049250313e-16


def _ssum(a):
    """Sequential left-to-right sum — the order DuckDB's list folds use.
    The features_full oracle re-derives every feature in SQL; sharing the
    summation order makes the arithmetic-only features bit-identical
    (np.sum's pairwise order differs by ~scale*eps*sqrt(n), which for
    large-magnitude features like abs_energy or the time-reversal stats
    crosses the contract's rounding quantum)."""
    a = np.asarray(a, dtype=float)
    if a.size == 0:
        return 0.0
    return float(np.cumsum(a)[-1])

_SCALAR_FEATURES = [
    "length", "sum", "mean", "minimum", "maximum", "range", "variance",
    "standard_deviation", "variation_coefficient", "large_standard_deviation",
    "median", "quantile_0.1", "quantile_0.25", "quantile_0.75", "quantile_0.9",
    "skewness", "kurtosis",
    "count_above_mean", "count_below_mean", "percentage_above_mean",
    "zero_crossing_rate", "mean_change", "mean_abs_change",
    "first_value", "last_value",
    "first_location_of_maximum", "last_location_of_maximum",
    "first_location_of_minimum", "last_location_of_minimum",
    "abs_energy", "root_mean_square",
    "mean_second_derivative_central", "cid_ce", "absolute_sum_of_changes",
    "lempel_ziv_complexity",
    "longest_strike_above_mean", "longest_strike_below_mean",
    "number_peaks", "number_peaks_threshold_1", "number_peaks_threshold_2",
    "benford_correlation",
    "linear_trend_slope", "linear_trend_intercept", "linear_trend_r_squared",
    "binned_entropy", "sample_entropy", "approximate_entropy",
    "permutation_entropy",
    "count_unique", "ratio_value_number_to_length",
    "has_duplicate", "has_duplicate_max", "has_duplicate_min",
    "percentage_of_reoccurring_datapoints_to_all_datapoints",
    "percentage_of_reoccurring_values_to_all_values",
    "sum_of_reoccurring_values", "sum_of_reoccurring_datapoints",
    "spectral_centroid", "spectral_variance",
    "agg_linear_trend_slope", "agg_linear_trend_intercept",
    "agg_linear_trend_rvalue", "agg_linear_trend_stderr",
]

FEATURE_NAMES = (
    _SCALAR_FEATURES
    + [f"autocorrelation_lag{l}" for l in range(1, 11)]
    + [f"partial_autocorrelation_lag{l}" for l in range(1, 6)]
    + [f"ratio_beyond_r_sigma_{r}" for r in range(1, 4)]
    + [f"time_reversal_asymmetry_stat_{l}" for l in range(1, 4)]
    + [f"c3_lag{l}" for l in range(1, 4)]
    + [f"fft_coefficient_{i}_{p}" for i in range(10) for p in ("real", "imag", "abs")]
)

NAN = float("nan")


def _quantile(sorted_v, q):
    n = len(sorted_v)
    if n == 0:
        return NAN
    idx = q * (n - 1)
    lo, hi = int(math.floor(idx)), int(math.ceil(idx))
    frac = idx - lo
    if hi >= n:
        return float(sorted_v[-1])
    return float(sorted_v[lo] * (1 - frac) + sorted_v[hi] * frac)


def _autocorr(v, lag):
    n = len(v)
    if n <= lag:
        return NAN
    mean = _ssum(v) / n
    d = v - mean
    denom = _ssum(d * d)
    if abs(denom) < EPS:
        return 0.0
    return _ssum(d[lag:] * d[:-lag]) / denom


def _linear_trend(v):
    n = len(v)
    if n < 2:
        return 0.0, float(v[0]) if n else 0.0, 0.0
    x = np.arange(n, dtype=float)
    xm, ym = _ssum(x) / n, _ssum(v) / n
    ss_xy = _ssum((x - xm) * (v - ym))
    ss_xx = _ssum((x - xm) * (x - xm))
    ss_yy = _ssum((v - ym) * (v - ym))
    slope = ss_xy / ss_xx if ss_xx > EPS else 0.0
    intercept = ym - slope * xm
    r2 = ss_xy * ss_xy / (ss_xx * ss_yy) if ss_xx > EPS and ss_yy > EPS else 0.0
    return slope, intercept, r2


def _longest_strike(v, thr, above):
    best = cur = 0
    for x in v:
        if (x > thr) if above else (x < thr):
            cur += 1
            best = max(best, cur)
        else:
            cur = 0
    return float(best)


def _benford(v):
    expected = np.array([0.301, 0.176, 0.125, 0.097, 0.079, 0.067, 0.058,
                         0.051, 0.046])
    counts = np.zeros(9)
    for x in np.abs(v):
        if x >= 1.0:
            s = f"{x}"
            for ch in s:
                if ch.isdigit() and ch != "0":
                    counts[int(ch) - 1] += 1
                    break
    total = counts.sum()
    if total == 0:
        return 0.0
    obs = counts / total
    em, om = _ssum(expected) / 9.0, _ssum(obs) / 9.0
    num = _ssum((expected - em) * (obs - om))
    den = math.sqrt(_ssum((expected - em) * (expected - em))
                    * _ssum((obs - om) * (obs - om)))
    return num / den if den > EPS else 0.0


def _embed(v, m):
    n = len(v)
    if n < m:
        return np.empty((0, m))
    return np.lib.stride_tricks.sliding_window_view(v, m)


def _sample_entropy(v, m=2, r=None):
    n = len(v)
    if r is None or r <= 0 or n < m + 1:
        return NAN

    def count_matches(mm):
        E = _embed(v, mm)[: n - mm]  # i in 0..n-mm-1 (reference upper bound)
        if len(E) < 2:
            return 0
        c = 0
        for i in range(len(E) - 1):
            d = np.max(np.abs(E[i + 1:] - E[i]), axis=1)
            c += int((d <= r).sum())
        return c

    cm = count_matches(m)
    cm1 = count_matches(m + 1)
    if cm == 0 or cm1 == 0:
        return NAN
    norm_m = (n - m) * (n - m - 1) // 2
    norm_m1 = (n - m - 1) * (n - m - 2) // 2
    if norm_m == 0 or norm_m1 == 0:
        return NAN
    phi_m, phi_m1 = cm / norm_m, cm1 / norm_m1
    if phi_m <= 0 or phi_m1 <= 0:
        return NAN
    return -math.log(phi_m1 / phi_m)


def _approx_entropy(v, m=2, r=None):
    n = len(v)
    if r is None or r <= 0 or n < m + 1:
        return NAN

    def phi(mm):
        E = _embed(v, mm)
        k = len(E)
        if k == 0:
            return 0.0
        s = 0.0
        for i in range(k):
            d = np.max(np.abs(E - E[i]), axis=1)
            c = int((d <= r).sum())
            if c > 0:
                s += math.log(c / k)
        return s / k

    return phi(m) - phi(m + 1)


def _perm_entropy(v, order=3):
    n = len(v)
    if n < order or order < 2:
        return NAN
    E = _embed(v, order)
    patterns = np.argsort(E, axis=1, kind="stable")
    _, counts = np.unique(patterns, axis=0, return_counts=True)
    p = counts / counts.sum()
    ent = -_ssum(p * np.log(p))
    max_ent = sum(math.log(i) for i in range(1, order + 1))
    return ent / max_ent if max_ent > 0 else ent


def _lempel_ziv(v, thr):
    binary = (v >= thr).astype(np.int8).tobytes()
    n = len(binary)
    if n == 0:
        return 0.0
    complexity, l, k, k_max = 1, 1, 1, 1
    while l + k <= n:
        sub = binary[l: l + k]
        if binary[: l + k - 1].find(sub) != -1:
            k += 1
            k_max = max(k_max, k)
        else:
            complexity += 1
            l += k_max
            k = 1
            k_max = 1
    b = math.log2(n)
    return complexity / (n / b) if b > 0 else float(complexity)


def extract_features(v: np.ndarray) -> dict:
    """All features for one series (features.rs:7-326)."""
    v = np.asarray(v, dtype=float)
    v = v[np.isfinite(v)]
    f = {name: NAN for name in FEATURE_NAMES}
    n = len(v)
    if n == 0:
        return f
    nf = float(n)
    s = _ssum(v)
    mean = s / nf
    mn, mx = float(v.min()), float(v.max())
    dmu = v - mean
    var = _ssum(dmu * dmu) / nf
    std = math.sqrt(var)
    f.update(length=nf, sum=s, mean=mean, minimum=mn, maximum=mx,
             range=mx - mn, variance=var, standard_deviation=std)
    f["variation_coefficient"] = std / abs(mean) if abs(mean) > EPS else NAN
    f["large_standard_deviation"] = 1.0 if std > 0.25 * (mx - mn) else 0.0
    sv = np.sort(v)
    f["median"] = float((sv[n // 2 - 1] + sv[n // 2]) / 2.0 if n % 2 == 0
                        else sv[n // 2])
    for q in (0.1, 0.25, 0.75, 0.9):
        f[f"quantile_{q}"] = _quantile(sv, q)
    if std > EPS:
        z = (v - mean) / std
        zz = z * z
        f["skewness"] = _ssum(zz * z) / nf
        f["kurtosis"] = _ssum(zz * zz) / nf - 3.0
    cam = float((v > mean).sum())
    cbm = float((v < mean).sum())
    f.update(count_above_mean=cam, count_below_mean=cbm,
             percentage_above_mean=cam / nf)
    if n > 1:
        sgn = np.sign(v)
        zc = float(((sgn[:-1] != sgn[1:]) & (v[:-1] != 0) & (v[1:] != 0)).sum())
        f["zero_crossing_rate"] = zc / max(nf - 1.0, 1.0)
        ch = np.diff(v)
        f["mean_change"] = _ssum(ch) / (nf - 1.0)
        f["mean_abs_change"] = _ssum(np.abs(ch)) / (nf - 1.0)
        f["cid_ce"] = math.sqrt(_ssum(ch * ch))
        f["absolute_sum_of_changes"] = _ssum(np.abs(ch))
    for lag in range(1, 11):
        if n > lag:
            f[f"autocorrelation_lag{lag}"] = _autocorr(v, lag)
    acf1 = _autocorr(v, 1)
    acf2 = _autocorr(v, 2)
    for lag in range(1, 6):
        if n > lag + 1:
            if lag == 1:
                f["partial_autocorrelation_lag1"] = acf1
            else:
                # simplified 2-lag Yule-Walker PACF (features.rs:506-520)
                if abs(1.0 - acf1 ** 2) < EPS:
                    f[f"partial_autocorrelation_lag{lag}"] = 0.0
                else:
                    f[f"partial_autocorrelation_lag{lag}"] = \
                        (acf2 - acf1 ** 2) / (1.0 - acf1 ** 2)
    f["first_value"] = float(v[0])
    f["last_value"] = float(v[-1])
    maxw = np.nonzero(v == mx)[0]
    minw = np.nonzero(v == mn)[0]
    f["first_location_of_maximum"] = float(maxw[0]) / nf
    f["last_location_of_maximum"] = float(maxw[-1]) / nf
    f["first_location_of_minimum"] = float(minw[0]) / nf
    f["last_location_of_minimum"] = float(minw[-1]) / nf
    abs_energy = _ssum(v * v)
    f["abs_energy"] = abs_energy
    f["root_mean_square"] = math.sqrt(abs_energy / nf)
    if n > 2:
        f["mean_second_derivative_central"] = \
            _ssum(v[2:] - 2 * v[1:-1] + v[:-2]) / (n - 2)
    f["longest_strike_above_mean"] = _longest_strike(v, mean, True)
    f["longest_strike_below_mean"] = _longest_strike(v, mean, False)
    if n >= 3:
        peaks = (v[1:-1] > v[:-2]) & (v[1:-1] > v[2:])
        f["number_peaks"] = float(peaks.sum())
        dev = np.abs(v[1:-1] - mean)
        f["number_peaks_threshold_1"] = float((peaks & (dev > std)).sum())
        f["number_peaks_threshold_2"] = float((peaks & (dev > 2 * std)).sum())
    else:
        f["number_peaks"] = f["number_peaks_threshold_1"] = \
            f["number_peaks_threshold_2"] = 0.0
    f["benford_correlation"] = _benford(v)
    slope, intercept, r2 = _linear_trend(v)
    f.update(linear_trend_slope=slope, linear_trend_intercept=intercept,
             linear_trend_r_squared=r2)
    # binned entropy over 10 bins (features.rs:642-670)
    rng = mx - mn
    if abs(rng) < EPS:
        f["binned_entropy"] = 0.0
    else:
        idx = np.minimum(np.round((v - mn) / rng * 9).astype(int), 9)
        counts = np.bincount(idx, minlength=10)
        p = counts[counts > 0] / nf
        f["binned_entropy"] = -_ssum(p * np.log(p))
    f["sample_entropy"] = _sample_entropy(v, 2, 0.2 * std)
    f["approximate_entropy"] = _approx_entropy(v, 2, 0.2 * std)
    f["permutation_entropy"] = _perm_entropy(v, 3)
    for r in range(1, 4):
        f[f"ratio_beyond_r_sigma_{r}"] = \
            float((np.abs(v - mean) > r * std).sum()) / nf
    uniq, counts = np.unique(v, return_counts=True)
    f["count_unique"] = float(len(uniq))
    f["ratio_value_number_to_length"] = len(uniq) / nf
    f["has_duplicate"] = 1.0 if (counts > 1).any() else 0.0
    f["has_duplicate_max"] = 1.0 if float((v == mx).sum()) > 1 else 0.0
    f["has_duplicate_min"] = 1.0 if float((v == mn).sum()) > 1 else 0.0
    re_mask = counts > 1
    f["percentage_of_reoccurring_datapoints_to_all_datapoints"] = \
        float(counts[re_mask].sum()) / nf
    f["percentage_of_reoccurring_values_to_all_values"] = \
        float(re_mask.sum()) / max(len(uniq), 1)
    f["sum_of_reoccurring_values"] = _ssum(uniq[re_mask])
    f["sum_of_reoccurring_datapoints"] = _ssum(uniq[re_mask] * counts[re_mask])
    for lag in range(1, 4):
        if n > 2 * lag:
            a = v[2 * lag:]
            b = v[lag: n - lag]
            c = v[: n - 2 * lag]
            f[f"time_reversal_asymmetry_stat_{lag}"] = \
                _ssum(a * a * b - b * (c * c)) / len(a)
            f[f"c3_lag{lag}"] = _ssum(a * b * c) / len(a)
    f["lempel_ziv_complexity"] = _lempel_ziv(v, mean)
    # DFT coefficients /n (features.rs:978-996) — numpy FFT, same definition
    fft = np.fft.fft(v) / nf
    power = np.abs(fft) ** 2
    for i in range(10):
        if i < n:
            f[f"fft_coefficient_{i}_real"] = float(fft[i].real)
            f[f"fft_coefficient_{i}_imag"] = float(fft[i].imag)
            f[f"fft_coefficient_{i}_abs"] = float(np.abs(fft[i]))
    total_power = float(power.sum())
    if total_power > EPS:
        ks = np.arange(n, dtype=float)
        centroid = float(np.sum(ks * power)) / total_power
        f["spectral_centroid"] = centroid
        f["spectral_variance"] = float(np.sum((ks - centroid) ** 2 * power)) / total_power
    else:
        f["spectral_centroid"] = f["spectral_variance"] = 0.0
    # chunked aggregate linear trend (features.rs:1034-1075)
    chunk_len = max(n // 10, 2)
    if n >= chunk_len:
        means = np.array([_ssum(v[i:i + chunk_len]) / len(v[i:i + chunk_len])
                          for i in range(0, n, chunk_len)])
        if len(means) < 2:
            f.update(agg_linear_trend_slope=0.0,
                     agg_linear_trend_intercept=float(means[0]) if len(means) else 0.0,
                     agg_linear_trend_rvalue=0.0, agg_linear_trend_stderr=0.0)
        else:
            aslope, aint, ar2 = _linear_trend(means)
            m = len(means)
            x = np.arange(m, dtype=float)
            ss_xx = float(np.sum((x - x.mean()) ** 2))
            resid = means - (aint + aslope * x)
            stderr = (math.sqrt(_ssum(resid * resid) / (m - 2) / ss_xx)
                      if m > 2 and ss_xx > EPS else 0.0)
            f.update(agg_linear_trend_slope=aslope, agg_linear_trend_intercept=aint,
                     agg_linear_trend_rvalue=math.sqrt(ar2),
                     agg_linear_trend_stderr=stderr)
    else:
        f.update(agg_linear_trend_slope=0.0, agg_linear_trend_intercept=0.0,
                 agg_linear_trend_rvalue=0.0, agg_linear_trend_stderr=0.0)
    return f


# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------

def _safe(name: str) -> str:
    return name.replace(".", "_")


def selected_features(features) -> list[str]:
    """The requested feature names (all when none are given); an unknown
    name raises ``ValueError``."""
    selected = list(features or FEATURE_NAMES)
    unknown = [x for x in selected if x not in FEATURE_NAMES]
    if unknown:
        raise ValueError(f"unknown features: {unknown}")
    return selected


def feature_columns(ds, y, selected: list[str]) -> tuple:
    """The ``selected`` feature columns of one ds-sorted series."""
    feats = extract_features(y)
    return tuple([feats[x]] for x in selected)


FEATURES = SeriesOp(
    lambda ds, dt, y, selected: [T.StructField(_safe(x), T.DoubleType())
                                 for x in selected],
    feature_columns)


def ts_features_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                   features: list[str] | None = None) -> DataFrame:
    """Wide per-series feature table: (<group>, one column per feature).

    ``features`` selects a subset (the reference's config mechanism,
    ``ts_features_config_*``; unknown names raise like ``features.rs:449``
    warns). Dots in names are mapped to underscores for Spark columns.
    """
    return series_map(df, group_col, ds_col, y_col, FEATURES,
                      selected_features(features))


def ts_features_table(df: DataFrame, ds_col: str, y_col: str,
                      features: list[str] | None = None) -> DataFrame:
    """Single-series form (ref macro ``ts_macros.cpp:1644``)."""
    one = df.withColumn("__g", F.lit(1))
    return ts_features_by(one, "__g", ds_col, y_col, features).drop("__g")


def ts_features_list(spark) -> DataFrame:
    """Available feature names (ref ``ts_features.cpp:257-260``)."""
    return spark.createDataFrame([(x,) for x in FEATURE_NAMES], ["feature_name"])


# ---------------------------------------------------------------------------
# Feature configuration loaders (ref ``ts_features.cpp:245-430``,
# ``anofox_forecast_extension.cpp:108-110``). Unknown feature names WARN and
# are dropped rather than erroring (``features.rs:449`` validate_feature_params).
# ---------------------------------------------------------------------------

def _validate_feature_names(names: list[str]) -> list[str]:
    import warnings
    known = []
    for x in names:
        if x in FEATURE_NAMES:
            known.append(x)
        else:
            warnings.warn(f"Unknown feature parameter key '{x}' - "
                          "this parameter will be ignored", stacklevel=3)
    return known


def ts_features_config_template(spark) -> DataFrame:
    """(feature, params_json) rows, one per available feature —
    ``ts_features_config_template()`` (ref ``ts_features.cpp:245-318``)."""
    return spark.createDataFrame([(x, "{}") for x in FEATURE_NAMES],
                                 ["feature", "params_json"])


def ts_features_config_from_json(json_str: str) -> dict:
    """Parse a ``{"features": [...], "overrides": {...}}`` config (JSON text
    or path to a .json file). Returns ``{"feature_names": [...],
    "overrides": [...]}``, the struct shape of ``ts_features_config_from_json``
    (ref ``ts_features.cpp:320-430``). Unknown names warn, not raise."""
    import json
    import os
    if os.path.exists(json_str):
        with open(json_str) as fh:
            json_str = fh.read()
    cfg = json.loads(json_str)
    names = cfg.get("features") or cfg.get("feature_names") or FEATURE_NAMES
    overrides = cfg.get("overrides") or []
    if isinstance(overrides, dict):
        overrides = [{"feature": k, "params_json": json.dumps(v)}
                     for k, v in overrides.items()]
    return {"feature_names": _validate_feature_names(list(names)),
            "overrides": overrides}


def ts_features_config_from_csv(csv_str: str) -> dict:
    """Parse ``feature[,params_json]`` CSV lines (text or path); same result
    shape and warn-on-unknown semantics as the JSON loader."""
    import os
    if os.path.exists(csv_str):
        with open(csv_str) as fh:
            csv_str = fh.read()
    names, overrides = [], []
    for line in csv_str.strip().splitlines():
        parts = [p.strip() for p in line.split(",", 1)]
        if not parts[0] or parts[0] == "feature":  # header / blank
            continue
        names.append(parts[0])
        if len(parts) > 1 and parts[1] and parts[1] != "{}":
            overrides.append({"feature": parts[0], "params_json": parts[1]})
    return {"feature_names": _validate_feature_names(names),
            "overrides": overrides}
