"""EDA statistics & data-quality operators (SURVEY.md §2.2).

Parity targets:

- ``ts_stats_by`` — 36-column per-series statistics (struct fields
  ``stats.rs:24-98``, formulas ``stats.rs:106-312``, helpers
  ``stats.rs:312-800``; macro ``ts_macros.cpp:31-86``).
- ``ts_quality_report`` / ``ts_stats_summary`` — pure-SQL rollups over a
  stats table (macros ``ts_macros.cpp:90-121``).
- ``ts_data_quality`` (+``_by``/``_summary``) — 4-dimension quality scores
  (``quality.rs:66-280``; macro ``ts_macros.cpp:124-173``).

``ts_stats_by`` and its SQL form run one per-series kernel,
``series_stats`` (the ``STATS`` op): every statistic of a series in one
pass over its arrays, as the reference computes them. ``ts_data_quality``
and its SQL form share ``DATA_QUALITY`` the same way; the rollups are
plain Spark aggregations. The numpy helpers below re-derive the reference
formulas — bias-corrected G1/G2 moments, Hill tail index with k=√n,
histogram entropy, rolling-mean stability — from the cited lines.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..frequency import Frequency, parse_frequency
from ..functions.batched import SeriesOp, series_map

EPS = 2.220446049250313e-16

STATS_FIELDS = [
    ("length", T.LongType()), ("n_nulls", T.LongType()), ("n_nan", T.LongType()),
    ("n_zeros", T.LongType()), ("n_positive", T.LongType()), ("n_negative", T.LongType()),
    ("n_unique_values", T.LongType()), ("is_constant", T.BooleanType()),
    ("n_zeros_start", T.LongType()), ("n_zeros_end", T.LongType()),
    ("plateau_size", T.LongType()), ("plateau_size_nonzero", T.LongType()),
    ("mean", T.DoubleType()), ("median", T.DoubleType()), ("std_dev", T.DoubleType()),
    ("variance", T.DoubleType()), ("min", T.DoubleType()), ("max", T.DoubleType()),
    ("range", T.DoubleType()), ("sum", T.DoubleType()), ("skewness", T.DoubleType()),
    ("kurtosis", T.DoubleType()), ("tail_index", T.DoubleType()),
    ("bimodality_coef", T.DoubleType()), ("trimmed_mean", T.DoubleType()),
    ("coef_variation", T.DoubleType()), ("q1", T.DoubleType()), ("q3", T.DoubleType()),
    ("iqr", T.DoubleType()), ("autocorr_lag1", T.DoubleType()),
    ("trend_strength", T.DoubleType()), ("seasonality_strength", T.DoubleType()),
    ("entropy", T.DoubleType()), ("stability", T.DoubleType()),
    ("expected_length", T.LongType()), ("n_gaps", T.LongType()),
]
_STATS_NAMES = [n for n, _ in STATS_FIELDS]


# ---------------------------------------------------------------------------
# numpy helpers (formulas from stats.rs, cited per function)
# ---------------------------------------------------------------------------

def _percentile(sorted_v: np.ndarray, p: float) -> float:
    """Linear-interpolation percentile (stats.rs:480-500)."""
    n = len(sorted_v)
    if n == 0:
        return float("nan")
    if n == 1:
        return float(sorted_v[0])
    idx = p * (n - 1)
    lo = int(math.floor(idx))
    hi = int(math.ceil(idx))
    frac = idx - lo
    if hi >= n:
        return float(sorted_v[-1])
    return float(sorted_v[lo] * (1 - frac) + sorted_v[hi] * frac)


def _acf(dev: np.ndarray, ss: float, lag: int) -> float:
    """ACF with full-series denominator (stats.rs:503-527), from the
    deviations from the mean and their sum of squares."""
    if len(dev) <= lag:
        return float("nan")
    if abs(ss) < EPS:
        return 0.0
    return float((dev[lag:] * dev[:-lag]).sum()) / ss


def _hill(v: np.ndarray) -> float:
    """Hill tail index, k=√n order statistics (stats.rs:725-770)."""
    if len(v) < 10:
        return float("nan")
    a = np.abs(v)
    a = a[a > EPS]
    if len(a) < 10:
        return float("nan")
    a = np.sort(a)[::-1]
    k = int(math.floor(math.sqrt(len(a))))
    k = max(2, min(k, len(a) - 1))
    thr = a[k]
    if thr <= EPS:
        return float("nan")
    h = float(np.mean(np.log(a[:k] / thr)))
    return 1.0 / h if h > EPS else float("nan")


def _approx_entropy(v: np.ndarray, lo: float, hi: float) -> float:
    """Histogram entropy over 10 bins between the series' min and max
    (stats.rs:571-604)."""
    if len(v) < 10:
        return float("nan")
    rng = hi - lo
    if abs(rng) < EPS:
        return 0.0
    idx = np.minimum(np.round((v - lo) / rng * 9).astype(int), 9)
    bins = np.bincount(idx, minlength=10)
    p = bins[bins > 0] / len(v)
    return float(-(p * np.log(p)).sum())


def _stability(v: np.ndarray) -> float:
    """1 / (CV of rolling means + 0.01) (stats.rs:607-640)."""
    n = len(v)
    if n < 10:
        return float("nan")
    w = max(n // 5, 3)
    c = np.concatenate([[0.0], np.cumsum(v)])
    rm = (c[w:] - c[:-w]) / w
    rm_mean = rm.mean()
    rm_std = math.sqrt(float(np.mean((rm - rm_mean) ** 2)))
    if abs(rm_mean) > EPS:
        return 1.0 / (rm_std / abs(rm_mean) + 0.01)
    return float("nan")


def _longest_true_run(mask: np.ndarray) -> int:
    """Length of the longest run of True in a boolean array (vectorized)."""
    if len(mask) == 0 or not mask.any():
        return 0
    x = np.concatenate([[0], mask.astype(np.int8), [0]])
    d = np.diff(x)
    return int((np.flatnonzero(d == -1) - np.flatnonzero(d == 1)).max())


def _plateau(v: np.ndarray) -> int:
    """Longest run of equal values (stats.rs:660-682); ``v`` has no NaN."""
    if len(v) == 0:
        return 0
    return _longest_true_run(v[1:] == v[:-1]) + 1


def _plateau_nonzero(v: np.ndarray) -> int:
    """Longest constant non-zero run; zeros break it (stats.rs:685-720)."""
    if len(v) == 0:
        return 0
    # a run of k+1 equal adjacent non-zero values shows up as k consecutive
    # True entries here; a lone non-zero value is a run of length 1
    same_nz = (v[1:] == v[:-1]) & (v[1:] != 0.0)
    run = _longest_true_run(same_nz)
    if run:
        return run + 1
    return 1 if (v != 0.0).any() else 0


def _strengths(dev: np.ndarray, ss: float):
    """Trend = |r| of linear fit; seasonality = max |ACF| at lags 2/4/7/12
    (stats.rs:530-568), from the deviations from the mean and their sum
    of squares."""
    n = len(dev)
    if n < 4:
        return 0.0, 0.0
    xd = np.arange(n, dtype=float) - (n - 1) / 2  # x minus its mean
    ss_xy = float((xd * dev).sum())
    ss_xx = float((xd * xd).sum())
    if abs(ss_xx) > EPS and abs(ss) > EPS:
        trend = min(max(math.sqrt(ss_xy ** 2 / (ss_xx * ss)), 0.0), 1.0)
    else:
        trend = 0.0
    acfs = [abs(_acf(dev, ss, l)) for l in (2, 4, 7, 12)]
    seas = max([a for a in acfs if math.isfinite(a)], default=0.0)
    return trend, min(max(seas, 0.0), 1.0)


def _ds_micros(ds) -> tuple[np.ndarray, np.ndarray]:
    """(NULL mask, int64 values of the non-NULL rows) of a ``ds`` array:
    epoch microseconds for dates and timestamps, the values themselves for
    integer dates. numpy only — ``pd.to_datetime`` costs about 0.75 ms a
    call, more than all 36 statistics of a 180-point series."""
    a = np.asarray(ds)
    if a.dtype == object:
        # None, NaN and NaT are the values not equal to themselves
        null = np.array([x is None or x != x for x in a], dtype=bool)
        vals = a[~null].tolist()
        a = np.array(vals) if vals else np.zeros(0, np.int64)
        if a.dtype.kind not in "iuf":
            a = a.astype("datetime64[us]")
    elif a.dtype.kind == "M":
        null = np.isnat(a)
        a = a[~null].astype("datetime64[us]")
    elif a.dtype.kind == "f":  # an integer column with NULLs
        null = np.isnan(a)
        a = a[~null]
    else:
        null = np.zeros(len(a), dtype=bool)
    return null, a.astype(np.int64)


def dates_us(ds) -> np.ndarray:
    """The non-NULL ``ds`` values as int64: epoch microseconds for dates
    and timestamps, the values themselves for integer dates."""
    return _ds_micros(ds)[1]


def _gap_stats(d: np.ndarray, freq: Frequency | None) -> tuple[int, int]:
    """(expected_length, n_gaps) of the non-NULL dates ``d``."""
    if freq is None or len(d) < 2:
        return len(d), 0
    d = np.sort(d)
    if freq.kind == "month":
        # calendar months since the epoch, counted in years, quarters or
        # months as the frequency steps
        months = d.astype("datetime64[us]").astype("datetime64[M]") \
            .astype(np.int64)
        units = months // (12 if freq.n % 12 == 0
                           else 3 if freq.n % 3 == 0 else 1)
        return (int(units[-1] - units[0] + 1),
                int(np.count_nonzero(np.diff(units) > 1)))
    step = freq.n if freq.kind == "int" else freq.n * 1_000_000
    return (int((d[-1] - d[0]) // step + 1),
            int(np.count_nonzero(np.diff(d) > step * 1.5)))


def _value_stats(y: np.ndarray, v: np.ndarray) -> dict:
    """The statistics of the valid values ``v`` of the ordered series
    ``y`` (NaN = missing): one sort serves the order statistics, one
    deviation array the moments, the ACF and the trend."""
    n = len(v)
    sv = np.sort(v)
    lo, hi = float(sv[0]), float(sv[-1])
    total = float(v.sum())
    mean = total / n
    dev = v - mean
    dev2 = dev * dev
    ss = float(dev2.sum())
    variance = ss / (n - 1) if n > 1 else 0.0
    std = math.sqrt(variance)
    nan = float("nan")
    skew = kurt = bimod = nan
    if n > 2 and std > EPS:
        m3 = float((dev2 * dev).sum()) / n
        skew = m3 / std ** 3 * math.sqrt(n * (n - 1)) / (n - 2)
    if n > 3 and std > EPS:
        g2 = float((dev2 * dev2).sum()) / n / std ** 4 - 3.0
        kurt = (n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * g2 + 6.0)
    if n > 3 and math.isfinite(kurt) and math.isfinite(skew):
        # IEEE division, as the reference's f64: a kurtosis of exactly -3
        # gives inf rather than an error
        bimod = ((skew ** 2 + 1.0) / (kurt + 3.0) if kurt != -3.0
                 else math.inf)
    neg = int(np.searchsorted(sv, 0.0, "left"))
    non_pos = int(np.searchsorted(sv, 0.0, "right"))
    n_unique = int(np.count_nonzero(np.diff(sv))) + 1
    zero = y == 0.0  # a missing value ends a zero run
    trim = int(n * 0.1)
    core = sv[trim: n - trim]
    q1, q3 = _percentile(sv, 0.25), _percentile(sv, 0.75)
    trend, seas = _strengths(dev, ss)
    return {
        "n_zeros": non_pos - neg, "n_positive": n - non_pos,
        "n_negative": neg, "n_unique_values": n_unique,
        "is_constant": n_unique == 1,
        "n_zeros_start": len(y) if zero.all() else int(np.argmin(zero)),
        "n_zeros_end": len(y) if zero.all() else int(np.argmin(zero[::-1])),
        "plateau_size": _plateau(v),
        "plateau_size_nonzero": _plateau_nonzero(v),
        "mean": mean, "median": _percentile(sv, 0.5), "std_dev": std,
        "variance": variance, "min": lo, "max": hi, "range": hi - lo,
        "sum": total, "skewness": skew, "kurtosis": kurt,
        "tail_index": _hill(v), "bimodality_coef": bimod,
        "trimmed_mean": float(core.mean()) if len(core) else mean,
        "coef_variation": std / abs(mean) if abs(mean) > EPS else nan,
        "q1": q1, "q3": q3, "iqr": q3 - q1,
        "autocorr_lag1": _acf(dev, ss, 1), "trend_strength": trend,
        "seasonality_strength": seas, "entropy": _approx_entropy(v, lo, hi),
        "stability": _stability(v),
    }


def series_stats(ds, y: np.ndarray, freq: Frequency | None) -> tuple:
    """The ``STATS_FIELDS`` columns of one series (stats.rs:106-312), each
    a one-element list: the kernel of ``ts_stats_by`` and of its SQL form.

    ``y`` is float with NaN for a missing value (NULL and NaN both count
    as ``n_nulls``; ``n_nan`` is 0, as pandas and Arrow do not keep them
    apart). Rows come ordered by ``ds``; rows that share a ds, the NULL ds
    among them, are put in the order ``sort_array(struct(ds, y))`` gives
    (missing y first, then by value), so the order-dependent statistics do
    not depend on how the engine broke the tie. NULL-ds rows count in
    ``length``; the gap statistics use the valid dates only."""
    y = np.asarray(y, dtype=float)
    null_ds, d = _ds_micros(ds)
    k = int(np.count_nonzero(null_ds))
    if k > 1 or (k and not null_ds[:k].all()) or (
            len(d) > 1 and not (np.diff(d) > 0).all()):
        full = np.zeros(len(y), np.int64)
        full[~null_ds] = d
        missing = np.isnan(y)
        y = y[np.lexsort((np.where(missing, 0.0, y), ~missing, full,
                          ~null_ds))]
    out = dict.fromkeys(_STATS_NAMES)
    v = y[~np.isnan(y)]
    out.update(length=len(y), n_nulls=len(y) - len(v), n_nan=0)
    if len(v):
        out.update(_value_stats(y, v))
        out["expected_length"], out["n_gaps"] = _gap_stats(d, freq)
    return tuple([out[name]] for name in _STATS_NAMES)


# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------

STATS = SeriesOp(
    lambda ds, dt, y, *_: [T.StructField(n, t, n not in ("length", "n_nulls",
                                                          "n_nan"))
                           for n, t in STATS_FIELDS],
    series_stats)


def ts_stats_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                frequency=None) -> DataFrame:
    """Per-series 36-column statistics table. Output: (<group>, 36 stats).

    ``series_map`` over ``STATS``, the op the SQL form
    ``ts_stats_by(TABLE(...))`` runs too: one pass over each series'
    arrays, as the reference computes them (stats.rs:106-312). A
    non-integer ``ds`` is cast to TIMESTAMP, so dates reach the kernel as
    datetime64. The group column keeps the input's nullability;
    ``length``, ``n_nulls`` and ``n_nan`` are non-nullable; an undefined
    statistic (a tail index of fewer than 10 points, say) is NaN, as in
    the reference and the SQL form."""
    freq = parse_frequency(frequency) if frequency is not None else None
    ds = f"`{ds_col}`"
    if not isinstance(df.schema[ds_col].dataType,
                      (T.IntegerType, T.LongType)):
        ds = f"CAST({ds} AS TIMESTAMP)"
    base = df.selectExpr(f"`{group_col}`", f"{ds} AS `{ds_col}`",
                         f"`{y_col}`")
    key = df.schema[group_col]
    out = series_map(base, group_col, ds_col, y_col, STATS, freq,
                     lead=T.StructField(group_col, key.dataType, key.nullable))
    # Arrow turns the kernel's NaN into NULL; only a series without a
    # valid value has NULL statistics, so give the others their NaN back
    nan = "IF(length > n_nulls, CAST('NaN' AS DOUBLE), NULL)"
    return out.selectExpr(f"`{group_col}`", *[
        f"coalesce(`{n}`, {nan}) AS `{n}`" if isinstance(t, T.DoubleType)
        else f"`{n}`" for n, t in STATS_FIELDS])


# the reference exposes both ts_stats and ts_stats_by with the same grouped
# signature (ts_macros.cpp:31-86); one implementation serves both names
ts_stats = ts_stats_by


def ts_quality_report(stats_df: DataFrame, min_length: int = 10) -> DataFrame:
    """Aggregate a ts_stats output (ref macro ``ts_macros.cpp:90-103``):
    (n_passed, n_nan_issues, n_missing_issues, n_constant, n_total)."""
    passed = ((F.col("length") >= int(min_length))
              & (F.col("n_nulls") == 0) & (F.col("n_nan") == 0)
              & ~F.col("is_constant"))
    return stats_df.agg(
        F.sum(F.when(passed, 1).otherwise(0)).alias("n_passed"),
        F.sum(F.when(F.col("n_nan") > 0, 1).otherwise(0)).alias("n_nan_issues"),
        F.sum(F.when(F.col("n_nulls") > 0, 1).otherwise(0)).alias("n_missing_issues"),
        F.sum(F.when(F.col("is_constant"), 1).otherwise(0)).alias("n_constant"),
        F.count(F.lit(1)).alias("n_total"),
    )


def ts_stats_summary(stats_df: DataFrame) -> DataFrame:
    """(n_series, avg_length, min_length, max_length, total_nulls, total_nans)
    — ref macro ``ts_macros.cpp:106-121``."""
    return stats_df.agg(
        F.count(F.lit(1)).alias("n_series"),
        F.avg("length").alias("avg_length"),
        F.min("length").alias("min_length"),
        F.max("length").alias("max_length"),
        F.sum("n_nulls").alias("total_nulls"),
        F.sum("n_nan").alias("total_nans"),
    )


DQ_FIELDS = [
    ("structural_score", T.DoubleType()), ("temporal_score", T.DoubleType()),
    ("magnitude_score", T.DoubleType()), ("behavioral_score", T.DoubleType()),
    ("overall_score", T.DoubleType()), ("n_gaps", T.LongType()),
    ("n_missing", T.LongType()), ("is_constant", T.BooleanType()),
]


def _dq_scores(y_raw: np.ndarray, dates_us: np.ndarray | None) -> dict:
    """4-dimension quality scores (quality.rs:66-280)."""
    n = len(y_raw)
    if n == 0:
        return {k: (0 if k in ("n_gaps", "n_missing") else
                    (False if k == "is_constant" else 0.0)) for k, _ in DQ_FIELDS}
    isnull = pd.isna(y_raw)
    n_missing = int(isnull.sum())
    v = np.asarray(y_raw[~isnull], dtype=float)
    n_gaps = 0
    if dates_us is not None and len(dates_us) >= 2:
        d = np.sort(dates_us)
        diffs = np.diff(d)
        if len(diffs):
            vals, counts = np.unique(diffs, return_counts=True)
            mode = vals[np.argmax(counts)]
            n_gaps = int((diffs > mode * 1.5).sum())
    if len(v) < 2:
        is_constant = True
    else:
        is_constant = bool(np.all(np.abs(v - v[0]) < EPS))
    # structural: completeness*0.7 + length_factor*0.3
    if len(v) == 0 and n_missing > 0:
        structural = 0.0
    else:
        total = len(v) + n_missing
        completeness = len(v) / total if total else 0.0
        length_factor = min(len(v) / 30.0, 1.0)
        structural = min(max(completeness * 0.7 + length_factor * 0.3, 0.0), 1.0)
    temporal = min(max(1.0 - (n_gaps / n) * 5.0, 0.0), 1.0) if n else 0.0
    if len(v) == 0:
        magnitude = 0.0
    else:
        nv = len(v)
        sv = np.sort(v)
        q1 = sv[int(nv * 0.25)]
        q3 = sv[min(int(nv * 0.75), nv - 1)]
        iqr = q3 - q1
        lower, upper = q1 - 1.5 * iqr, q3 + 1.5 * iqr
        outlier_ratio = float(((v < lower) | (v > upper)).sum()) / nv
        mean = v.mean()
        std = math.sqrt(float(np.mean((v - mean) ** 2)))
        extreme_ratio = float((np.abs(v - mean) > 4.0 * std).sum()) / nv
        magnitude = min(max(1.0 - outlier_ratio * 2.0 - extreme_ratio * 3.0, 0.0), 1.0)
    if len(v) < 3:
        behavioral = 0.5
    else:
        d = v - v.mean()
        ss = float((d * d).sum())
        if abs(ss / len(v)) < EPS:
            behavioral = 0.0
        else:
            acf1 = _acf(d, ss, 1)
            behavioral = min(max(1.0 - (0.2 if abs(acf1) > 0.95 else 0.0), 0.0), 1.0)
    overall = (structural + temporal + magnitude + behavioral) / 4.0
    return {
        "structural_score": structural, "temporal_score": temporal,
        "magnitude_score": magnitude, "behavioral_score": behavioral,
        "overall_score": overall, "n_gaps": n_gaps, "n_missing": n_missing,
        "is_constant": is_constant,
    }


def data_quality(ds, y) -> tuple:
    """The ``DQ_FIELDS`` columns of one ds-sorted series."""
    s = _dq_scores(y, dates_us(ds))
    return tuple([s[n]] for n, _ in DQ_FIELDS)


DATA_QUALITY = SeriesOp(
    lambda ds, dt, y, *_: [T.StructField(n, t) for n, t in DQ_FIELDS],
    data_quality)


def ts_data_quality(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                    n_short: int = 10, frequency=None) -> DataFrame:
    """Per-series quality verdicts: (<group> as unique_id, 4 scores, overall,
    n_gaps, n_missing, is_constant) — ref macro ``ts_macros.cpp:124-148``."""
    lead = T.StructField("unique_id", df.schema[group_col].dataType)
    return series_map(df, group_col, ds_col, y_col, DATA_QUALITY, lead=lead)


ts_data_quality_by = ts_data_quality


def ts_data_quality_summary(df: DataFrame, group_col: str, ds_col: str,
                            y_col: str, n_short: int = 10) -> DataFrame:
    """(n_total, n_good, n_fair, n_poor, avg_score) — ref macro
    ``ts_macros.cpp:150-173``."""
    q = ts_data_quality(df, group_col, ds_col, y_col, n_short)
    s = F.col("overall_score")
    return q.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(s >= 0.8, 1).otherwise(0)).alias("n_good"),
        F.sum(F.when((s >= 0.5) & (s < 0.8), 1).otherwise(0)).alias("n_fair"),
        F.sum(F.when(s < 0.5, 1).otherwise(0)).alias("n_poor"),
        F.avg(s).alias("avg_score"),
    )


def group_quantiles(df: DataFrame, key_cols: list[str], value_col: str,
                    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95)):
    """EXACT per-group quantiles (numpy type-7 linear interpolation — the
    same convention as the conformal family), beyond-parity EDA surface.
    Output: key columns + ``n`` + one ``q_<percent>`` column per quantile.

    Unlike ``percentile_approx``, results are deterministic on any
    partitioning and replayable by an engine-side sorted-list fold: each
    group's non-null values are collected and sorted once, and every
    quantile is an interpolated selection on that array (JVM higher-order
    expressions, no Python). Per-group state is the group's value list —
    right for grouped EDA (groups of up to ~millions of rows); for
    corpus-wide single-group quantiles at 100 TB use a distributed sketch
    instead.
    """
    from pyspark.sql import functions as F
    if not qs:
        raise ValueError("qs must be non-empty")
    arr = F.array_sort(F.collect_list(
        F.when(F.col(value_col).isNotNull(),
               F.col(value_col).cast("double"))))
    # the type-7 interpolation is the ONE shared Column helper
    # (prep._q7) — scaling/winsorization and every quantile oracle rely
    # on these expressions staying bit-identical, so the identity is
    # structural, not comment-enforced
    from .prep import _q7
    base = df.groupBy(*key_cols).agg(arr.alias("__a"))
    n = F.size("__a")
    cols = [n.alias("n")]
    for q in qs:
        label = f"q_{str(q).replace('.', '_')}"
        cols.append(_q7(F.col("__a"), n, float(q)).alias(label))
    return base.select(*key_cols, *cols)


def hll_count_distinct(df: DataFrame, key_col: str,
                       group_cols: list[str] | None = None,
                       precision_bits: int = 12,
                       seed: str = "hll") -> DataFrame:
    """Engine-portable HyperLogLog distinct count (Flajolet et al. 2007):
    the 100 TB answer to "how many distinct URLs/users/docs" that
    ``count_distinct`` answers with a corpus-wide shuffle of every key —
    the wire here carries one (bucket, max-rho) pair per non-empty bucket
    per group, constant ``2^precision_bits`` (default 4096) state regardless of input
    size, and sketches merge across partitions/batches by construction
    (max is associative). The one libm call (the linear-counting ``ln``)
    can differ between engines in its last ulp — the contract pins the
    estimate to 4 decimals; a count estimate carries no meaning there.

    Unlike Spark's ``approx_count_distinct`` (whose xxhash64-based sketch
    no other engine replays), the hash is md5: bucket = the first
    ``precision_bits`` bits of md5(seed:key), rho = leading-zero count of
    the next 60 bits + 1, extracted with pure string/CASE arithmetic so
    both sides are bit-exact — no float log2 anywhere near the bit math.
    The estimator is the standard alpha_m * m^2 / sum(2^-M) with the
    small-range linear-counting correction; the one float fold runs over
    the bucket-sorted registers (deterministic on any partitioning).
    Output: group cols + ``hll_estimate`` (double) + ``n_buckets_used``.

    Accuracy: ~1.04/sqrt(m) relative error (m=4096 -> ~1.6%). NULL keys
    are ignored, like count_distinct.
    """
    gcols = list(group_cols or [])
    regs = hll_registers(df, key_col, gcols, precision_bits, seed)
    return hll_estimate_from_registers(regs, gcols, precision_bits)


def hll_bucket_rho(key_col: str, precision_bits: int = 12,
                   seed: str = "hll") -> tuple[Column, Column]:
    """The stateless (bucket, rho) expression pair shared by the batch
    register table and the streaming sketch: bucket = first
    ``precision_bits`` bits of md5(seed:key), rho = leading-zero count of
    the next 60 bits + 1, all pure string/CASE arithmetic (engine-
    portable, no float log2 near a power-of-2 boundary)."""
    if not (4 <= precision_bits <= 16) or precision_bits % 4 != 0:
        # hex-nibble-aligned buckets keep the bit split pure substring math
        raise ValueError("precision_bits must be 4, 8, 12, or 16")
    nib = precision_bits // 4
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(key_col).cast("string")))
    bucket = F.conv(F.substring(h, 1, nib), 16, 10).cast("bigint")
    # rho over the NEXT 15 hex chars (60 bits): 4 * (leading '0' chars)
    # + per-nibble leading zeros of the first non-zero char + 1
    s = F.substring(h, nib + 1, 15)
    stripped = F.regexp_replace(s, "^0+", "")
    zchars = F.length(s) - F.length(stripped)
    first = F.upper(F.substring(stripped, 1, 1))
    nib_lz = (F.when(first == "1", 3)
               .when(first.isin("2", "3"), 2)
               .when(first.isin("4", "5", "6", "7"), 1)
               .otherwise(0))
    rho = (F.when(F.length(stripped) == 0, F.lit(61))
            .otherwise(zchars * 4 + nib_lz + 1)).cast("int")
    return bucket, rho


def _hll_bucket_rho_df(df: DataFrame, key_col: str, gcols: list[str],
                       precision_bits: int, seed: str) -> DataFrame:
    """Staged (bucket, rho) projection shared by the batch and streaming
    register builders (r13 CSE fix): composing :func:`hll_bucket_rho`'s
    Column pair into one Project re-inlined the md5 ~7x and the
    zero-strip regexp ~5x PER ROW (every reference to a non-cheap alias
    re-evaluates in Catalyst; codegen subexpression elimination does not
    recover it). The staged projections bind each multiply-referenced
    intermediate once — CollapseProject keeps the stages separate
    exactly because the aliases are non-cheap and multiply referenced.
    Same expressions over the same values — bit-identical output."""
    if not (4 <= precision_bits <= 16) or precision_bits % 4 != 0:
        raise ValueError("precision_bits must be 4, 8, 12, or 16")
    nib = precision_bits // 4
    p1 = (df.filter(F.col(key_col).isNotNull())
            .select(*gcols,
                    F.md5(F.concat_ws(":", F.lit(seed),
                                      F.col(key_col).cast("string")))
                     .alias("__h")))
    p2 = p1.select(*gcols,
                   F.conv(F.substring("__h", 1, nib), 16, 10).cast("bigint")
                    .alias("hll_bucket"),
                   F.substring("__h", nib + 1, 15).alias("__s"))
    p3 = p2.select(*gcols, "hll_bucket", "__s",
                   F.regexp_replace("__s", "^0+", "").alias("__st"))
    first = F.upper(F.substring("__st", 1, 1))
    nib_lz = (F.when(first == "1", 3)
               .when(first.isin("2", "3"), 2)
               .when(first.isin("4", "5", "6", "7"), 1)
               .otherwise(0))
    zchars = F.length("__s") - F.length("__st")
    rho = (F.when(F.length("__st") == 0, F.lit(61))
            .otherwise(zchars * 4 + nib_lz + 1)).cast("int")
    return p3.select(*gcols, "hll_bucket", rho.alias("hll_max_rho"))


def hll_registers(df: DataFrame, key_col: str,
                  group_cols: list[str] | None = None,
                  precision_bits: int = 12,
                  seed: str = "hll") -> DataFrame:
    """The register table of :func:`hll_count_distinct` — ``(groups,
    hll_bucket, hll_max_rho)`` — for INCREMENTAL ingest: compute per
    batch/shard, persist (at most ``2^p`` rows per group regardless of
    input size), then :func:`hll_merge_registers` +
    :func:`hll_estimate_from_registers` at read time. Merging is exact:
    registers are per-bucket maxima, and max is associative/commutative/
    idempotent, so ANY partition of the input into batches yields the
    identical merged sketch (pinned in tests)."""
    gcols = list(group_cols or [])
    return (_hll_bucket_rho_df(df, key_col, gcols, precision_bits, seed)
            .groupBy(*gcols, "hll_bucket")
            .agg(F.max("hll_max_rho").alias("hll_max_rho")))


def hll_merge_registers(*reg_dfs: DataFrame) -> DataFrame:
    """Merge register tables from independent batches/shards: union +
    per-(groups, bucket) max. Output schema = input schema."""
    if not reg_dfs:
        raise ValueError("at least one register table required")
    u = reg_dfs[0]
    for r in reg_dfs[1:]:
        u = u.unionByName(r)
    keys = [c for c in u.columns if c not in ("hll_max_rho",)]
    return (u.groupBy(*keys)
             .agg(F.max("hll_max_rho").alias("hll_max_rho"))
             .select(*u.columns))


def hll_estimate_from_registers(regs: DataFrame,
                                group_cols: list[str] | None = None,
                                precision_bits: int = 12) -> DataFrame:
    """Estimate from a (merged) register table — the read-time half of
    the incremental sketch. Same estimator (and the same bucket-ordered
    deterministic float fold) as :func:`hll_count_distinct`."""
    gcols = list(group_cols or [])
    m = 1 << precision_bits
    # deterministic float fold: registers sorted by bucket id, sequential
    # sum of exact powers of two (order-pinned, replayable engine-side)
    packed = regs.groupBy(*gcols).agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("hll_bucket").alias("__b"),
            F.col("hll_max_rho").alias("__m")))).alias("__rs"))
    used = F.size("__rs")
    ssum = F.aggregate(
        F.col("__rs"), F.lit(0.0),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r["__m"].cast("double")))
    # empty buckets contribute 2^0 = 1 each
    zeros = (F.lit(m) - used).cast("double")
    # canonical Flajolet bias correction: 0.673 only for m=16; the
    # closed form 0.7213/(1+1.079/m) for m>=128 (ADVICE r8: the old
    # pinned literals 0.718213/0.722572 carried a +0.2% transcription
    # bias; operator, oracle, and test replay moved together)
    alpha = 0.673 if m == 16 else 0.7213 / (1 + 1.079 / m)
    raw = F.lit(alpha * m * m) / (ssum + zeros)
    # linear counting below the 2.5m threshold when empty buckets remain
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)) \
           .otherwise(raw)
    return packed.select(*gcols,
                         est.alias("hll_estimate"),
                         used.cast("bigint").alias("n_buckets_used"))


def _bloom_check(m_bits: int, k: int) -> None:
    if m_bits < 32 or m_bits % 32 != 0:
        # 32-bit words keep every shift strictly below 2^31, portable to
        # engines with CHECKED bigint shifts (DuckDB errors on 1<<63)
        raise ValueError("m_bits must be a positive multiple of 32")
    if not (1 <= k <= 16):
        raise ValueError("k must be in [1, 16]")


def _bloom_word_mask(key_col: str, i: int, m_bits: int,
                     seed: str) -> tuple[Column, Column]:
    """The i-th hash's (word, mask) pair: bit position = the first 60
    bits of md5(seed:i:key) mod m_bits, packed 32 bits per bigint word —
    pure string/CASE arithmetic, engine-portable like the HLL sketch."""
    h = F.md5(F.concat_ws(":", F.lit(seed), F.lit(str(i)),
                          F.col(key_col).cast("string")))
    p = F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % m_bits
    word = (p / 32).cast("bigint")
    # call_function: the Python F.shiftleft binding only takes a literal
    # shift amount; the SQL function itself accepts a column
    mask = F.call_function("shiftleft", F.lit(1).cast("bigint"),
                           (p % 32).cast("int"))
    return word, mask


def _bloom_positions(key_col: str, k: int, m_bits: int, seed: str) -> Column:
    """Array of the k bit POSITIONS (r13 CSE fix): building the (word,
    mask) struct pair from :func:`_bloom_word_mask` re-inlined each
    hash's md5 twice per row (once into the word, once into the mask).
    Projecting the positions once and deriving word/mask from the bound
    value halves the md5 count; the word/mask expressions are the same
    ops on the same position value — bit-identical output."""
    return F.array(*[
        (F.conv(F.substring(
            F.md5(F.concat_ws(":", F.lit(seed), F.lit(str(i)),
                              F.col(key_col).cast("string"))), 1, 15),
            16, 10).cast("bigint") % m_bits)
        for i in range(1, k + 1)])


def _bloom_word_mask_of(p: Column) -> tuple[Column, Column]:
    """(word, mask) from a bound bit-position column — the same
    expressions :func:`_bloom_word_mask` composes inline."""
    word = (p / 32).cast("bigint")
    mask = F.call_function("shiftleft", F.lit(1).cast("bigint"),
                           (p % 32).cast("int"))
    return word, mask


def bloom_registers(df: DataFrame, key_col: str,
                    group_cols: list[str] | None = None,
                    m_bits: int = 4096, k: int = 4,
                    seed: str = "bloom") -> DataFrame:
    """Engine-portable Bloom filter (Bloom 1970) — the membership
    counterpart of :func:`hll_registers`: the 100 TB answer to "is this
    key in the benchmark/history set" that a semi-join answers with a
    corpus-wide shuffle of every key. State is at most ``m_bits / 32``
    rows per group REGARDLESS of input size (default 4096 bits = 128
    rows), and sketches merge across partitions/batches/days by
    construction (bitwise OR is associative/commutative/IDEMPOTENT, so
    re-ingesting a batch is harmless — same incremental-ingest contract
    as the HLL registers).

    Each key sets ``k`` bits: bit_i = first 60 bits of md5(seed:i:key)
    mod ``m_bits``, packed 32 bits per bigint word so the bit math is
    replayable in any engine with md5 + integer ops (no engine-private
    hash, no 1<<63 overflow edge). NULL keys are ignored.

    Output: group cols + ``bloom_word`` (bigint) + ``bloom_bits``
    (bigint, only the low 32 bits used). Guarantee: no false negatives;
    false-positive rate ~ fill_ratio^k (see :func:`bloom_stats`).
    """
    _bloom_check(m_bits, k)
    gcols = list(group_cols or [])
    w, m = _bloom_word_mask_of(F.col("__p"))
    return (df.filter(F.col(key_col).isNotNull())
              .select(*gcols,
                      F.explode(_bloom_positions(key_col, k, m_bits, seed))
                       .alias("__p"))
              .select(*gcols, w.alias("bloom_word"), m.alias("__mask"))
              .groupBy(*gcols, "bloom_word")
              .agg(F.bit_or("__mask").alias("bloom_bits")))


def bloom_merge_registers(*reg_dfs: DataFrame) -> DataFrame:
    """Merge Bloom register tables from independent batches/shards:
    union + per-(groups, word) bitwise OR. Idempotent — overlapping or
    re-played batches cannot corrupt the sketch."""
    if not reg_dfs:
        raise ValueError("at least one register table required")
    u = reg_dfs[0]
    for r in reg_dfs[1:]:
        u = u.unionByName(r)
    keys = [c for c in u.columns if c != "bloom_bits"]
    return (u.groupBy(*keys)
             .agg(F.bit_or("bloom_bits").alias("bloom_bits"))
             .select(*u.columns))


def bloom_contains(df: DataFrame, regs: DataFrame, key_col: str,
                   m_bits: int = 4096, k: int = 4, seed: str = "bloom",
                   result_col: str = "bloom_maybe",
                   group_cols: list[str] | None = None) -> DataFrame:
    """Probe a Bloom register table: input + ``result_col`` boolean —
    True iff all ``k`` of the key's bits are set (no false negatives;
    false positives at ~fill^k).

    Ungrouped scale shape: the register table is COLLECTED into a
    ``m_bits / 32`` literal word array (bounded, deterministic — the
    same documented driver-side exception as the ANN centroid samples)
    and the probe compiles to a pure per-row expression: zero joins,
    zero shuffles, pipelining with the scan. This is the physical point
    of a Bloom filter at 100 TB — the whole benchmark/history SET rides
    the closure as ~``m_bits`` bits instead of a join side. NULL keys
    probe NULL.

    With ``group_cols`` each row probes ITS group's filter (one sketch
    per benchmark suite / source / day): the probe explodes the k
    (word, mask) pairs and broadcast-joins the bounded register table on
    (groups, word) — the corpus side never shuffles on data; rows must
    be unique per (groups, key) (the regroup runs on all input columns,
    like :func:`cm_estimate`). Rows whose group has NO registers probe
    False (an empty filter contains nothing). NULL keys probe NULL.
    """
    _bloom_check(m_bits, k)
    gcols = list(group_cols or [])
    if gcols:
        from pyspark.sql.functions import broadcast
        cols = list(df.columns)
        w, m = _bloom_word_mask_of(F.col("__p"))
        probe = (df.select(*cols,
                           F.explode(_bloom_positions(key_col, k, m_bits,
                                                      seed)).alias("__p"))
                 .select(*cols, w.alias("bloom_word"), m.alias("__mask")))
        joined = probe.join(
            broadcast(regs.select(*gcols, "bloom_word", "bloom_bits")),
            on=[*gcols, "bloom_word"], how="left")
        hit = F.coalesce(
            F.col("bloom_bits").bitwiseAND(F.col("__mask")) != 0,
            F.lit(False))
        out = (joined.groupBy(*cols)
               .agg(F.bool_and(hit).alias(result_col)))
        return out.withColumn(
            result_col,
            F.when(F.col(key_col).isNotNull(),
                   F.col(result_col)).otherwise(F.lit(None)))
    extra = set(regs.columns) - {"bloom_word", "bloom_bits"}
    if extra:
        # a GROUPED register table has one sketch per group — collapsing
        # it into one literal array would silently mix the groups
        raise ValueError(
            f"regs carries group columns {sorted(extra)}; pass "
            f"group_cols= to probe per-group filters")
    n_words = m_bits // 32
    rows = regs.select("bloom_word", "bloom_bits").collect()  # <= m_bits/32
    words = [0] * n_words
    for r in rows:
        w = int(r["bloom_word"])
        if not (0 <= w < n_words):
            raise ValueError(
                f"register word {w} out of range for m_bits={m_bits} — "
                f"the table was built with a different geometry")
        words[w] = int(r["bloom_bits"])
    lit_words = F.array(*[F.lit(w).cast("bigint") for w in words])
    # positions bound once (r13 CSE fix): each check reads its position
    # via element_at instead of re-inlining the md5 into word AND mask
    pre = df.withColumn("__bp", _bloom_positions(key_col, k, m_bits, seed))
    checks = []
    for i in range(1, k + 1):
        w, m = _bloom_word_mask_of(F.element_at(F.col("__bp"), i))
        checks.append(
            F.element_at(lit_words, (w + 1).cast("int")).bitwiseAND(m) != 0)
    maybe = checks[0]
    for c in checks[1:]:
        maybe = maybe & c
    return pre.withColumn(
        result_col,
        F.when(F.col(key_col).isNotNull(), maybe).otherwise(F.lit(None))) \
        .drop("__bp")


def bloom_stats(regs: DataFrame, m_bits: int = 4096, k: int = 4,
                group_cols: list[str] | None = None) -> DataFrame:
    """Health report of a (merged) Bloom register table: ``n_bits_set``,
    ``fill_ratio``, ``fp_rate_est`` = fill^k, and ``est_n_keys`` =
    -(m/k) * ln(1 - fill) (the standard Swamidass-Baldi cardinality
    estimate; NULL once the filter saturates). One count-only aggregate
    over at most ``m_bits / 32`` rows per group."""
    _bloom_check(m_bits, k)
    gcols = list(group_cols or [])
    agg = regs.groupBy(*gcols).agg(
        F.sum(F.bit_count("bloom_bits")).alias("n_bits_set"))
    fill = F.col("n_bits_set").cast("double") / m_bits
    return agg.select(
        *gcols, F.col("n_bits_set").cast("bigint").alias("n_bits_set"),
        fill.alias("fill_ratio"),
        F.pow(fill, F.lit(float(k))).alias("fp_rate_est"),
        F.when(F.col("n_bits_set") < m_bits,
               F.lit(-m_bits / float(k)) * F.log(F.lit(1.0) - fill))
         .otherwise(F.lit(None)).alias("est_n_keys"))


def bottomk_sample(df: DataFrame, key_col: str,
                   group_cols: list[str] | None = None,
                   k: int = 64, seed: str = "bk") -> DataFrame:
    """Deterministic bottom-k (KMV) sample per group: the ``k`` rows
    whose md5-uniform hash of ``key_col`` is smallest — a fixed-size
    uniform sample with the MERGE property that makes it a sketch: the
    bottom-k of a union is the bottom-k of the batches' bottom-k's, so
    per-shard samples combine into the exact whole-corpus sample without
    revisiting history (idempotent, batch-split-invariant; pinned in
    tests). The hash is the portable md5-uniform (``pipeline.md5_uniform``)
    so any engine replays the selection bit-for-bit.

    Output: input columns + ``sample_u`` + ``sample_rank`` (1-based,
    ordered by (u, key) — the key tiebreak makes duplicate-u rows
    deterministic). ``key_col`` should uniquely identify rows. One
    shuffle on the group key; the per-partition sort spills, so group
    size is unbounded.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window
    from .pipeline import md5_uniform
    gcols = list(group_cols or [])
    u = md5_uniform(F.col(key_col), seed)
    # TWO-PHASE selection so a single giant group (or the ungrouped
    # whole-corpus case) never funnels through one window reducer:
    # phase 1 takes each (group, salt)'s bottom-k in parallel (64-way
    # salt from the key hash), phase 2 re-ranks the <= 64k survivors
    # per group. min-k of the salts' min-k's == min-k of everything
    # (the same merge property the batch/stream split relies on), so
    # the result is identical to the single-window form.
    salt = (F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit(seed + "#s"),
                          F.col(key_col).cast("string"))), 1, 8),
        16, 10).cast("bigint") % 64)
    w1 = Window.partitionBy(*[F.col(c) for c in gcols], F.col("__salt")) \
               .orderBy(F.col("__u"), F.col(key_col))
    w2 = Window.partitionBy(*[F.col(c) for c in gcols]) \
               .orderBy(F.col("__u"), F.col(key_col))
    return (df.withColumn("__u", u)
              .withColumn("__salt", salt)
              .withColumn("__r1", F.row_number().over(w1))
              .filter(F.col("__r1") <= k)
              .withColumn("sample_rank", F.row_number().over(w2))
              .filter(F.col("sample_rank") <= k)
              .drop("__salt", "__r1")
              .withColumnRenamed("__u", "sample_u"))


def sampled_quantiles(df: DataFrame, key_col: str, value_col: str,
                      group_cols: list[str] | None = None, k: int = 64,
                      qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
                      seed: str = "bk") -> DataFrame:
    """Approximate per-group quantiles from the deterministic bottom-k
    sample — the documented 100 TB path where :func:`group_quantiles`'
    exact sorted-list fold stops being meaningful (corpus-wide groups):
    state is ``k`` rows per group regardless of input size, the sample
    is engine-replayable (exact oracle, unlike t-digest/KLL), and
    per-shard samples merge exactly (see :func:`bottomk_sample`).
    Standard error ~ sqrt(q(1-q)/k) quantiles of a uniform k-sample.

    Output: group cols + ``n`` (sample size, = min(k, group size)) + one
    ``q_<percent>`` column per quantile (type-7, same convention as
    :func:`group_quantiles`).
    """
    gcols = list(group_cols or [])
    sample = bottomk_sample(df, key_col, gcols, k, seed)
    return group_quantiles(sample, gcols, value_col, qs)


def _cm_check(width: int, depth: int) -> None:
    if width < 2:
        raise ValueError("width must be >= 2")
    if not (1 <= depth <= 16):
        raise ValueError("depth must be in [1, 16]")


def _cm_col(key_col: str, j: int, width: int, seed: str) -> Column:
    """Row j's column index: first 60 bits of md5(seed:j:key) mod width —
    the same engine-portable hash family as the HLL/Bloom sketches."""
    h = F.md5(F.concat_ws(":", F.lit(seed), F.lit(str(j)),
                          F.col(key_col).cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % width


def cm_registers(df: DataFrame, key_col: str,
                 group_cols: list[str] | None = None,
                 width: int = 512, depth: int = 3, seed: str = "cm",
                 weight_col: str | None = None) -> DataFrame:
    """Engine-portable Count-Min sketch (Cormode & Muthukrishnan 2005) —
    the frequency counterpart of the HLL/Bloom sketches: "how often does
    this key occur in 100 TB of history" with at most ``depth * width``
    counter rows per group REGARDLESS of input size, never
    underestimating. Each occurrence increments ``depth`` cells: row j's
    column = first 60 bits of md5(seed:j:key) mod ``width``; the estimate
    is the MIN over the key's cells (:func:`cm_estimate`).

    ``weight_col`` switches from occurrence counting to summing a
    non-negative weight (e.g. token counts). NULL keys are ignored.

    Output: group cols + ``cm_row`` (int) + ``cm_col`` (bigint) +
    ``cm_count`` (bigint). Sketches from DISJOINT batches merge by
    per-cell addition (:func:`cm_merge_registers`) — addition is
    associative/commutative but NOT idempotent, so unlike the HLL/Bloom
    registers a batch must be ingested exactly once (the usual counter
    contract). Error bound: overestimate <= 2N/width with probability
    ~1 - 2^-depth (N = total count).
    """
    _cm_check(width, depth)
    gcols = list(group_cols or [])
    w = (F.col(weight_col).cast("bigint") if weight_col
         else F.lit(1).cast("bigint"))
    cells = F.array(*[
        F.struct(F.lit(j).cast("int").alias("r"),
                 _cm_col(key_col, j, width, seed).alias("c"))
        for j in range(1, depth + 1)])
    return (df.filter(F.col(key_col).isNotNull())
              .select(*gcols, w.alias("__w"), F.explode(cells).alias("__p"))
              .select(*gcols, F.col("__p.r").alias("cm_row"),
                      F.col("__p.c").alias("cm_col"), F.col("__w"))
              .groupBy(*gcols, "cm_row", "cm_col")
              .agg(F.sum("__w").alias("cm_count")))


def cm_merge_registers(*reg_dfs: DataFrame) -> DataFrame:
    """Merge Count-Min register tables from DISJOINT batches/shards:
    union + per-(groups, row, col) sum. Addition is not idempotent —
    re-ingesting a batch double-counts (standard counter semantics)."""
    if not reg_dfs:
        raise ValueError("at least one register table required")
    u = reg_dfs[0]
    for r in reg_dfs[1:]:
        u = u.unionByName(r)
    keys = [c for c in u.columns if c != "cm_count"]
    return (u.groupBy(*keys)
             .agg(F.sum("cm_count").alias("cm_count"))
             .select(*u.columns))


def cm_collapse_emissions(emitted: DataFrame) -> DataFrame:
    """Recover the FINAL Count-Min register table from a streaming
    update-mode sink: each trigger re-emits an updated cell with its
    RUNNING total, and counter cells are monotone non-decreasing, so the
    final state is the per-cell MAX over all emissions. (Contrast with
    :func:`cm_merge_registers`, which ADDS registers from disjoint
    batches — collapsing emissions with sum would double-count.)"""
    keys = [c for c in emitted.columns if c != "cm_count"]
    return (emitted.groupBy(*keys)
            .agg(F.max("cm_count").alias("cm_count"))
            .select(*emitted.columns))


def cm_estimate(keys_df: DataFrame, regs: DataFrame, key_col: str,
                width: int = 512, depth: int = 3, seed: str = "cm",
                result_col: str = "cm_est") -> DataFrame:
    """Probe an (ungrouped) Count-Min register table: input +
    ``result_col`` = min over the key's ``depth`` cells (0 for a key
    hashing only to untouched cells — never below the true count).

    ``keys_df`` rows must be unique (the probe explodes ``depth`` cells
    per row and regroups on all input columns). Scale shape: the
    register table is bounded (``depth * width`` rows), so the join is a
    broadcast hash join against it — the corpus side never shuffles.
    """
    _cm_check(width, depth)
    extra = set(regs.columns) - {"cm_row", "cm_col", "cm_count"}
    if extra:
        # a GROUPED register table has one sketch per group — joining on
        # (row, col) alone would silently sum across the groups
        raise ValueError(
            f"regs carries group columns {sorted(extra)}; filter to one "
            f"group (or drop the group columns deliberately) first")
    from pyspark.sql.functions import broadcast
    cols = list(keys_df.columns)
    cells = F.array(*[
        F.struct(F.lit(j).cast("int").alias("r"),
                 _cm_col(key_col, j, width, seed).alias("c"))
        for j in range(1, depth + 1)])
    probe = (keys_df.select(*cols, F.explode(cells).alias("__p"))
             .select(*cols, F.col("__p.r").alias("cm_row"),
                     F.col("__p.c").alias("cm_col")))
    joined = probe.join(broadcast(regs.select("cm_row", "cm_col",
                                              "cm_count")),
                        on=["cm_row", "cm_col"], how="left")
    return (joined.groupBy(*cols)
                  .agg(F.min(F.coalesce(F.col("cm_count"), F.lit(0)))
                        .cast("bigint").alias(result_col)))


def salted_join(left: DataFrame, right: DataFrame, on: list[str],
                how: str = "inner", salt_buckets: int = 8) -> DataFrame:
    """Skew-resilient equi-join — the action :func:`skew_report`
    recommends when a key's ``skew_ratio`` blows past AQE's trigger:
    the LEFT (big, skewed) side gets a deterministic per-row salt
    (md5 of the whole row, mod ``salt_buckets``), the RIGHT side is
    replicated once per salt value, and the join runs on
    ``on + [salt]`` — a hot key's rows now spread over
    ``salt_buckets`` reducers instead of one straggler. Results are
    IDENTICAL to the plain join (each left row joins exactly its salt's
    right copy), which the driver key pins cross-engine against the
    un-salted SQL join.

    ``how`` must be ``inner`` or ``left``: replicating the right side
    keeps those complete (every left row sees a full right copy at its
    salt); right/full-outer would emit unmatched RIGHT rows once per
    salt and are rejected. Cost: the right side scans/shuffles
    ``salt_buckets`` times — use for big-big skewed joins where the
    right side is modest but too big to broadcast. NULL join keys
    behave exactly as in the plain join (never match).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left'")
    if salt_buckets < 2:
        raise ValueError("salt_buckets must be >= 2")
    if not on:
        raise ValueError("on must be non-empty")
    if "__salt" in (*left.columns, *right.columns):
        raise ValueError("'__salt' is reserved by salted_join")
    row_fp = F.md5(F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in left.columns]))
    salt = (F.conv(F.substring(row_fp, 1, 8), 16, 10).cast("bigint")
            % salt_buckets).cast("int")
    l = left.withColumn("__salt", salt)
    # generators can't nest inside expressions (no .cast on the explode)
    r = right.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))) \
        .withColumn("__salt", F.col("__salt").cast("int"))
    return l.join(r, on=[*on, "__salt"], how=how).drop("__salt")


def skew_report(df: DataFrame, key_cols: list[str],
                top_k: int = 10) -> DataFrame:
    """Pre-flight shuffle-skew diagnostic: per-key row counts summarized
    into the numbers that decide a 100 TB join/groupBy strategy — key
    cardinality, the mean/median/p99/max rows-per-key, the max/mean skew
    ratio (AQE's skew-join trigger is ~5x median), and the ``top_k``
    hottest keys (to salt, cap, or broadcast around). Beyond-parity ops
    tooling: run it on the join key BEFORE the join.

    Output: one row — ``(n_keys, n_rows, mean_per_key, p50_per_key,
    p99_per_key, max_per_key, skew_ratio, top_keys)`` where ``top_keys``
    is an array of "key=count" strings (count desc, then key asc — both
    components deterministic) and ``skew_ratio`` = max/mean.

    Scale shape: one count-only groupBy on the key (map-side combined,
    the thing being measured is also the only shuffle), then a single
    1-row aggregate over (key, count) pairs; the quantiles are the exact
    type-7 selection on the sorted count list — per-key counts fit one
    aggregate buffer as long as key cardinality does, which is the regime
    where an exact report is meaningful (beyond that, sample first).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    counts = (df.select(key.alias("__k"))
                .groupBy("__k").agg(F.count(F.lit(1)).alias("__c")))
    arr = F.array_sort(F.collect_list("__c"))
    hot = F.slice(
        F.array_sort(F.collect_list(F.struct(
            (-F.col("__c")).alias("negc"), F.col("__k").alias("k")))),
        1, top_k)
    agg = counts.agg(arr.alias("__a"), hot.alias("__h"),
                     F.sum("__c").alias("n_rows"))
    n = F.size("__a")

    def q7(p):
        ix = F.lit(float(p)) * (n - 1).cast("double")
        lo = F.floor(ix).cast("int")
        frac = ix - lo.cast("double")
        return (F.when(n == 1, F.get("__a", 0).cast("double")).otherwise(
            F.get("__a", lo).cast("double") * (F.lit(1.0) - frac)
            + F.get("__a", F.least(lo + 1, n - 1)).cast("double") * frac))

    mean = F.col("n_rows").cast("double") / n.cast("double")
    mx = F.element_at("__a", -1).cast("double")
    return agg.select(
        n.cast("bigint").alias("n_keys"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        mean.alias("mean_per_key"),
        q7(0.5).alias("p50_per_key"),
        q7(0.99).alias("p99_per_key"),
        mx.cast("bigint").alias("max_per_key"),
        (mx / mean).alias("skew_ratio"),
        F.transform("__h", lambda s: F.concat_ws(
            "=", s["k"], (-s["negc"]).cast("string"))).alias("top_keys"))
