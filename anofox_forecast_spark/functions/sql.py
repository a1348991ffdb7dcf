"""Spark SQL surface: ``ts_*`` functions callable from SQL strings.

The reference exposes everything as SQL table macros / scalar functions
(``src/macros/ts_macros.cpp:2131-2198`` registers ~70 table macros;
``src/anofox_forecast_extension.cpp:16-175`` the scalar/aggregate set). This
module recreates that surface on Spark:

- per-series table functions as Python UDTFs with a TABLE argument:
  ``SELECT * FROM ts_forecast_by(TABLE(panel), 'id', 'ds', 'y', 'Naive',
  7, '1d')``. Every one that needs a whole series (or a whole partition)
  at once runs in ONE shell, ``_SeriesUDTF``. Its ``analyze`` asks Catalyst
  to partition by the group column and order by date, so each instance
  sees whole series, and parses every literal argument once, on the
  driver: a bad literal raises ``ValueError`` when ``spark.sql()`` is
  called, before any Spark job. Each instance buffers its partition's rows
  and hands them once to ``emit``.
- the per-series computation behind a UDTF is the DataFrame operator's own
  kernel (``operators/``). A ``SeriesOp`` — ``FORECAST``, ``STATS``,
  ``DATA_QUALITY``, ``FEATURES`` and the detection ops — has one SQL
  runner, ``_series_udtf``, as it has one DataFrame runner,
  ``batched.series_map``; the other forecast UDTFs (CV, backtest, inspect,
  explain, exog) fit through the forecast kernel (``forecast_spec``,
  ``fit_one``, ``forecast_block``). Only the UDTFs whose DataFrame operator is a
  Catalyst plan — the prep family, the ``_by`` metrics, conformal, CV
  layout, hierarchy, OLS — replay that plan in Python here, because a UDTF
  cannot run a Column plan; ``tests/test_sql_surface.py`` pins each to
  its DataFrame operator.
- the 12 evaluation metrics as scalar SQL functions over DOUBLE arrays
  (``ts_mae(actual, forecast)`` etc.), mirroring the reference's scalar
  forms (``src/scalar_functions/metrics.cpp``) as JVM-side SQL UDFs.

The UDTF path is row-at-a-time Python — it is the *compatibility* surface.
The DataFrame API (``operators/``) is the performance path.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, replace
from typing import Any

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult
from pyspark.sql.functions import OrderingColumn, PartitioningColumn, udtf

from ..frequency import parse_frequency
from ..operators import detect as D
from ..operators.features import FEATURES, selected_features
from ..operators.forecast import (FORECAST, ForecastSpec, fit_one,
                                  forecast_block, forecast_schema,
                                  forecast_spec)
from ..operators.stats import DATA_QUALITY, STATS
from .batched import SeriesOp
from ..operators.forecast_ext import (explain_decompose, explainable,
                                      inspect_result)

_DBL = T.DoubleType()


# ---------------------------------------------------------------------------
# The UDTF shell
# ---------------------------------------------------------------------------

@dataclass
class _Analysis(AnalyzeResult):
    """``analyze`` result carrying the parsed literal arguments; Spark
    hands it to every UDTF instance's ``__init__``."""

    parsed: Any = None


def _result(fields, parsed=None, by: str | None = None,
            order: str | None = None) -> _Analysis:
    """The analysis of a UDTF that emits ``fields``: one partition per
    ``by`` value (the whole table in one partition when ``by`` is None),
    rows ordered by ``order``."""
    kw: dict = ({"partitionBy": [PartitioningColumn(by)]} if by is not None
                else {"withSinglePartition": True})
    if order is not None:
        kw["orderBy"] = [OrderingColumn(order)]
    return _Analysis(schema=T.StructType(list(fields)), parsed=parsed, **kw)


class _SeriesUDTF:
    """The shell of every buffered UDTF. A subclass defines a static
    ``analyze`` that parses the literal arguments once and returns them
    via :func:`_result`, and ``emit(rows)``, which gets the instance's
    whole partition (ordered as ``analyze`` asked) once, with the parsed
    arguments in ``self.p``."""

    def __init__(self, analyze_result: _Analysis):
        self.p = analyze_result.parsed
        self._rows = []

    def eval(self, row, *_):
        self._rows.append(row)

    def terminate(self):
        if self._rows:
            yield from self.emit(self._rows)


def _f(name, t):
    return T.StructField(name, t)


def _int(v) -> int:
    """An integer literal, given as ``7`` or ``'7'`` (``'7.5'`` raises)."""
    return int(str(v))


def _lit(arg: AnalyzeArgument | None):
    """Literal value of an optional argument."""
    return None if arg is None else arg.value


def _nan_y(rows, y_col):
    return np.array([math.nan if r[y_col] is None else float(r[y_col])
                     for r in rows])


def _ds(rows, ds_col):
    return np.array([r[ds_col] for r in rows], dtype=object)


def _dated(rows, ds_col):
    """``rows`` without the NULL-ds rows, which are not part of a series
    (as in ``forecast.forecast_series``)."""
    return [r for r in rows if r[ds_col] is not None]


def _plain(v):
    """A kernel's output cell as a value the UDTF row serializer takes."""
    if isinstance(v, np.ndarray):
        return v.tolist()
    return v.item() if isinstance(v, np.generic) else v


def _column_rows(lead: tuple, cols):
    """Row tuples of a kernel's output columns, each led by ``lead``."""
    for row in zip(*cols):
        yield (*lead, *map(_plain, row))


def _parse_ts(s):
    import pandas as _pd
    try:
        return _pd.Timestamp(str(s)).to_pydatetime()
    except ValueError as e:  # pandas' DateParseError names no ValueError
        raise ValueError(f"invalid timestamp {s!r}: {e}") from None


# ---------------------------------------------------------------------------
# Forecast UDTFs: every one parses its literal arguments with the kernel's
# forecast_spec and fits through the kernel's fit_one.
# ---------------------------------------------------------------------------

def _spec(method, horizon=1, frequency=None, params_json=None,
          level=None) -> ForecastSpec:
    """:func:`forecast_spec` over UDTF literals: ``params_json`` is a JSON
    object of model params; an explicit ``confidence_level`` argument wins
    over its key."""
    params = dict(json.loads(params_json)) if params_json else {}
    if level is not None:
        params["confidence_level"] = level
    return forecast_spec(method, horizon, frequency, params)


def _forecast_args(method, horizon, frequency, confidence_level=None,
                   params_json=None) -> tuple:
    """The ``FORECAST`` op's arguments from ``ts_forecast_by``'s literals
    ``(method, horizon, frequency[, confidence_level[, params_json]])``;
    the trailing two are optional, matching the reference macro's named
    parameters (``ts_macros.cpp``): ``confidence_level`` (default 0.90)
    and a JSON dict of model params (``{"window": 7, ...}``)."""
    return (_spec(method, horizon, frequency, params_json, confidence_level),)


def _forecast_single_args(method, horizon, frequency=None,
                          confidence_level=None, params_json=None) -> tuple:
    """``ts_forecast``'s literals: as ``ts_forecast_by``'s, with the
    frequency optional (default ``'1d'``)."""
    return _forecast_args(method, horizon,
                          "1d" if frequency is None else frequency,
                          confidence_level, params_json)


class ForecastInspectUDTF(_SeriesUDTF):
    """``ts_forecast_inspect_by(TABLE(t), 'id', 'ds', 'y', 'SES'[,
    params_json])`` — fitted-parameter scalars (the DataFrame op's
    ``inspection`` struct flattened; array diagnostics live on the
    DataFrame path)."""

    @staticmethod
    def analyze(table, group_col, ds_col, y_col, method, params_json=None):
        g = group_col.value
        return _result(
            [_f(g, table.dataType[g].dataType),
             _f("model_family", T.StringType()), _f("spec", T.StringType()),
             _f("alpha", _DBL), _f("beta", _DBL), _f("gamma", _DBL),
             _f("phi", _DBL), _f("theta", _DBL), _f("aic", _DBL),
             _f("bic", _DBL), _f("seasonal_period", T.LongType())],
            (_spec(method.value, params_json=_lit(params_json)), g,
             ds_col.value, y_col.value), by=g, order=ds_col.value)

    def emit(self, rows):
        spec, g, d, y = self.p
        r = fit_one(spec, _nan_y(_dated(rows, d), y))
        if r is None:
            return
        i = inspect_result(r)
        yield (rows[0][g], i["model_family"], i["spec"], i["alpha"],
               i["beta"], i["gamma"], i["phi"], i["theta"], i["aic"],
               i["bic"], i["seasonal_period"])


class ForecastExplainUDTF(_SeriesUDTF):
    """``ts_forecast_explain_by(TABLE(t), 'id', 'ds', 'y', 'ETS', '7'[,
    params_json])`` — per-horizon additive decomposition, one row per step
    (the DataFrame op's struct arrays unrolled)."""

    @staticmethod
    def analyze(table, group_col, ds_col, y_col, method, horizon,
                params_json=None):
        g = group_col.value
        spec = explainable(_spec(method.value, horizon.value,
                                 params_json=_lit(params_json)))
        return _result(
            [_f(g, table.dataType[g].dataType),
             _f("forecast_step", T.IntegerType()), _f("level", _DBL),
             _f("trend", _DBL), _f("seasonal", _DBL), _f("residual", _DBL)],
            (spec, g, ds_col.value, y_col.value), by=g, order=ds_col.value)

    def emit(self, rows):
        spec, g, d, y_col = self.p
        y = _nan_y(_dated(rows, d), y_col)
        r = fit_one(spec, y)
        if r is None:
            return
        dec = explain_decompose(y, r, spec.horizon, spec.season)
        for i in range(spec.horizon):
            yield (rows[0][g], i + 1, dec["level"][i], dec["trend"][i],
                   dec["seasonal"][i], dec["residual"][i])


class ForecastExogByUDTF(_SeriesUDTF):
    """``ts_forecast_exog_by(TABLE(t), 'id', 'ds', 'y', 'x1,x2', '1d',
    'Naive', '7'[, params_json])`` — union-convention exog forecast: trailing
    rows with NULL y are the future rows carrying regressor values (the
    reference's two-table macro collapsed into the standard panel-future
    layout; Spark UDTFs accept ONE TABLE argument). Fits through the
    kernel's regression with model errors, like
    forecast_ext.ts_forecast_exog_by."""

    @staticmethod
    def analyze(table, group_col, ds_col, y_col, xreg_csv, frequency, method,
                horizon, params_json=None):
        g, d = group_col.value, ds_col.value
        spec = _spec(method.value, horizon.value, frequency.value,
                     _lit(params_json))
        xcols = [c for c in str(xreg_csv.value).split(",") if c.strip()]
        return _result(forecast_schema(table.dataType, g, d),
                       (spec, g, d, y_col.value, xcols), by=g, order=d)

    def _block(self, rows):
        """The forecast block of the union-convention series, or None when
        the series is skipped."""
        spec, g, ds_col, y_col, xcols = self.p
        nn = [i for i, r in enumerate(rows) if r[y_col] is not None]
        if not nn:
            return None
        split = nn[-1] + 1
        hist, fut = rows[:split], rows[split:split + spec.horizon]
        if not fut or len(hist) < 3:
            return None

        def xmat(rs):
            return np.array([[math.nan if r[c] is None else float(r[c])
                              for c in xcols] for r in rs])

        r = fit_one(spec, _nan_y(hist, y_col), len(fut),
                    (xmat(hist), xmat(fut)))
        if r is None:
            return None  # error isolation, matching the DataFrame op
        last = hist[-1][ds_col]
        return forecast_block(spec, last, r, isinstance(last, int))

    def emit(self, rows):
        block = self._block(rows)
        if block is not None:
            yield from _column_rows((rows[0][self.p[1]],), block)


class ForecastExogUDTF(ForecastExogByUDTF):
    """``ts_forecast_exog(TABLE(t), 'ds', 'y', 'x1,x2', 'Naive', '7'[,
    params_json])`` — single-series array-valued form (mirror of
    forecast_ext.ts_forecast_exog)."""

    @staticmethod
    def analyze(table, ds_col, y_col, xreg_csv, method, horizon,
                params_json=None):
        arr = T.ArrayType(_DBL)
        spec = _spec(method.value, horizon.value, "1d", _lit(params_json))
        xcols = [c for c in str(xreg_csv.value).split(",") if c.strip()]
        return _result(
            [_f("point_forecasts", arr), _f("lower_bounds", arr),
             _f("upper_bounds", arr), _f("model_name", T.StringType())],
            (spec, None, ds_col.value, y_col.value, xcols),
            order=ds_col.value)

    def emit(self, rows):
        block = self._block(rows)
        if block is not None:
            yield tuple([float(v) for v in col] for col in block[2:5]) \
                + (block[5][0],)


class CvForecastUDTF(_SeriesUDTF):
    """``ts_cv_forecast_by(TABLE(folds), 'id', 'ds', 'y', 'Naive'[,
    params_json])`` — fit per (group, fold) train slice, predict the test
    rows (mirror of cv.ts_cv_forecast_by; the folds table carries fold_id
    and split columns from ts_cv_folds_by)."""

    @staticmethod
    def analyze(table, group_col, ds_col, y_col, method, params_json=None):
        s = table.dataType
        g, d = group_col.value, ds_col.value
        return _result(
            [_f("fold_id", T.LongType()), _f(g, s[g].dataType),
             _f(d, s[d].dataType), _f(y_col.value, _DBL),
             _f("split", T.StringType()), _f("yhat", _DBL),
             _f("yhat_lower", _DBL), _f("yhat_upper", _DBL),
             _f("model_name", T.StringType())],
            (_spec(method.value, params_json=_lit(params_json)), g, d,
             y_col.value), by=g, order=d)

    def emit(self, rows):
        spec, group_col, ds_col, y_col = self.p
        g = rows[0][group_col]
        folds: dict = {}
        for r in rows:
            folds.setdefault(r["fold_id"], []).append(r)
        for fold in sorted(folds):
            train = [r for r in folds[fold] if r["split"] == "train"]
            test = [r for r in folds[fold] if r["split"] == "test"]
            h = len(test)
            if h == 0 or len(train) < 3:
                continue
            r = fit_one(spec, _nan_y(train, y_col), h)
            if r is None:
                continue
            for i, t in enumerate(test):
                yield (fold, g, t[ds_col],
                       None if t[y_col] is None else float(t[y_col]), "test",
                       float(r.point[i]), float(r.lower[i]),
                       float(r.upper[i]), r.model_name)


class BacktestAutoUDTF(_SeriesUDTF):
    """``ts_backtest_auto_by(TABLE(t), 'id', 'ds', 'y', 'Naive', '7',
    '2')`` — expanding-window folds + per-fold fit + error columns
    (mirror of cv.ts_backtest_auto_by; fold boundaries match
    cv.ts_cv_folds_by's auto layout)."""

    @staticmethod
    def analyze(table, group_col, ds_col, y_col, method, horizon, n_folds):
        g = group_col.value
        return _result(
            [_f(g, table.dataType[g].dataType), _f("fold_id", T.LongType()),
             _f(ds_col.value, table.dataType[ds_col.value].dataType),
             _f("yhat", _DBL), _f("actual", _DBL), _f("error", _DBL),
             _f("abs_error", _DBL), _f("yhat_lower", _DBL),
             _f("yhat_upper", _DBL), _f("model_name", T.StringType())],
            (_spec(method.value, horizon.value), g, ds_col.value,
             y_col.value, int(n_folds.value)), by=g, order=ds_col.value)

    def emit(self, rows):
        spec, group_col, ds_col, y_col, folds = self.p
        h = spec.horizon
        g = rows[0][group_col]
        y = _nan_y(rows, y_col)
        n = len(y)
        for fold_id in range(folds):
            train_end = max(n - folds * h, 1) - 1 + fold_id * h
            if train_end + h >= n or train_end < 0:
                continue
            train = y[:train_end + 1]
            if np.isfinite(train).sum() < 3:
                continue
            r = fit_one(spec, train)
            if r is None:
                continue
            for s in range(1, h + 1):
                row = rows[train_end + s]
                actual = row[y_col]
                yhat = float(r.point[s - 1])
                err = None if actual is None else float(actual) - yhat
                yield (g, fold_id, row[ds_col], yhat,
                       None if actual is None else float(actual), err,
                       None if err is None else abs(err),
                       float(r.lower[s - 1]), float(r.upper[s - 1]),
                       r.model_name)


# ---------------------------------------------------------------------------
# Per-series ops shared with the DataFrame operators: detection,
# statistics, data quality, features and the model-library forecast.
# ---------------------------------------------------------------------------

def _series_udtf(op: SeriesOp, parse=lambda: (), grouped: bool = True,
                 y_name: str | None = "y", keep: tuple | None = None,
                 null_y: bool = False):
    """The UDTF of a ``SeriesOp``, its one SQL runner: ``(TABLE(t),
    [group_col,] ds_col, y_col, *literals)``; ``parse(*literals)`` gives
    the op's arguments. Every output field is nullable. ``y_name`` names
    the op's value field (None: the input's y column name); ``keep``
    projects the output onto those fields; ``null_y`` hands the kernel
    the raw y values (None for NULL) instead of NaN."""

    class _Series(_SeriesUDTF):
        @staticmethod
        def analyze(table, *args):
            names = [a.value for a in args[:3 if grouped else 2]]
            g, d, y = names if grouped else [None, *names]
            dt = table.dataType[d].dataType
            pargs = parse(*[a.value for a in args[len(names):]])
            fields = op.fields(d, dt, y_name or y, *pargs)
            pos = (list(range(len(fields))) if keep is None else
                   [i for i, f in enumerate(fields) if f.name in keep])
            lead = [_f(g, table.dataType[g].dataType)] if grouped else []
            return _result(lead + [_f(fields[i].name, fields[i].dataType)
                                   for i in pos],
                           (g, d, y, op.kernel_args(dt, pargs), pos), by=g,
                           order=d)

        def emit(self, rows):
            g, d, y, kargs, pos = self.p
            ys = [r[y] for r in rows] if null_y else _nan_y(rows, y)
            cols = op.kernel(_ds(rows, d), ys, *kargs)
            if cols is not None:
                yield from _column_rows(() if g is None else (rows[0][g],),
                                        [cols[i] for i in pos])

    return _Series


def _period(period):
    return (_int(period),)


def _peaks_args(min_prominence=0.0):
    return (float(str(min_prominence)),)


def _changepoint_args(min_size=2, penalty=None):
    return _int(min_size), None if penalty is None else float(str(penalty))


def _peak_timing_args(period=0, min_prominence=0.0):
    return _int(period), float(str(min_prominence))


DetectPeriodsUDTF = _series_udtf(
    D.PERIODS, lambda method: (str(method),),
    keep=("period", "confidence", "strength", "n_periods", "primary_period",
          "method"))
TsDetectAnomaliesOnlineUDTF = _series_udtf(
    D.ONLINE_ZSCORE, D.online_zscore_args, y_name=None, null_y=True)


def _features_args(features=None) -> tuple:
    """The ``FEATURES`` op's argument: the selected feature names, from an
    optional comma-separated list (all features when absent or empty)."""
    return (selected_features([x for x in str(features).split(",")
                               if x.strip()] if features else None),)


_STATS_UDTF = _series_udtf(STATS, lambda frequency: (
    parse_frequency(frequency) if frequency else None,))

_SERIES_UDTFS = {
    "ts_forecast_by": _series_udtf(FORECAST, _forecast_args),
    "ts_forecast": _series_udtf(FORECAST, _forecast_single_args,
                                grouped=False),
    # the reference registers both stats spellings (ts_macros.cpp:31-86)
    "ts_stats_by": _STATS_UDTF,
    "ts_stats": _STATS_UDTF,
    "ts_features_by": _series_udtf(FEATURES, _features_args),
    "ts_features_table": _series_udtf(FEATURES, _features_args,
                                      grouped=False),
    # non-_by single-series spellings (ts_macros.cpp registers both)
    "ts_classify_seasonality": _series_udtf(D.CLASSIFY, _period,
                                            grouped=False),
    "ts_detect_peaks": _series_udtf(D.PEAKS, _peaks_args, grouped=False),
    "ts_detect_changepoints": _series_udtf(D.CHANGEPOINTS, _changepoint_args,
                                           grouped=False),
    "ts_analyze_peak_timing": _series_udtf(D.PEAK_TIMING, _peak_timing_args,
                                           grouped=False),
    "ts_analyze_peak_timing_by": _series_udtf(D.PEAK_TIMING,
                                              _peak_timing_args),
    "ts_mstl_decomposition_by": _series_udtf(D.MSTL, lambda periods="": (
        [int(x) for x in str(periods).split(",") if x.strip()] or None,)),
    "ts_analyze_seasonality_by": _series_udtf(D.SEASONALITY),
    "ts_classify_seasonality_by": _series_udtf(D.CLASSIFY, _period),
    "ts_seasonal_strength_by": _series_udtf(
        D.STRENGTH, lambda period, method="variance": (_int(period),
                                                      str(method))),
    "ts_detrend_by": _series_udtf(
        D.DETREND, lambda method="linear", degree=2, order=1: (
            str(method), _int(degree), _int(order))),
    "ts_decompose_seasonal_by": _series_udtf(
        D.DECOMPOSE, lambda period, method="additive": (_int(period),
                                                       str(method))),
    "ts_detect_peaks_by": _series_udtf(D.PEAKS, _peaks_args),
    "ts_detect_changepoints_by": _series_udtf(D.CHANGEPOINTS,
                                              _changepoint_args),
    "ts_instantaneous_period_by": _series_udtf(D.INSTANTANEOUS),
}


_DQ = _series_udtf(DATA_QUALITY, lambda *_: ())


class DataQualityUDTF(_DQ):
    """``ts_data_quality(TABLE(t), 'id', 'ds', 'y'[, n_short, frequency])``
    — per-series 4-dimension quality scores through the DataFrame
    operator's op, ``stats.DATA_QUALITY``, with the group column named
    ``unique_id`` (n_short/frequency accepted for signature parity, unused
    by the scores exactly as in the DataFrame op)."""

    @staticmethod
    def analyze(table, *args):
        r = _DQ.analyze(table, *args)
        lead, *rest = r.schema.fields
        return replace(r, schema=T.StructType(
            [_f("unique_id", lead.dataType), *rest]))


# ---------------------------------------------------------------------------
# Scalar metrics as Spark 4 SQL UDFs — pure Catalyst expressions (the same
# zip_with/aggregate/filter higher-order functions as the Column forms in
# metrics.py), so the SQL-string surface is JVM-side with no Python in the
# data path. Zero-denominator semantics = NaN, matching metrics.rs:120-135.
# ---------------------------------------------------------------------------

_EPS_SQL = "2.220446049250313e-16D"
_NAN_SQL = "CAST('NaN' AS DOUBLE)"

_SQL_SCALARS: list[tuple[str, str, str]] = [
    ("ts_arr_mean", "(a ARRAY<DOUBLE>) RETURNS DOUBLE",
     "aggregate(a, 0.0D, (acc, x) -> acc + x) / size(a)"),
    # inverse of ts_scale_by's transform (r9c): x*scale + loc, NULL-safe
    ("ts_unscale", "(x DOUBLE, loc DOUBLE, scale DOUBLE) RETURNS DOUBLE",
     "x * scale + loc"),
    ("ts_mae", "(a ARRAY<DOUBLE>, f ARRAY<DOUBLE>) RETURNS DOUBLE",
     "ts_arr_mean(zip_with(a, f, (x, y) -> abs(x - y)))"),
    ("ts_mse", "(a ARRAY<DOUBLE>, f ARRAY<DOUBLE>) RETURNS DOUBLE",
     "ts_arr_mean(zip_with(a, f, (x, y) -> (x - y) * (x - y)))"),
    ("ts_rmse", "(a ARRAY<DOUBLE>, f ARRAY<DOUBLE>) RETURNS DOUBLE",
     "sqrt(ts_mse(a, f))"),
    ("ts_bias", "(a ARRAY<DOUBLE>, f ARRAY<DOUBLE>) RETURNS DOUBLE",
     "ts_arr_mean(zip_with(a, f, (x, y) -> y - x))"),
    ("ts_mape", "(a ARRAY<DOUBLE>, f ARRAY<DOUBLE>) RETURNS DOUBLE",
     f"""CASE WHEN size(filter(a, x -> abs(x) > {_EPS_SQL})) = 0
          THEN {_NAN_SQL}
          ELSE aggregate(
                 filter(zip_with(a, f, (x, y) -> struct(x AS a, y AS f)),
                        p -> abs(p.a) > {_EPS_SQL}),
                 0.0D, (acc, p) -> acc + abs((p.a - p.f) / p.a))
               / size(filter(a, x -> abs(x) > {_EPS_SQL})) * 100.0D END"""),
    ("ts_smape", "(a ARRAY<DOUBLE>, f ARRAY<DOUBLE>) RETURNS DOUBLE",
     f"""CASE WHEN size(filter(zip_with(a, f, (x, y) -> abs(x) + abs(y)),
                              s -> s > {_EPS_SQL})) = 0
          THEN {_NAN_SQL}
          ELSE aggregate(
                 filter(zip_with(a, f, (x, y) -> struct(x AS a, y AS f)),
                        p -> abs(p.a) + abs(p.f) > {_EPS_SQL}),
                 0.0D, (acc, p) -> acc + 2.0D * abs(p.a - p.f)
                                         / (abs(p.a) + abs(p.f)))
               / size(filter(zip_with(a, f, (x, y) -> abs(x) + abs(y)),
                             s -> s > {_EPS_SQL})) * 100.0D END"""),
    # a SQL UDF cannot bind intermediates and is not callable under lambda
    # scope, so ss_tot uses the one-pass identity sum(x^2) - sum(x)^2/n —
    # each aggregate() is a single O(n) fold (the centered form would
    # re-evaluate the mean aggregate for every element, O(n^2))
    ("ts_r2", "(a ARRAY<DOUBLE>, f ARRAY<DOUBLE>) RETURNS DOUBLE",
     f"""CASE WHEN abs(aggregate(a, 0.0D, (acc, x) -> acc + x * x)
                   - aggregate(a, 0.0D, (acc, x) -> acc + x)
                     * aggregate(a, 0.0D, (acc, x) -> acc + x) / size(a))
              < {_EPS_SQL}
          THEN {_NAN_SQL}
          ELSE 1.0D - aggregate(zip_with(a, f, (x, y) -> (x - y) * (x - y)),
                                0.0D, (acc, v) -> acc + v)
                      / (aggregate(a, 0.0D, (acc, x) -> acc + x * x)
                         - aggregate(a, 0.0D, (acc, x) -> acc + x)
                           * aggregate(a, 0.0D, (acc, x) -> acc + x) / size(a))
          END"""),
    ("ts_mase",
     "(a ARRAY<DOUBLE>, f ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE",
     f"CASE WHEN abs(ts_mae(a, b)) < {_EPS_SQL} THEN {_NAN_SQL} "
     "ELSE ts_mae(a, f) / ts_mae(a, b) END"),
    ("ts_rmae",
     "(a ARRAY<DOUBLE>, p1 ARRAY<DOUBLE>, p2 ARRAY<DOUBLE>) RETURNS DOUBLE",
     f"CASE WHEN abs(ts_mae(a, p2)) < {_EPS_SQL} THEN {_NAN_SQL} "
     "ELSE ts_mae(a, p1) / ts_mae(a, p2) END"),
    ("ts_quantile_loss",
     "(a ARRAY<DOUBLE>, f ARRAY<DOUBLE>, q DOUBLE) RETURNS DOUBLE",
     "ts_arr_mean(zip_with(a, f, (x, y) -> "
     "CASE WHEN x - y >= 0 THEN q * (x - y) ELSE (q - 1.0D) * (x - y) END))"),
    # NOTE: a SQL UDF cannot be invoked on lambda variables (the inlined
    # body fails to resolve), so the per-quantile pinball loss is written
    # out as nested higher-order functions here
    ("ts_mqloss",
     "(a ARRAY<DOUBLE>, fs ARRAY<ARRAY<DOUBLE>>, qs ARRAY<DOUBLE>) "
     "RETURNS DOUBLE",
     """aggregate(zip_with(fs, qs, (fc, q) ->
          aggregate(zip_with(a, fc, (x, y) ->
              CASE WHEN x - y >= 0 THEN q * (x - y)
                   ELSE (q - 1.0D) * (x - y) END),
            0.0D, (acc, v) -> acc + v) / size(a)),
        0.0D, (acc2, v2) -> acc2 + v2) / size(qs)"""),
    ("ts_coverage",
     "(a ARRAY<DOUBLE>, lo ARRAY<DOUBLE>, up ARRAY<DOUBLE>) RETURNS DOUBLE",
     f"""CASE WHEN size(a) = 0 THEN {_NAN_SQL}
          ELSE CAST(size(filter(
                 zip_with(zip_with(a, lo, (x, l) -> struct(x AS a, l AS l)),
                          up, (p, u) -> struct(p.a AS a, p.l AS l, u AS u)),
                 t -> t.a >= t.l AND t.a <= t.u)) AS DOUBLE) / size(a) END"""),
    # ref scalar conformal.cpp:1202-1244: NULL on length mismatch, NaN on
    # empty (mean_interval_width over an empty slice)
    ("ts_mean_interval_width",
     "(lo ARRAY<DOUBLE>, up ARRAY<DOUBLE>) RETURNS DOUBLE",
     f"""CASE WHEN size(lo) != size(up) THEN CAST(NULL AS DOUBLE)
          WHEN size(lo) = 0 THEN {_NAN_SQL}
          ELSE aggregate(zip_with(up, lo, (u, l) -> u - l),
                         0.0D, (acc, w) -> acc + w) / size(lo) END"""),
]


# ---------------------------------------------------------------------------
# Grouped (_by) metric UDTFs: ``SELECT * FROM ts_mae_by(TABLE(t), 'id',
# 'actual', 'forecast')`` -> (id, metric_value). Compatibility surface for
# the reference's registered _by macros (anofox_forecast_extension.cpp);
# the performance path is functions/metrics.py (Catalyst). tests/
# test_sql_surface.py pins SQL == DataFrame per metric.
# ---------------------------------------------------------------------------

_METRIC_EPS = 2.220446049250313e-16


def _metric_by_compute(metric: str, cols: list[list[float]], extra) -> float:
    """One group's metric; ``extra`` is the parsed trailing argument (the
    quantile, or mqloss's list of quantiles)."""
    a = np.asarray(cols[0], dtype=float)
    if metric in ("mae", "mse", "rmse", "bias", "mape", "smape", "r2",
                  "quantile_loss"):
        f = np.asarray(cols[1], dtype=float)
    if metric == "mae":
        return float(np.mean(np.abs(a - f)))
    if metric == "mse":
        return float(np.mean((a - f) ** 2))
    if metric == "rmse":
        return float(math.sqrt(np.mean((a - f) ** 2)))
    if metric == "bias":
        return float(np.mean(f - a))
    if metric == "mape":
        m = np.abs(a) > _METRIC_EPS
        return (float(np.mean(np.abs((a[m] - f[m]) / a[m])) * 100.0)
                if m.any() else math.nan)
    if metric == "smape":
        den = np.abs(a) + np.abs(f)
        m = den > _METRIC_EPS
        return (float(np.mean(2.0 * np.abs(a[m] - f[m]) / den[m]) * 100.0)
                if m.any() else math.nan)
    if metric == "r2":
        ss_tot = float(np.sum((a - a.mean()) ** 2))
        if abs(ss_tot) < _METRIC_EPS:
            return math.nan
        return 1.0 - float(np.sum((a - f) ** 2)) / ss_tot
    if metric == "quantile_loss":
        err = a - f
        return float(np.mean(np.where(err >= 0, extra * err,
                                      (extra - 1.0) * err)))
    if metric in ("mase", "rmae"):
        f = np.asarray(cols[1], dtype=float)
        b = np.asarray(cols[2], dtype=float)
        denom = float(np.mean(np.abs(a - b)))
        if abs(denom) < _METRIC_EPS:
            return math.nan
        return float(np.mean(np.abs(a - f))) / denom
    if metric == "coverage":
        lo = np.asarray(cols[1], dtype=float)
        up = np.asarray(cols[2], dtype=float)
        return float(np.mean((a >= lo) & (a <= up)))
    if metric == "mqloss":
        per_q = []
        for i, q in enumerate(extra):
            err = a - np.asarray(cols[1 + i], dtype=float)
            per_q.append(float(np.mean(np.where(err >= 0, q * err,
                                                (q - 1.0) * err))))
        return float(np.mean(per_q))
    raise ValueError(metric)


def _make_metric_by_udtf(metric: str, n_value_args: int, has_extra: bool):
    """Build the UDTF of one grouped metric. Value-column arguments are
    comma-splittable (mqloss passes its forecast columns as 'c1,c2,...')."""

    class _MetricBy(_SeriesUDTF):
        @staticmethod
        def analyze(table: AnalyzeArgument, group_col: AnalyzeArgument,
                    *rest: AnalyzeArgument) -> AnalyzeResult:
            g = group_col.value
            vals = [a.value for a in rest]
            cols = [c for v in vals[:n_value_args] for c in str(v).split(",")]
            extra = None
            if metric == "quantile_loss":
                extra = float(vals[n_value_args])
            elif metric == "mqloss":
                extra = [float(x) for x in str(vals[n_value_args]).split(",")]
            return _result([_f(g, table.dataType[g].dataType),
                            _f("metric_value", _DBL)], (g, cols, extra), by=g)

        def emit(self, rows):
            g, cols, extra = self.p
            yield (rows[0][g], _metric_by_compute(
                metric, [[r[c] for r in rows] for c in cols], extra))

    return _MetricBy


_METRIC_BY_SPECS = {
    # name -> (metric key, n value-column args, takes trailing scalar arg)
    "ts_mae_by": ("mae", 2, False),
    "ts_mse_by": ("mse", 2, False),
    "ts_rmse_by": ("rmse", 2, False),
    "ts_mape_by": ("mape", 2, False),
    "ts_smape_by": ("smape", 2, False),
    "ts_r2_by": ("r2", 2, False),
    "ts_bias_by": ("bias", 2, False),
    "ts_mase_by": ("mase", 3, False),
    "ts_rmae_by": ("rmae", 3, False),
    "ts_coverage_by": ("coverage", 3, False),
    "ts_quantile_loss_by": ("quantile_loss", 2, True),
    "ts_mqloss_by": ("mqloss", 2, True),  # ('f1,f2,..' cols, 'q1,q2,..')
}


# ---------------------------------------------------------------------------
# Prep-family UDTFs: per-series transforms / filters callable from SQL.
# Each replays its Catalyst DataFrame operator in operators/prep.py (tests
# pin SQL == DataFrame).
# ---------------------------------------------------------------------------

_FILLED_OPS = {"fill_const", "fill_forward", "fill_backward", "fill_mean",
               "interpolate"}
# op -> parser of its one optional literal (None: the op takes none)
_PREP_ARG = {"diff": int, "drop_short": int, "drop_gappy": float,
             "fill_const": float}


def _make_prep_udtf(op: str):

    class _Prep(_SeriesUDTF):
        @staticmethod
        def analyze(table: AnalyzeArgument, group_col: AnalyzeArgument,
                    ds_col: AnalyzeArgument, y_col: AnalyzeArgument,
                    *rest: AnalyzeArgument) -> AnalyzeResult:
            schema = table.dataType
            g, d, y = group_col.value, ds_col.value, y_col.value
            fields = [_f(g, schema[g].dataType), _f(d, schema[d].dataType)]
            if op == "diff":
                fields.append(_f("diff_value", _DBL))
            else:
                fields.append(_f(y, schema[y].dataType))
                if op in _FILLED_OPS:
                    fields.append(_f("filled_value", _DBL))
            arg = (_PREP_ARG[op](rest[0].value)
                   if rest and op in _PREP_ARG else None)
            return _result(fields, (g, d, y, arg), by=g, order=d)

        def emit(self, rows):
            g_col, ds_col, y_col, arg = self.p
            g = rows[0][g_col]
            # SQL NULL (None) is "missing"; a real NaN double is a VALUE —
            # exactly the DataFrame ops' semantics (prep.py uses
            # isNull/isNotNull, and Spark avg/min/max/!= treat NaN as a
            # value), so the two surfaces cannot disagree on NaN-bearing
            # series. y holds NaN for BOTH cases; isnull disambiguates.
            y = _nan_y(rows, y_col)
            isnull = np.array([r[y_col] is None for r in rows])
            notnull = ~isnull
            n = len(rows)

            if op == "diff":
                lag = 1 if arg is None else arg
                for i, r in enumerate(rows):
                    if i < lag or isnull[i] or isnull[i - lag]:
                        v = None       # NULL arithmetic -> NULL
                    else:
                        v = float(y[i] - y[i - lag])  # NaN stays NaN
                    yield (g, r[ds_col], v)
                return
            if op.startswith("drop_") and op.endswith("_zeros") \
                    and op != "drop_zeros":
                # edge-trimming family: ds >= first / <= last nonzero value
                # ((y != 0) & notnull — NaN counts as nonzero, prep.py:258+)
                nz = [i for i in range(n) if notnull[i] and y[i] != 0]
                if not nz:
                    return
                lo = nz[0] if op != "drop_trailing_zeros" else 0
                hi = nz[-1] if op != "drop_leading_zeros" else n - 1
                for r in rows[lo:hi + 1]:
                    yield (g, r[ds_col], r[y_col])
                return
            if op.startswith("drop_"):
                if op == "drop_constant":
                    vv = y[notnull]
                    nn = vv[~np.isnan(vv)]
                    # keep iff >1 distinct non-null value under Spark
                    # equality (NaN == NaN, NaN != any number)
                    keep = (len(vv) == 0
                            or (len(nn) > 0 and len(nn) < len(vv))
                            or (len(nn) > 1 and bool((nn != nn[0]).any())))
                elif op == "drop_short":
                    keep = len(rows) >= arg
                elif op == "drop_gappy":
                    keep = float(isnull.mean()) <= arg
                else:  # drop_zeros — NaN != 0 is true in Spark, NaN counts
                    keep = bool(((y != 0) & notnull).any())
                if keep:
                    for r in rows:
                        yield (g, r[ds_col], r[y_col])
                return
            # fill family: passthrough + filled_value. fills[i] is None only
            # where the output is SQL NULL (unfillable null position).
            fills: list = [None] * n
            if op == "fill_const":
                for i in range(n):
                    fills[i] = y[i] if notnull[i] else arg
            elif op == "fill_forward":
                last = None
                for i in range(n):
                    if notnull[i]:
                        last = y[i]
                        fills[i] = y[i]
                    else:
                        fills[i] = last
            elif op == "fill_backward":
                nxt = None
                for i in range(n - 1, -1, -1):
                    if notnull[i]:
                        nxt = y[i]
                        fills[i] = y[i]
                    else:
                        fills[i] = nxt
            elif op == "fill_mean":
                m = float(np.mean(y[notnull])) if notnull.any() else None
                for i in range(n):
                    fills[i] = y[i] if notnull[i] else m
            else:  # interpolate — anchors are non-NULL values (NaN anchors
                # propagate NaN through the linear arithmetic, like SQL)
                if notnull.any():
                    idx = np.arange(n, dtype=float)
                    interp = np.interp(idx[isnull], idx[notnull], y[notnull])
                    it = iter(interp)
                    for i in range(n):
                        fills[i] = y[i] if notnull[i] else float(next(it))
            for i, r in enumerate(rows):
                fv = fills[i]
                yield (g, r[ds_col], r[y_col],
                       None if fv is None else float(fv))

    return _Prep


_PREP_UDTF_NAMES = {
    "ts_fill_nulls_const_by": "fill_const",
    "ts_fill_nulls_forward_by": "fill_forward",
    "ts_fill_nulls_backward_by": "fill_backward",
    "ts_fill_nulls_mean_by": "fill_mean",
    "ts_interpolate_by": "interpolate",
    "ts_diff_by": "diff",
    "ts_drop_constant_by": "drop_constant",
    "ts_drop_short_by": "drop_short",
    "ts_drop_gappy_by": "drop_gappy",
    "ts_drop_zeros_by": "drop_zeros",
    "ts_drop_leading_zeros_by": "drop_leading_zeros",
    "ts_drop_trailing_zeros_by": "drop_trailing_zeros",
    "ts_drop_edge_zeros_by": "drop_edge_zeros",
}


class FillGapsUDTF(_SeriesUDTF):
    """``ts_fill_gaps_by(TABLE(t), group_col, ds_col, y_col, frequency)`` —
    SQL form of the gap-filling operator (ref macro ``ts_macros.cpp:176+``).
    Emits every grid timestamp between each series' min and max ds; missing
    points carry NULL y."""

    @staticmethod
    def analyze(table, group_col, ds_col, y_col, frequency):
        schema = table.dataType
        g, d, y = group_col.value, ds_col.value, y_col.value
        return _result([_f(g, schema[g].dataType), _f(d, schema[d].dataType),
                        _f(y, schema[y].dataType)],
                       (g, d, y, parse_frequency(frequency.value)),
                       by=g, order=d)

    def emit(self, rows):
        import datetime as _dt
        group_col, ds_col, y_col, freq = self.p
        g = rows[0][group_col]
        have = {r[ds_col]: r[y_col] for r in rows}
        first, last = rows[0][ds_col], rows[-1][ds_col]
        if isinstance(first, int):
            step = freq.n if freq.kind == "int" else 1
            cur = first
            while cur <= last:
                yield (g, cur, have.get(cur))
                cur += step
            return
        if freq.kind == "month":
            from ..operators.forecast import _add_months_clamped
            import pandas as _pd
            cur = _pd.Timestamp(first)
            k = 0
            while cur.to_pydatetime() <= last:
                py = cur.to_pydatetime()
                yield (g, py, have.get(py))
                k += 1
                cur = _add_months_clamped(_pd.Timestamp(first), freq.n * k)
            return
        step = _dt.timedelta(seconds=freq.n)
        cur = first
        while cur <= last:
            yield (g, cur, have.get(cur))
            cur += step


def _trunc_second(v):
    """date_trunc('second', ts) mirror for a Python datetime (NULL-safe)."""
    import datetime as _dt
    if isinstance(v, _dt.datetime):
        return v.replace(microsecond=0)
    return v


def _py_add_months(dt, k: int):
    """F.add_months mirror: month-end-clamped calendar month addition."""
    import calendar
    yi, m0 = divmod(dt.year * 12 + dt.month - 1 + k, 12)
    day = min(dt.day, calendar.monthrange(yi, m0 + 1)[1])
    return dt.replace(year=yi, month=m0 + 1, day=day)


class FillForwardUDTF(_SeriesUDTF):
    """``ts_fill_forward_by(TABLE(t), 'id', 'ds', 'y', '2024-12-31', '1d')``
    — extend each series forward to target with NULL values (mirror of
    prep.ts_fill_forward_by's unit-start calendar arithmetic)."""

    @staticmethod
    def analyze(table, group_col, ds_col, y_col, target_date, frequency):
        s = table.dataType
        g, d, y = group_col.value, ds_col.value, y_col.value
        target = (int(target_date.value)
                  if isinstance(s[d].dataType, T.IntegralType)
                  else _parse_ts(target_date.value))
        return _result([_f(g, s[g].dataType), _f(d, s[d].dataType),
                        _f(y, s[y].dataType)],
                       (g, d, y, target, parse_frequency(frequency.value)),
                       by=g, order=d)

    def emit(self, rows):
        import datetime as _dt
        group_col, ds_col, y_col, target, freq = self.p
        g = rows[0][group_col]
        for r in rows:
            yield (g, r[ds_col], r[y_col])
        last = rows[-1][ds_col]
        if last is None:
            return
        if isinstance(last, int):
            step = freq.n if freq.kind == "int" else 1
            cur = last + step
            while cur <= target:
                yield (g, cur, None)
                cur += step
            return
        if freq.kind == "month":
            n = freq.n
            # unit start mirrors prep._unit_start (date_trunc year/quarter/month)
            if n % 12 == 0:
                start = last.replace(month=1, day=1, hour=0, minute=0,
                                     second=0, microsecond=0)
            elif n % 3 == 0:
                qm = (last.month - 1) // 3 * 3 + 1
                start = last.replace(month=qm, day=1, hour=0, minute=0,
                                     second=0, microsecond=0)
            else:
                start = last.replace(day=1, hour=0, minute=0, second=0,
                                     microsecond=0)
            s = 1
            while True:
                e = _py_add_months(start, s * n)
                if e > target:
                    return
                if e > last:
                    yield (g, e, None)
                s += 1
        else:
            step = _dt.timedelta(seconds=freq.n)
            cur = last + step
            while cur <= target:
                yield (g, cur, None)
                cur += step


class MarkUnknownUDTF(_SeriesUDTF):
    """``ts_mark_unknown_by(TABLE(t), 'id', 'ds', '2024-06-30')`` — all
    columns + is_unknown + per-group last_known_date (mirror of
    prep.ts_mark_unknown_by)."""

    @staticmethod
    def analyze(table, group_col, ds_col, cutoff_date):
        return _result(list(table.dataType.fields)
                       + [_f("is_unknown", T.BooleanType()),
                          _f("last_known_date", T.TimestampType())],
                       (ds_col.value, _parse_ts(cutoff_date.value)),
                       by=group_col.value)

    def emit(self, rows):
        ds_col, cutoff = self.p
        dts = [_trunc_second(r[ds_col]) for r in rows]
        known = [d for d in dts if d is not None and d <= cutoff]
        last_known = max(known) if known else None
        for r, d in zip(rows, dts):
            unk = None if d is None else d > cutoff
            yield (*tuple(r), unk, last_known)


_STRATEGIES = ("null", "default", "last_value")


def _strategy(rest, default_fill=0.0) -> tuple[str, float]:
    """The ``[strategy, fill_value]`` literals of the unknown-value fills."""
    strategy = str(rest[0].value) if rest else "last_value"
    if strategy not in _STRATEGIES:
        raise ValueError(f"unknown strategy {strategy!r}")
    return strategy, float(rest[1].value) if len(rest) > 1 else default_fill


class FillUnknownUDTF(_SeriesUDTF):
    """``ts_fill_unknown_by(TABLE(t), 'id', 'ds', 'y', '2024-06-30'[,
    strategy, fill_value])`` (mirror of prep.ts_fill_unknown_by)."""

    @staticmethod
    def analyze(table, group_col, ds_col, y_col, cutoff_date, *rest):
        g = group_col.value
        return _result([_f(g, table.dataType[g].dataType),
                        _f(ds_col.value, T.TimestampType()),
                        _f(y_col.value, _DBL)],
                       (g, ds_col.value, y_col.value,
                        _parse_ts(cutoff_date.value), *_strategy(rest)),
                       by=g, order=ds_col.value)

    def emit(self, rows):
        group_col, ds_col, y_col, cutoff, strategy, fill_value = self.p
        g = rows[0][group_col]
        last = None
        for r in rows:
            d = _trunc_second(r[ds_col])
            yv = None if r[y_col] is None else float(r[y_col])
            if d is not None and d <= cutoff:
                if yv is not None:
                    last = yv
                yield (g, d, yv)
            elif strategy == "null":
                yield (g, d, None)
            elif strategy == "default":
                yield (g, d, fill_value)
            else:
                yield (g, d, last)


def _scale_stats(vals: list, method: str):
    """(loc, scale) over a group's non-null values — the Python replay of
    ``prep.ts_scale_by``'s sorted-array arithmetic (same fold order)."""
    v = sorted(vals)
    n = len(v)
    if n == 0:
        return None, None
    if method == "zscore":
        s = 0.0
        for x in v:
            s = s + x
        loc = s / float(n)
        if n < 2:
            return loc, None
        s2 = 0.0
        for x in v:
            d = x - loc
            s2 = s2 + d * d
        return loc, math.sqrt(s2 / float(n - 1))
    if method == "minmax":
        return v[0], v[-1] - v[0]
    # robust: type-7 median / IQR
    return _q7_list(v, 0.5), _q7_list(v, 0.75) - _q7_list(v, 0.25)


def _q7_list(v: list, p: float) -> float:
    n = len(v)
    if n == 1:
        return float(v[0])
    ix = float(p) * float(n - 1)
    lo = math.floor(ix)
    frac = ix - float(lo)
    hi = min(lo + 1, n - 1)
    return float(v[int(lo)]) * (1.0 - frac) + float(v[int(hi)]) * frac


class TsScaleUDTF(_SeriesUDTF):
    """``ts_scale_by(TABLE(t), group_col, ds_col, y_col, method)`` — SQL
    form of ``operators/prep.py::ts_scale_by`` (zscore | minmax | robust),
    value-identical to the DataFrame op (same sorted-fold arithmetic).
    Grouped partitioning; the DataFrame op's broadcast-stats-join plan is
    the scale path."""

    @staticmethod
    def analyze(table: AnalyzeArgument, group_col: AnalyzeArgument,
                ds_col: AnalyzeArgument, y_col: AnalyzeArgument,
                method: AnalyzeArgument) -> AnalyzeResult:
        schema = table.dataType
        g, d, y = group_col.value, ds_col.value, y_col.value
        if method.value not in ("zscore", "minmax", "robust"):
            raise ValueError(f"unknown scaling method: {method.value!r}")
        return _result([_f(g, schema[g].dataType), _f(d, schema[d].dataType),
                        _f(y, schema[y].dataType), _f("scale_loc", _DBL),
                        _f("scale_scale", _DBL), _f("y_scaled", _DBL)],
                       (g, d, y, method.value), by=g)

    def emit(self, rows):
        group_col, ds_col, y_col, method = self.p
        loc, scale = _scale_stats(
            [float(r[y_col]) for r in rows if r[y_col] is not None], method)
        for r in rows:
            y = r[y_col]
            scaled = ((float(y) - loc) / scale
                      if y is not None and scale is not None and scale > 0
                      else None)
            yield (r[group_col], r[ds_col], y, loc, scale, scaled)


class TsWinsorizeUDTF(_SeriesUDTF):
    """``ts_winsorize_by(TABLE(t), group_col, ds_col, y_col, lower,
    upper)`` — SQL form of ``operators/prep.py::ts_winsorize_by``
    (per-group type-7 quantile clipping), value-identical to the
    DataFrame op."""

    @staticmethod
    def analyze(table: AnalyzeArgument, group_col: AnalyzeArgument,
                ds_col: AnalyzeArgument, y_col: AnalyzeArgument,
                lower: AnalyzeArgument, upper: AnalyzeArgument) -> AnalyzeResult:
        schema = table.dataType
        g, d, y = group_col.value, ds_col.value, y_col.value
        lo, hi = float(lower.value), float(upper.value)
        if not (0.0 <= lo < hi <= 1.0):
            raise ValueError("need 0 <= lower < upper <= 1")
        return _result([_f(g, schema[g].dataType), _f(d, schema[d].dataType),
                        _f(y, schema[y].dataType), _f("clip_lo", _DBL),
                        _f("clip_hi", _DBL), _f("y_winsorized", _DBL),
                        _f("was_clipped", T.BooleanType())],
                       (g, d, y, lo, hi), by=g)

    def emit(self, rows):
        group_col, ds_col, y_col, lower, upper = self.p
        v = sorted(float(r[y_col]) for r in rows if r[y_col] is not None)
        lo = _q7_list(v, lower) if v else None
        hi = _q7_list(v, upper) if v else None
        for r in rows:
            y = r[y_col]
            if y is None or lo is None:
                yield (r[group_col], r[ds_col], y, lo, hi, None, False)
            else:
                fy = float(y)
                wz = lo if fy < lo else (hi if fy > hi else fy)
                yield (r[group_col], r[ds_col], y, lo, hi, wz,
                       fy < lo or fy > hi)


# ---------------------------------------------------------------------------
# Hierarchy and conformal UDTFs; each replays its Catalyst DataFrame
# operator (operators/hierarchy.py, operators/conformal.py).
# ---------------------------------------------------------------------------

class AggregateHierarchyUDTF(_SeriesUDTF):
    """``ts_aggregate_hierarchy(TABLE(t), 'id1,id2', 'ds', 'y', '|',
    'AGGREGATED')`` — all prefix levels per date, values summed (mirror of
    hierarchy.ts_aggregate_hierarchy; partitioned by date so each task
    aggregates one date's rows)."""

    @staticmethod
    def analyze(table, id_cols, ds_col, y_col, sep, keyword):
        return _result([_f("unique_id", T.StringType()),
                        _f(ds_col.value,
                           table.dataType[ds_col.value].dataType),
                        _f(y_col.value, _DBL)],
                       (str(id_cols.value).split(","), ds_col.value,
                        y_col.value, str(sep.value), str(keyword.value)),
                       by=ds_col.value)

    def emit(self, rows):
        cols, ds_col, y_col, sep, kw = self.p
        ds = rows[0][ds_col]
        sums: dict = {}
        for r in rows:
            yv = r[y_col]
            yv = float(yv) if yv is not None else None
            parts = [r[c] for c in cols]
            for k in range(len(cols), -1, -1):
                lead = [_fmt_key(v) for v in parts[:k] if v is not None]
                key = sep.join(lead + [kw] * (len(cols) - k))
                if key in sums:
                    if yv is not None:
                        sums[key] = (sums[key] or 0.0) + yv
                else:
                    sums[key] = yv
        for key, v in sums.items():
            yield (key, ds, v)


def _corrected_quantile(arr, alpha: float) -> float:
    """Mirror of conformal.ts_conformal_quantile + _interp_quantile
    (finite-sample corrected quantile of a SORTED array)."""
    n = len(arr)
    if n == 0:
        return float("nan")
    if n == 1:
        return float(arr[0])
    level = min(max(math.ceil((n + 1) * (1.0 - alpha)) / n, 0.0), 1.0)
    idx = level * (n - 1)
    lo = int(math.floor(idx))
    frac = idx - lo
    hi = min(lo + 1, n - 1)
    return float(arr[lo] * (1.0 - frac) + arr[hi] * frac)


def _grouped_cols(table, group_col, cols, fields, parsed=()):
    """Analysis of a per-group UDTF over value columns ``cols``: the group
    column then ``fields``; ``self.p`` is ``(group, *cols, *parsed)``."""
    g = group_col.value
    return _result([_f(g, table.dataType[g].dataType)] + fields,
                   (g, *[c.value for c in cols], *parsed), by=g)


class ConformalByUDTF(_SeriesUDTF):
    """``ts_conformal_by(TABLE(t), 'id', 'actual', 'forecast', 'point',
    '0.1')`` (mirror of conformal.ts_conformal_by, symmetric method)."""

    @staticmethod
    def analyze(table, group_col, actual, forecast, point, alpha):
        arr = T.ArrayType(_DBL)
        return _grouped_cols(
            table, group_col, (actual, forecast, point),
            [_f("point", arr), _f("lower", arr), _f("upper", arr),
             _f("coverage", _DBL), _f("conformity_score", _DBL),
             _f("method", T.StringType())], (float(alpha.value),))

    def emit(self, rows):
        group_col, ac, fc, pt, alpha = self.p
        res = np.sort(np.abs(np.array(
            [float(r[ac]) - float(r[fc]) for r in rows
             if r[ac] is not None and r[fc] is not None])))
        point = sorted(float(r[pt]) for r in rows if r[pt] is not None)
        score = _corrected_quantile(res, alpha)
        yield (rows[0][group_col], point, [p - score for p in point],
               [p + score for p in point], 1.0 - alpha, score,
               "split_conformal")


class CoverageByUDTF(_SeriesUDTF):
    """``ts_conformal_coverage_by(TABLE(t), 'id', 'actual', 'lower',
    'upper')``."""

    @staticmethod
    def analyze(table, group_col, actual, lower, upper):
        return _grouped_cols(table, group_col, (actual, lower, upper),
                             [_f("coverage", _DBL)])

    def emit(self, rows):
        group_col, ac, lo, up = self.p
        hits = [1.0 if (r[ac] is not None and r[lo] is not None
                        and r[up] is not None
                        and r[lo] <= r[ac] <= r[up]) else 0.0
                for r in rows]
        yield (rows[0][group_col], sum(hits) / len(hits))


class IntervalWidthUDTF(_SeriesUDTF):
    """``ts_interval_width_by(TABLE(t), 'id', 'lower', 'upper')``."""

    @staticmethod
    def analyze(table, group_col, lower, upper):
        return _grouped_cols(table, group_col, (lower, upper),
                             [_f("mean_width", _DBL),
                              _f("n_intervals", T.LongType())])

    def emit(self, rows):
        group_col, lo, up = self.p
        ws = [float(r[up]) - float(r[lo]) for r in rows
              if r[lo] is not None and r[up] is not None]
        if ws:
            yield (rows[0][group_col], sum(ws) / len(ws), len(ws))


class ConformalEvaluateUDTF(_SeriesUDTF):
    """``ts_conformal_evaluate(TABLE(t), 'id', 'actual', 'lower',
    'upper', '0.1')`` — coverage, mean width, Winkler."""

    @staticmethod
    def analyze(table, group_col, actual, lower, upper, alpha):
        return _grouped_cols(
            table, group_col, (actual, lower, upper),
            [_f("coverage", _DBL), _f("mean_width", _DBL),
             _f("winkler_score", _DBL)], (float(alpha.value),))

    def emit(self, rows):
        group_col, ac, lo, up, alpha = self.p
        cov, wid, wink = [], [], []
        for r in rows:
            a, l_, u = r[ac], r[lo], r[up]
            if a is None or l_ is None or u is None:
                continue
            w = u - l_
            cov.append(1.0 if l_ <= a <= u else 0.0)
            wid.append(w)
            pen = (2.0 / alpha) * (l_ - a) if a < l_ else \
                  ((2.0 / alpha) * (a - u) if a > u else 0.0)
            wink.append(w + pen)
        if cov:
            n = len(cov)
            yield (rows[0][group_col], sum(cov) / n, sum(wid) / n,
                   sum(wink) / n)


class ConformalApplyUDTF(_SeriesUDTF):
    """``ts_conformal_apply_by(TABLE(fc), 'id', 'yhat', '3.5')`` (mirror of
    conformal.ts_conformal_apply_by)."""

    @staticmethod
    def analyze(table, group_col, forecast_col, conformity_score):
        arr = T.ArrayType(_DBL)
        return _grouped_cols(table, group_col, (forecast_col,),
                             [_f("lower", arr), _f("upper", arr)],
                             (float(conformity_score.value),))

    def emit(self, rows):
        group_col, fc, s = self.p
        f = sorted(float(r[fc]) for r in rows if r[fc] is not None)
        yield (rows[0][group_col], [v - s for v in f], [v + s for v in f])


# ---------------------------------------------------------------------------
# CV UDTFs: fold layouts, hydration and the OLS leg; each replays its
# DataFrame operator in operators/cv.py / operators/regression.py.
#
# Two-table macros (ts_cv_hydrate_by, ts_prepare_regression_input_by,
# ts_hydrate_features_by) take the pre-join of their two tables, since Spark
# UDTFs accept ONE TABLE argument.
# ---------------------------------------------------------------------------

def _fold_fields(table, g, d, y):
    s = table.dataType
    return [_f(g, s[g].dataType), _f(d, s[d].dataType), _f(y, s[y].dataType),
            _f("fold_id", T.LongType()), _f("split", T.StringType())]


class CvFoldsUDTF(_SeriesUDTF):
    """``ts_cv_folds_by(TABLE(t), group_col, ds_col, y_col, n_folds,
    horizon)`` — SQL form of the expanding-window fold generator (ref macro
    ``ts_macros.cpp:1364-1408``); same position-based boundaries as
    ``operators.cv._fold_bounds``."""

    @staticmethod
    def analyze(table, group_col, ds_col, y_col, n_folds, horizon):
        g, d, y = group_col.value, ds_col.value, y_col.value
        return _result(_fold_fields(table, g, d, y),
                       (g, d, y, int(n_folds.value), int(horizon.value)),
                       by=g, order=d)

    def emit(self, rows):
        group_col, ds_col, y_col, n_folds, h = self.p
        n = len(rows)
        init = max(n - h * n_folds, 1)
        for f in range(n_folds):
            train_end = init - 1 + f * h
            test_end = train_end + h
            if test_end >= n:
                continue
            for pos in range(0, train_end + 1):
                r = rows[pos]
                yield (r[group_col], r[ds_col], r[y_col], f, "train")
            for pos in range(train_end + 1, test_end + 1):
                r = rows[pos]
                yield (r[group_col], r[ds_col], r[y_col], f, "test")


class CvSplitIndexUDTF(_SeriesUDTF):
    """``ts_cv_split_index_by(TABLE(t), 'id', 'ds', 'y', '500,550',
    '7')`` — explicit position-index folds (mirror of
    cv.ts_cv_split_index_by)."""

    @staticmethod
    def analyze(table, group_col, ds_col, y_col, cutoffs, horizon):
        g, d, y = group_col.value, ds_col.value, y_col.value
        return _result(_fold_fields(table, g, d, y),
                       (g, d, y, [int(c) for c in str(cutoffs.value).split(",")],
                        int(horizon.value)), by=g, order=d)

    def emit(self, rows):
        group_col, ds_col, y_col, cutoffs, h = self.p
        g = rows[0][group_col]
        for fold_id, te in enumerate(cutoffs):
            for pos, r in enumerate(rows):
                if pos <= te:
                    yield (g, r[ds_col], r[y_col], fold_id, "train")
                elif pos <= te + h:
                    yield (g, r[ds_col], r[y_col], fold_id, "test")


def _fold_bounds(train_end, h: int, gap: int, freq):
    """(test_start, test_end) for one cutoff — mirror of
    cv.ts_cv_split_folds_by's calendar arithmetic."""
    import datetime as _dt
    if freq.kind == "month":
        return (_py_add_months(train_end, (gap + 1) * freq.n),
                _py_add_months(train_end, (gap + h) * freq.n))
    sec = freq.n if freq.kind == "fixed" else 86400
    return (train_end + _dt.timedelta(seconds=(gap + 1) * sec),
            train_end + _dt.timedelta(seconds=(gap + h) * sec))


def _cutoffs(v) -> list:
    return sorted(_parse_ts(c) for c in str(v).split(",") if c.strip())


class CvSplitUDTF(_SeriesUDTF):
    """``ts_cv_split_by(TABLE(t), 'id', 'ds', 'y', '2024-01-31,...', '7'[,
    frequency, gap])`` — rows tagged train/test by explicit cutoff folds
    (mirror of cv.ts_cv_split_by)."""

    @staticmethod
    def analyze(table, group_col, ds_col, y_col, cutoffs, horizon, *rest):
        g, d, y = group_col.value, ds_col.value, y_col.value
        freq = parse_frequency(str(rest[0].value) if rest else "1d")
        gap = int(rest[1].value) if len(rest) > 1 else 0
        return _result(_fold_fields(table, g, d, y),
                       (g, d, y, _cutoffs(cutoffs.value), int(horizon.value),
                        freq, gap), by=g, order=d)

    def emit(self, rows):
        group_col, ds_col, y_col, cuts, h, freq, gap = self.p
        g = rows[0][group_col]
        for fold_id, te in enumerate(cuts):
            ts_, te_ = _fold_bounds(te, h, gap, freq)
            for r in rows:
                d = r[ds_col]
                if d is None:
                    continue
                if d <= te:
                    yield (g, r[ds_col], r[y_col], fold_id, "train")
                elif ts_ <= d <= te_:
                    yield (g, r[ds_col], r[y_col], fold_id, "test")


class CvHydrateUDTF(_SeriesUDTF):
    """``ts_cv_hydrate_by(TABLE(folds ⋈ features), 'id', 'ds', 'x1,x2'[,
    strategy, fill_value])`` — mask 'unknown' features in test rows (mirror
    of cv.ts_cv_hydrate_by)."""

    @staticmethod
    def analyze(table, group_col, ds_col, unknown_csv, *rest):
        cols = [f.name for f in table.dataType.fields]
        unknown = [c for c in str(unknown_csv.value).split(",") if c.strip()]
        missing = [c for c in unknown if c not in cols]
        if missing:
            raise ValueError(f"unknown_feature {missing[0]!r} not in "
                             "source columns")
        return _result(list(table.dataType.fields),
                       (cols, unknown, *_strategy(rest)),
                       by=group_col.value, order=ds_col.value)

    def emit(self, rows):
        cols, unknown, strategy, fill_value = self.p
        folds: dict = {}
        for r in rows:
            folds.setdefault(r["fold_id"], []).append(r)
        for fold in sorted(folds):
            last: dict = {c: None for c in unknown}
            for r in folds[fold]:
                vals = r.asDict()
                if vals.get("split") == "train":
                    for c in unknown:
                        if vals[c] is not None:
                            last[c] = vals[c]
                else:
                    for c in unknown:
                        vals[c] = {"null": None, "default": fill_value,
                                   "last_value": last[c]}[strategy]
                yield tuple(vals[c] for c in cols)


class HydrateFeaturesUDTF(_SeriesUDTF):
    """``ts_hydrate_features_by(TABLE(cv ⋈ features pre-join), 'id', 'ds',
    'y')`` — leakage-safe feature hydration (mirror of
    cv.ts_hydrate_features_by). Partitioned by fold so ``_train_cutoff``
    (the fold's max train date) is computable per partition."""

    @staticmethod
    def analyze(table, group_col, ds_col, target_col):
        g, d, y = group_col.value, ds_col.value, target_col.value
        fields = {f.name: f.dataType for f in table.dataType.fields}
        feats = [n for n in fields if n not in (g, d, y, "fold_id", "split")]
        return _result(
            [_f("fold_id", fields["fold_id"]), _f("split", T.StringType()),
             _f("group_col", fields[g]), _f("date_col", fields[d]),
             _f("target_col", fields[y]), _f("_is_test", T.BooleanType()),
             _f("_train_cutoff", fields[d])]
            + [_f(n, fields[n]) for n in feats],
            (g, d, y, feats), by="fold_id")

    def emit(self, rows):
        g, d, y, feats = self.p
        cutoff = max((r[d] for r in rows if r["split"] == "train"),
                     default=None)
        for r in rows:
            vals = r.asDict()
            yield tuple([vals.get("fold_id"), vals.get("split"),
                         vals.get(g), vals.get(d), vals.get(y),
                         vals.get("split") == "test", cutoff]
                        + [vals.get(n) for n in feats])


def _det_py(m: list[list[float]]) -> float:
    """Cofactor expansion matching regression._det_sql's evaluation order."""
    n = len(m)
    if n == 1:
        return m[0][0]
    acc = 0.0
    for j in range(n):
        minor = [[m[r][c] for c in range(n) if c != j] for r in range(1, n)]
        term = m[0][j] * _det_py(minor)
        acc = acc + term if j % 2 == 0 else acc - term
    return acc


class OlsFitPredictUDTF(_SeriesUDTF):
    """``ols_fit_predict_by(TABLE(reg_input), 'fold_id',
    'group_col,date_col', 'masked_target', 'x1,x2')`` — per-group OLS
    fit-predict (mirror of regression.ols_fit_predict_by; the regression
    leg of the reference's backtest examples, shipped there by the
    companion anofox_statistics extension)."""

    @staticmethod
    def analyze(table, group_col, order_csv, target_col, x_csv, *rest):
        g = group_col.value
        fields = {f.name: f.dataType for f in table.dataType.fields}
        ords = [c for c in order_csv.value.split(",") if c]
        return _result(
            [_f(g, fields[g])] + [_f(c, fields[c]) for c in ords]
            + [_f(target_col.value, _DBL), _f("yhat", _DBL)],
            (g, str(order_csv.value).split(","), target_col.value,
             [c for c in str(x_csv.value).split(",") if c],
             float(rest[0].value) if rest else 0.0), by=g)

    def emit(self, rows):
        g, ords, y, xs, l2 = self.p
        k = len(xs)
        rows = sorted(rows, key=lambda r: tuple(r[c] for c in ords))
        train = [r for r in rows
                 if r[y] is not None
                 and all(r[c] is not None for c in xs)]
        # sequential normal-equation sums (same order as the fold exprs)
        dim = k + 1

        def feat(r):
            return [1.0] + [float(r[c]) for c in xs]

        a = [[0.0] * dim for _ in range(dim)]
        b = [0.0] * dim
        for r in train:
            f = feat(r)
            for i in range(dim):
                for j in range(i, dim):
                    a[i][j] += f[i] * f[j]
                b[i] += f[i] * float(r[y])
        for i in range(dim):
            for j in range(i):
                a[i][j] = a[j][i]
        for i in range(1, dim):
            a[i][i] += l2  # ridge: intercept unpenalized
        det = _det_py(a)
        coefs = None
        if len(train) >= dim and det != 0.0:
            coefs = []
            for i in range(dim):
                ai = [[(b[r] if c == i else a[r][c]) for c in range(dim)]
                      for r in range(dim)]
                coefs.append(_det_py(ai) / det)
        for r in rows:
            if coefs is None:
                yh = None
            else:
                f = feat(r) if all(r[c] is not None for c in xs) else None
                yh = (None if f is None else
                      sum(cf * fv for cf, fv in zip(coefs, f)))
            tv = r[y]
            yield tuple([r[g]] + [r[c] for c in ords]
                        + [None if tv is None else float(tv), yh])


# ---------------------------------------------------------------------------
# Streaming (unbuffered) UDTFs: each folds its rows as they arrive and
# emits in ``terminate``.
# ---------------------------------------------------------------------------


class CombineKeysUDTF:
    """``ts_combine_keys(TABLE(t), 'id1,id2', 'ds', 'y', '|')`` — concat id
    columns into unique_id with concat_ws NULL-skipping semantics (mirror of
    operators/hierarchy.ts_combine_keys)."""

    @staticmethod
    def analyze(table, id_cols, ds_col, y_col, sep):
        return AnalyzeResult(schema=T.StructType([
            _f("unique_id", T.StringType()),
            _f(ds_col.value, table.dataType[ds_col.value].dataType),
            _f(y_col.value, table.dataType[y_col.value].dataType)]))

    def eval(self, row, id_cols, ds_col, y_col, sep):
        parts = [row[c] for c in str(id_cols).split(",")]
        uid = str(sep).join(_fmt_key(v) for v in parts if v is not None)
        yield (uid, row[ds_col], row[y_col])


def _fmt_key(v) -> str:
    # Spark's CAST(x AS STRING) for the common key types
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


class SplitKeysUDTF:
    """``ts_split_keys(TABLE(t), 'unique_id', 'ds', 'y', '|', '2')`` —
    inverse of combine (mirror of hierarchy.ts_split_keys; n_parts must be
    given: UDTF schemas are fixed at analyze time)."""

    @staticmethod
    def analyze(table, uid_col, ds_col, y_col, sep, n_parts):
        n = int(n_parts.value)
        fields = [_f(f"id_part_{i + 1}", T.StringType()) for i in range(n)]
        fields += [_f(ds_col.value, table.dataType[ds_col.value].dataType),
                   _f(y_col.value, table.dataType[y_col.value].dataType)]
        return AnalyzeResult(schema=T.StructType(fields))

    def eval(self, row, uid_col, ds_col, y_col, sep, n_parts):
        n = int(n_parts)
        uid = row[uid_col]
        parts = ([] if uid is None else str(uid).split(str(sep)))[:n]
        parts += [None] * (n - len(parts))
        yield (*parts, row[ds_col], row[y_col])


class ValidateSeparatorUDTF:
    """``ts_validate_separator(TABLE(t), 'id1,id2', '|')`` — single row
    (mirror of hierarchy.ts_validate_separator)."""

    @staticmethod
    def analyze(table, id_cols, sep):
        return AnalyzeResult(schema=T.StructType([
            _f("separator", T.StringType()),
            _f("is_valid", T.BooleanType()),
            _f("n_conflicts", T.IntegerType()),
            _f("conflicting_values", T.ArrayType(T.StringType())),
            _f("message", T.StringType())]), withSinglePartition=True)

    def __init__(self):
        self._n = 0
        self._vals: list = []

    def eval(self, row, id_cols, sep):
        self._args = (str(id_cols).split(","), str(sep))
        cols, s = self._args
        if any(row[c] is not None and s in _fmt_key(row[c]) for c in cols):
            self._n += 1
            if len(self._vals) < 100:
                self._vals.append("=".join(
                    _fmt_key(row[c]) for c in cols if row[c] is not None))

    def terminate(self):
        s = self._args[1] if hasattr(self, "_args") else ""
        ok = self._n == 0
        msg = "Separator is safe to use" if ok else \
            (f"Separator found in {self._n} value(s); choose a different "
             "separator")
        yield (s, ok, self._n, self._vals, msg)



class QualityReportUDTF:
    """``ts_quality_report(TABLE(stats), '10')`` — aggregate over a
    ts_stats output (mirror of stats.ts_quality_report)."""

    @staticmethod
    def analyze(table, min_length):
        return _result(
            [_f(n, T.LongType()) for n in
             ("n_passed", "n_nan_issues", "n_missing_issues", "n_constant",
              "n_total")], _int(min_length.value))

    def __init__(self, analyze_result: _Analysis):
        self._min_length = analyze_result.parsed
        self._c = [0, 0, 0, 0, 0]

    def eval(self, row, *_):
        ml = self._min_length
        nan_, nulls = row["n_nan"] or 0, row["n_nulls"] or 0
        const = bool(row["is_constant"])
        if (row["length"] or 0) >= ml and nulls == 0 and nan_ == 0 \
                and not const:
            self._c[0] += 1
        if nan_ > 0:
            self._c[1] += 1
        if nulls > 0:
            self._c[2] += 1
        if const:
            self._c[3] += 1
        self._c[4] += 1

    def terminate(self):
        yield tuple(self._c)


class StatsSummaryUDTF:
    """``ts_stats_summary(TABLE(stats))`` (mirror of
    stats.ts_stats_summary)."""

    @staticmethod
    def analyze(table):
        return AnalyzeResult(schema=T.StructType([
            _f("n_series", T.LongType()), _f("avg_length", T.DoubleType()),
            _f("min_length", T.LongType()), _f("max_length", T.LongType()),
            _f("total_nulls", T.LongType()), _f("total_nans", T.LongType())]),
            withSinglePartition=True)

    def __init__(self):
        self._lengths: list = []
        self._nulls = 0
        self._nans = 0

    def eval(self, row):
        if row["length"] is not None:
            self._lengths.append(int(row["length"]))
        self._nulls += row["n_nulls"] or 0
        self._nans += row["n_nan"] or 0

    def terminate(self):
        ls = self._lengths
        yield (len(ls), (sum(ls) / len(ls)) if ls else None,
               min(ls) if ls else None, max(ls) if ls else None,
               self._nulls, self._nans)


class DataQualitySummaryUDTF:
    """``ts_data_quality_summary(TABLE(t), 'id', 'ds', 'y'[, n_short])``
    (mirror of stats.ts_data_quality_summary)."""

    @staticmethod
    def analyze(table, group_col, ds_col, y_col, *rest):
        return AnalyzeResult(schema=T.StructType([
            _f("n_total", T.LongType()), _f("n_good", T.LongType()),
            _f("n_fair", T.LongType()), _f("n_poor", T.LongType()),
            _f("avg_score", T.DoubleType())]), withSinglePartition=True)

    def __init__(self):
        self._per_group: dict = {}

    def eval(self, row, group_col, ds_col, y_col, *rest):
        self._args = (ds_col, y_col)
        self._per_group.setdefault(row[group_col], []).append(row)

    def terminate(self):
        if not self._per_group:
            yield (0, 0, 0, 0, None)
            return
        from ..operators.stats import _dq_scores, dates_us
        ds_col, y_col = self._args
        scores = []
        for rows in self._per_group.values():
            rows = sorted(rows, key=lambda r: (r[ds_col] is None, r[ds_col]))
            scores.append(_dq_scores(_nan_y(rows, y_col),
                                     dates_us(_ds(rows, ds_col)))
                          ["overall_score"])
        n = len(scores)
        yield (n, sum(1 for s in scores if s >= 0.8),
               sum(1 for s in scores if 0.5 <= s < 0.8),
               sum(1 for s in scores if s < 0.5), sum(scores) / n)


class ValidateTimestampsUDTF:
    """``ts_validate_timestamps_by(TABLE(t), 'id', 'ds',
    '2024-01-01,2024-01-02')`` (mirror of prep.ts_validate_timestamps_by)."""

    @staticmethod
    def _expected(expected) -> list:
        return [_trunc_second(_parse_ts(t))
                for t in str(expected.value).split(",") if t.strip()]

    @staticmethod
    def analyze(table, group_col, ds_col, expected):
        g = group_col.value
        return _result([
            _f(g, table.dataType[g].dataType),
            _f("is_valid", T.BooleanType()),
            _f("n_expected", T.LongType()), _f("n_found", T.LongType()),
            _f("n_missing", T.LongType()),
            _f("missing_timestamps", T.ArrayType(T.TimestampType()))],
            ValidateTimestampsUDTF._expected(expected), by=g)

    def __init__(self, analyze_result: _Analysis):
        self._exp = analyze_result.parsed
        self._per_group: dict = {}

    def eval(self, row, group_col, ds_col, *_):
        self._per_group.setdefault(row[group_col], set()).add(
            _trunc_second(row[ds_col]))

    def _verdicts(self):
        exp = self._exp
        for g, found in self._per_group.items():
            missing = sorted(t for t in exp if t not in found)
            yield (g, len(missing) == 0, len(exp), len(exp) - len(missing),
                   len(missing), missing)

    def terminate(self):
        if not self._per_group:
            return
        yield from self._verdicts()


class ValidateTimestampsSummaryUDTF(ValidateTimestampsUDTF):
    @staticmethod
    def analyze(table, group_col, ds_col, expected):
        gt = table.dataType[group_col.value].dataType
        return _result([
            _f("all_valid", T.BooleanType()), _f("n_groups", T.LongType()),
            _f("n_valid_groups", T.LongType()),
            _f("n_invalid_groups", T.LongType()),
            _f("invalid_groups", T.ArrayType(gt))],
            ValidateTimestampsUDTF._expected(expected))

    def terminate(self):
        if not self._per_group:
            return
        vs = list(self._verdicts())
        invalid = [g for g, ok, *_ in vs if not ok]
        yield (not invalid, len(vs), len(vs) - len(invalid), len(invalid),
               invalid)


class CheckLeakageUDTF:
    """``ts_check_leakage(TABLE(t), 'is_test')`` (mirror of
    prep.ts_check_leakage)."""

    @staticmethod
    def analyze(table, is_test_col):
        return AnalyzeResult(schema=T.StructType([
            _f("status", T.StringType()), _f("test_row_count", T.LongType()),
            _f("train_row_count", T.LongType()),
            _f("recommendation", T.StringType())]), withSinglePartition=True)

    def __init__(self):
        self._test = 0
        self._train = 0

    def eval(self, row, is_test_col):
        t = row[is_test_col]
        if t is True:
            self._test += 1
        elif t is False:
            self._train += 1

    def terminate(self):
        yield ("Leakage check complete", self._test, self._train,
               "Use ts_cv_hydrate_by + explicit column selection for "
               "fail-safe joins")


class ConformalCalibrateUDTF:
    """``ts_conformal_calibrate(TABLE(backtest), 'actual', 'yhat'[, alpha])``
    (mirror of conformal.ts_conformal_calibrate)."""

    @staticmethod
    def analyze(table, actual, forecast, *rest):
        return _result([
            _f("conformity_score", T.DoubleType()),
            _f("coverage", T.DoubleType()),
            _f("n_residuals", T.LongType())],
            float(rest[0].value) if rest else 0.1)

    def __init__(self, analyze_result: _Analysis):
        self._alpha = analyze_result.parsed
        self._res: list = []

    def eval(self, row, actual, forecast, *_):
        a, f = row[actual], row[forecast]
        if a is not None and f is not None:
            self._res.append(float(a) - float(f))

    def terminate(self):
        alpha = self._alpha
        score = _corrected_quantile(np.sort(np.abs(self._res)), alpha) \
            if self._res else None
        yield (score, 1.0 - alpha, len(self._res))


class CvSplitFoldsUDTF:
    """``ts_cv_split_folds_by(TABLE(t), 'id', 'ds', '2024-01-31,2024-02-29',
    '7', '1d'[, gap, embargo])`` — explicit-cutoff fold boundaries (mirror
    of cv.ts_cv_split_folds_by)."""

    @staticmethod
    def analyze(table, group_col, ds_col, cutoffs, horizon, frequency, *rest):
        TS = T.TimestampType()
        L = T.LongType()
        extra = [_int(a.value) for a in rest[:2]]
        gap, embargo = (extra + [0, 0])[:2]
        cuts = sorted(_parse_ts(c) for c in str(cutoffs.value).split(",")
                      if c.strip())
        return _result([
            _f("fold_id", L), _f("train_start", TS), _f("train_end", TS),
            _f("test_start", TS), _f("test_end", TS), _f("horizon", L),
            _f("gap", L), _f("embargo", L)],
            (cuts, _int(horizon.value), parse_frequency(str(frequency.value)),
             gap, embargo))

    def __init__(self, analyze_result: _Analysis):
        self.p = analyze_result.parsed
        self._min = None
        self._seen = False

    def eval(self, row, group_col, ds_col, *_):
        self._seen = True
        d = row[ds_col]
        if d is not None and (self._min is None or d < self._min):
            self._min = d

    def terminate(self):
        if not self._seen:
            return
        cuts, h, freq, gap, embargo = self.p
        for fold_id, te in enumerate(cuts):
            ts_, te_ = _fold_bounds(te, h, gap, freq)
            yield (fold_id, self._min, te, ts_, te_, h, gap, embargo)


class PrepareRegressionInputUDTF:
    """``ts_prepare_regression_input_by(TABLE(cv ⋈ features pre-join),
    'id', 'ds', 'y')`` — fit-predict adapter (mirror of
    cv.ts_prepare_regression_input_by; takes the cv-to-source pre-join
    since Spark UDTFs accept one TABLE argument). Row-wise: target
    NULL-masked on test rows, reference-literal output names."""

    @staticmethod
    def analyze(table, group_col, ds_col, target_col):
        g, d = group_col.value, ds_col.value
        fields = {f.name: f.dataType for f in table.dataType.fields}
        feats = [n for n in fields
                 if n not in (g, d, "fold_id", "split")]
        return AnalyzeResult(schema=T.StructType(
            [_f("fold_id", fields["fold_id"]), _f("split", T.StringType()),
             _f("group_col", fields[g]), _f("date_col", fields[d]),
             _f("masked_target", T.DoubleType()),
             _f("_is_test", T.BooleanType())]
            + [_f(n, fields[n]) for n in feats]))

    def eval(self, row, group_col, ds_col, target_col):
        vals = row.asDict()
        g, d, y = group_col, ds_col, target_col
        feats = [n for n in vals
                 if n not in (g, d, "fold_id", "split")]
        is_test = vals.get("split") == "test"
        tgt = vals.get(y)
        yield tuple([vals.get("fold_id"), vals.get("split"), vals.get(g),
                     vals.get(d),
                     None if is_test or tgt is None else float(tgt),
                     is_test] + [vals.get(n) for n in feats])


_R4B_UDTFS = {
    "ts_quality_report": QualityReportUDTF,
    "ts_stats_summary": StatsSummaryUDTF,
    "ts_data_quality": DataQualityUDTF,
    "ts_data_quality_by": DataQualityUDTF,
    "ts_data_quality_summary": DataQualitySummaryUDTF,
    "ts_fill_forward_by": FillForwardUDTF,
    "ts_mark_unknown_by": MarkUnknownUDTF,
    "ts_fill_unknown_by": FillUnknownUDTF,
    "ts_validate_timestamps_by": ValidateTimestampsUDTF,
    "ts_validate_timestamps_summary_by": ValidateTimestampsSummaryUDTF,
    "ts_check_leakage": CheckLeakageUDTF,
    "ts_conformal_calibrate": ConformalCalibrateUDTF,
    "ts_conformal_apply_by": ConformalApplyUDTF,
    "ts_forecast_inspect_by": ForecastInspectUDTF,
    "ts_forecast_explain_by": ForecastExplainUDTF,
    "ts_forecast_exog_by": ForecastExogByUDTF,
    "ts_forecast_exog": ForecastExogUDTF,
    "ts_cv_split_folds_by": CvSplitFoldsUDTF,
    "ts_cv_split_by": CvSplitUDTF,
    "ts_cv_forecast_by": CvForecastUDTF,
    "ts_cv_hydrate_by": CvHydrateUDTF,
    "ts_prepare_regression_input_by": PrepareRegressionInputUDTF,
    "ts_hydrate_features_by": HydrateFeaturesUDTF,
    "ols_fit_predict_by": OlsFitPredictUDTF,
}


# ---------------------------------------------------------------------------
# beyond-parity families on the SQL surface (r8): events_*, search_*
#
# The DataFrame ops (operators/events.py, operators/search.py) are the
# performance paths — pure Catalyst, one shuffle each. These UDTFs are the
# SQL-string compatibility forms, value-identical to the DataFrame ops
# (pinned in tests/test_sql_surface.py).
# ---------------------------------------------------------------------------

import datetime as _dt
import hashlib as _hashlib
import json as _json
import re as _re

_EPOCH_NAIVE = _dt.datetime(1970, 1, 1)
_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _py_us(v):
    """Epoch microseconds for a timestamp value as PySpark hands it to a
    UDTF: naive datetime for TIMESTAMP/TIMESTAMP_NTZ under the session
    factory's UTC timezone, aware datetime when zoned, int = epoch seconds
    (mirroring events._us's CAST(bigint AS timestamp))."""
    if isinstance(v, _dt.datetime):
        epoch = _EPOCH_UTC if v.tzinfo is not None else _EPOCH_NAIVE
        return (v - epoch) // _dt.timedelta(microseconds=1)
    return int(v) * 1_000_000


def _py_words(s):
    """Python replay of pipeline._words: trim spaces (F.trim strips the
    space character only), lowercase, ASCII ``\\s+`` split (Java regex
    semantics)."""
    if s is None:
        return []
    t = s.strip(" ")
    if not t:
        return []
    return _re.split(r"\s+", t.lower(), flags=_re.ASCII)


def _py_trunc(grain: str, v: _dt.datetime) -> _dt.datetime:
    """Python replay of Spark date_trunc for the ROLLUP_GRAINS."""
    if grain == "hour":
        return v.replace(minute=0, second=0, microsecond=0)
    d = v.replace(hour=0, minute=0, second=0, microsecond=0)
    if grain == "day":
        return d
    if grain == "week":                      # Monday start, like Spark
        return d - _dt.timedelta(days=d.weekday())
    if grain == "month":
        return d.replace(day=1)
    if grain == "quarter":
        return d.replace(month=3 * ((d.month - 1) // 3) + 1, day=1)
    if grain == "year":
        return d.replace(month=1, day=1)
    raise ValueError(f"unknown grain {grain!r}")


class EventsSessionizeUDTF:
    """``events_sessionize(TABLE(t), key_col, ts_col, gap_seconds)`` — SQL
    form of ``operators/events.py::sessionize``. Output = input columns +
    ``is_session_start`` + ``session_seq``. ``analyze`` requests PARTITION
    BY key and ORDER BY ts, so Catalyst plans the same single per-key
    Exchange as the DataFrame path; the walk is the same strict
    integer-microsecond gap rule."""

    @staticmethod
    def analyze(table: AnalyzeArgument, key_col: AnalyzeArgument,
                ts_col: AnalyzeArgument,
                gap_seconds: AnalyzeArgument) -> AnalyzeResult:
        schema = table.dataType
        out = T.StructType(
            list(schema.fields)
            + [T.StructField("is_session_start", T.BooleanType()),
               T.StructField("session_seq", T.LongType())])
        return AnalyzeResult(
            schema=out,
            partitionBy=[PartitioningColumn(key_col.value)],
            orderBy=[OrderingColumn(ts_col.value)])

    def __init__(self):
        self._rows: list = []

    def eval(self, row, key_col, ts_col, gap_seconds):
        self._args = (ts_col, float(gap_seconds))
        self._rows.append(row)

    def terminate(self):
        if not self._rows:
            return
        ts_col, gap = self._args
        gap_us = int(round(gap * 1_000_000))
        seq, prev = 0, None
        for r in self._rows:
            us = _py_us(r[ts_col])
            new = prev is None or (us - prev) > gap_us
            if new:
                seq += 1
            prev = us
            yield (*r, bool(new), seq)


class EventsAsofJoinUDTF:
    """``events_asof_join(TABLE(u), key_col, ts_col, side_col,
    value_cols_json, direction[, tolerance_seconds])`` — SQL form of
    ``operators/events.py::asof_join`` over the union-tagged encoding the
    DataFrame op builds internally: ``u`` = left rows with ``side_col=1``
    unioned with right rows carrying the value columns and ``side_col=0``
    (value columns null on left rows). Output: all columns except the side
    column, value columns carried from the nearest right row, plus
    ``matched_ts``. Left-join semantics, inclusive bounds, per-column
    ``last(ignorenulls)`` carry — exactly the DataFrame op's rules."""

    @staticmethod
    def analyze(table: AnalyzeArgument, key_col: AnalyzeArgument,
                ts_col: AnalyzeArgument, side_col: AnalyzeArgument,
                value_cols_json: AnalyzeArgument,
                direction: AnalyzeArgument,
                tolerance_seconds: AnalyzeArgument | None = None
                ) -> AnalyzeResult:
        schema = table.dataType
        vcols = list(_json.loads(value_cols_json.value))
        side = side_col.value
        ts = ts_col.value
        keep = [f for f in schema.fields
                if f.name != side and f.name not in vcols]
        out = T.StructType(
            keep
            + [T.StructField(c, schema[c].dataType) for c in vcols]
            + [T.StructField("matched_ts", schema[ts].dataType)])
        return AnalyzeResult(
            schema=out,
            partitionBy=[PartitioningColumn(key_col.value)])

    def __init__(self):
        self._rows: list = []

    def eval(self, row, key_col, ts_col, side_col, value_cols_json,
             direction, tolerance_seconds=None):
        self._args = (ts_col, side_col, value_cols_json, direction,
                      tolerance_seconds)
        self._rows.append(row)

    def terminate(self):
        if not self._rows:
            return
        ts_col, side_col, vjson, direction, tol = self._args
        if direction not in ("backward", "forward"):
            raise ValueError(f"unknown direction {direction!r}")
        vcols = list(_json.loads(vjson))
        back = direction == "backward"
        tol_us = (None if tol is None
                  else int(round(float(tol) * 1_000_000)))
        # (ts asc, side asc) for backward; (ts desc, side asc) forward —
        # right (side 0) before left at equal ts, so equality matches
        rows = sorted(self._rows,
                      key=lambda r: (_py_us(r[ts_col]) * (1 if back else -1),
                                     r[side_col]))
        out_cols = [c for c in self._rows[0].__fields__
                    if c != side_col and c not in vcols]
        carried = {c: None for c in vcols}
        matched = None                        # (value, us)
        for r in rows:
            if r[side_col] == 0:
                for c in vcols:
                    if r[c] is not None:
                        carried[c] = r[c]
                matched = (r[ts_col], _py_us(r[ts_col]))
                continue
            vals, mts = dict(carried), matched
            if tol_us is not None:
                if mts is None:
                    vals, mts = {c: None for c in vcols}, None
                else:
                    gap = (_py_us(r[ts_col]) - mts[1] if back
                           else mts[1] - _py_us(r[ts_col]))
                    if gap > tol_us:
                        vals, mts = {c: None for c in vcols}, None
            yield (*[r[c] for c in out_cols],
                   *[vals[c] for c in vcols],
                   mts[0] if mts is not None else None)


class EventsTimeRollupUDTF:
    """``events_time_rollup(TABLE(t), ts_col, value_col, grains_json[,
    key_col])`` — SQL form of ``operators/events.py::time_rollup`` with
    one optional key column. ``analyze`` partitions by the key when given
    (one hash exchange, each key's cells aggregate locally — the same
    (granularity, bucket, key) cells as the DataFrame op); keyless falls
    back to a single partition (audit scale only — use the DataFrame op
    on a large corpus)."""

    @staticmethod
    def analyze(table: AnalyzeArgument, ts_col: AnalyzeArgument,
                value_col: AnalyzeArgument, grains_json: AnalyzeArgument,
                key_col: AnalyzeArgument | None = None) -> AnalyzeResult:
        schema = table.dataType
        # ADVICE r8: an integer ts column is epoch seconds (the _py_us
        # convention the sibling events UDTFs share); its buckets are
        # timestamps, matching the DataFrame op's date_trunc output
        ts_dt = schema[ts_col.value].dataType
        bucket_dt = (ts_dt if isinstance(
            ts_dt, (T.TimestampType, T.TimestampNTZType))
            else T.TimestampType())
        fields = [T.StructField("granularity", T.StringType()),
                  T.StructField("bucket", bucket_dt)]
        if key_col is not None:
            fields.append(T.StructField(
                key_col.value, schema[key_col.value].dataType))
        fields += [T.StructField("n", T.LongType()),
                   T.StructField("value_sum", T.DoubleType()),
                   T.StructField("value_min", T.DoubleType()),
                   T.StructField("value_max", T.DoubleType())]
        out = T.StructType(fields)
        if key_col is not None:
            return AnalyzeResult(
                schema=out,
                partitionBy=[PartitioningColumn(key_col.value)])
        return AnalyzeResult(schema=out, withSinglePartition=True)

    def __init__(self):
        self._rows: list = []

    def eval(self, row, ts_col, value_col, grains_json, key_col=None):
        self._args = (ts_col, value_col, grains_json, key_col)
        self._rows.append(row)

    def terminate(self):
        if not self._rows:
            return
        ts_col, value_col, grains_json, key_col = self._args
        from ..operators.events import ROLLUP_GRAINS
        grains = list(_json.loads(grains_json))
        bad = [g for g in grains if g not in ROLLUP_GRAINS]
        if bad:
            raise ValueError(f"unknown granularities {bad}; pick from "
                             f"{ROLLUP_GRAINS}")
        cells: dict = {}
        for r in self._rows:
            v = r[value_col]
            v = float(v) if v is not None else None
            key = r[key_col] if key_col is not None else None
            tsv = r[ts_col]
            if not isinstance(tsv, _dt.datetime):
                # int epoch seconds (the _py_us convention) -> naive
                # UTC datetime, same value CAST(bigint AS timestamp)
                # yields under the session factory's UTC timezone
                tsv = _EPOCH_NAIVE + _dt.timedelta(seconds=int(tsv))
            for g in grains:
                b = _py_trunc(g, tsv)
                c = cells.setdefault((g, b, key), [0, None, None, None])
                c[0] += 1
                if v is not None:
                    c[1] = v if c[1] is None else c[1] + v
                    c[2] = v if c[2] is None else min(c[2], v)
                    c[3] = v if c[3] is None else max(c[3], v)
        for (g, b, key), (n, s, mn, mx) in sorted(
                cells.items(), key=lambda kv: (kv[0][0], kv[0][1])):
            if key_col is not None:
                yield (g, b, key, n, s, mn, mx)
            else:
                yield (g, b, n, s, mn, mx)


class EventsFunnelUDTF:
    """``events_funnel(TABLE(t), key_col, ts_col, type_col, steps_json[,
    within_seconds[, max_events_per_key]])`` — SQL form of
    ``operators/events.py::funnel``: greedy first-touch matching of the
    ordered step sequence per key, the same strict ``>`` ordering,
    ``within_seconds`` horizon from the step-1 anchor, and the optional
    earliest-N per-key cap. ``analyze`` partitions by the key (the same
    single Exchange as the DataFrame op's groupBy). Prune the stream to
    the funnel's event types BEFORE calling for the DataFrame op's scale
    posture — the UDTF walks whatever rows it is given."""

    @staticmethod
    def analyze(table: AnalyzeArgument, key_col: AnalyzeArgument,
                ts_col: AnalyzeArgument, type_col: AnalyzeArgument,
                steps_json: AnalyzeArgument,
                within_seconds: AnalyzeArgument | None = None,
                max_events_per_key: AnalyzeArgument | None = None
                ) -> AnalyzeResult:
        schema = table.dataType
        steps = list(_json.loads(steps_json.value))
        out = T.StructType(
            [T.StructField(key_col.value, schema[key_col.value].dataType),
             T.StructField("steps_completed", T.IntegerType()),
             T.StructField("converted", T.BooleanType())]
            + [T.StructField(f"step_{i + 1}_ts",
                             schema[ts_col.value].dataType)
               for i in range(len(steps))])
        return AnalyzeResult(
            schema=out,
            partitionBy=[PartitioningColumn(key_col.value)])

    def __init__(self):
        self._rows: list = []

    def eval(self, row, key_col, ts_col, type_col, steps_json,
             within_seconds=None, max_events_per_key=None):
        self._args = (key_col, ts_col, type_col, steps_json,
                      within_seconds, max_events_per_key)
        self._rows.append(row)

    def terminate(self):
        if not self._rows:
            return
        key_col, ts_col, type_col, sjson, within, cap = self._args
        steps = list(_json.loads(sjson))
        if not steps:
            raise ValueError("steps must be non-empty")
        k = len(steps)
        win_us = (None if within is None
                  else int(round(float(within) * 1_000_000)))
        ev = [( _py_us(r[ts_col]), r[type_col], r[ts_col])
              for r in self._rows if r[type_col] in steps]
        if not ev:
            return
        ev.sort(key=lambda e: (e[0], e[1]))
        if cap is not None:
            ev = ev[:int(cap)]
        hit: list = []
        for us, ty, ts in ev:
            n = len(hit)
            if n >= k or ty != steps[n]:
                continue
            if n > 0 and us <= hit[-1][0]:
                continue
            if win_us is not None and n > 0 and us - hit[0][0] > win_us:
                continue
            hit.append((us, ts))
        key = self._rows[0][key_col]
        yield (key, len(hit), len(hit) == k,
               *[hit[i][1] if i < len(hit) else None for i in range(k)])


class SearchBm25UDTF:
    """``search_bm25(TABLE(docs), id_col, text_col, terms_json[, k1, b])``
    — SQL form of ``operators/search.py::bm25_score``: every document
    scored (compose ``ORDER BY score DESC LIMIT k`` for ``bm25_topk``).
    BM25 needs corpus-global stats (N, avgdl, per-term df), so ``analyze``
    requests a single partition — the audit-scale convenience form; the
    DataFrame op (narrow tf map + one broadcast 1-row aggregate) is the
    scale path. Same Lucene idf, same tokenizer, same term-order float
    accumulation."""

    @staticmethod
    def analyze(table: AnalyzeArgument, id_col: AnalyzeArgument,
                text_col: AnalyzeArgument, terms_json: AnalyzeArgument,
                k1: AnalyzeArgument | None = None,
                b: AnalyzeArgument | None = None) -> AnalyzeResult:
        schema = table.dataType
        out = T.StructType(
            [T.StructField(id_col.value, schema[id_col.value].dataType),
             T.StructField("score", T.DoubleType())])
        return AnalyzeResult(schema=out, withSinglePartition=True)

    def __init__(self):
        self._rows: list = []

    def eval(self, row, id_col, text_col, terms_json, k1=None, b=None):
        self._args = (id_col, text_col, terms_json,
                      1.2 if k1 is None else float(k1),
                      0.75 if b is None else float(b))
        self._rows.append(row)

    def terminate(self):
        if not self._rows:
            return
        id_col, text_col, terms_json, k1, b = self._args
        terms = [str(t).lower() for t in _json.loads(terms_json)]
        if not terms:
            raise ValueError("query_terms must be non-empty")
        docs = []
        for r in self._rows:
            ws = _py_words(r[text_col])
            docs.append((r[id_col], len(ws),
                         [sum(1 for w in ws if w == t) for t in terms]))
        n = float(len(docs))
        sumdl = sum(d[1] for d in docs)
        avgdl = float(sumdl) / n
        dfs = [float(sum(1 for d in docs if d[2][i] > 0))
               for i in range(len(terms))]
        for did, dl, tfs in docs:
            score = 0.0
            for i in range(len(terms)):
                tf = float(tfs[i])
                idf = math.log(1.0 + (n - dfs[i] + 0.5) / (dfs[i] + 0.5))
                score = score + idf * (tf * (k1 + 1.0)
                                       / (tf + k1 * (1.0 - b
                                                     + b * float(dl) / avgdl)))
            yield (did, score)


def _py_us_any(v):
    """_py_us that also passes through None."""
    return None if v is None else _py_us(v)


def _ts_or_timestamp(dt):
    """Output dtype for a bucket derived from a ts column: keep timestamp
    flavors, map int epoch-seconds to TIMESTAMP (the DataFrame ops'
    implicit-cast behavior)."""
    return dt if isinstance(dt, (T.TimestampType, T.TimestampNTZType)) \
        else T.TimestampType()


def _py_ts(v):
    """Timestamp value as a naive datetime (int = epoch seconds, the
    shared _py_us convention)."""
    if isinstance(v, _dt.datetime):
        return v
    return _EPOCH_NAIVE + _dt.timedelta(seconds=int(v))


class EventsRetentionUDTF:
    """``events_retention(TABLE(t), key_col, ts_col[, cohort_grain[,
    max_periods]])`` — SQL form of ``operators/events.py::retention``.
    Cohort cells need corpus-global first-event state, so ``analyze``
    requests a single partition — the audit-scale convenience form; the
    DataFrame op (min-aggregate + key-hash joins) is the scale path."""

    @staticmethod
    def analyze(table: AnalyzeArgument, key_col: AnalyzeArgument,
                ts_col: AnalyzeArgument,
                cohort_grain: AnalyzeArgument | None = None,
                max_periods: AnalyzeArgument | None = None) -> AnalyzeResult:
        schema = table.dataType
        out = T.StructType([
            T.StructField("cohort",
                          _ts_or_timestamp(schema[ts_col.value].dataType)),
            T.StructField("period", T.IntegerType()),
            T.StructField("n_active", T.LongType()),
            T.StructField("cohort_size", T.LongType()),
            T.StructField("retention_rate", T.DoubleType())])
        return AnalyzeResult(schema=out, withSinglePartition=True)

    def __init__(self):
        self._rows: list = []

    def eval(self, row, key_col, ts_col, cohort_grain=None,
             max_periods=None):
        self._args = (key_col, ts_col,
                      "week" if cohort_grain is None else str(cohort_grain),
                      max_periods)
        self._rows.append(row)

    def terminate(self):
        if not self._rows:
            return
        key_col, ts_col, grain, max_p = self._args
        from ..operators.events import ROLLUP_GRAINS
        if grain not in ROLLUP_GRAINS:
            raise ValueError(f"unknown grain {grain!r}; pick from "
                             f"{ROLLUP_GRAINS}")
        acts = {(r[key_col], _py_trunc(grain, _py_ts(r[ts_col])))
                for r in self._rows}
        first: dict = {}
        for k, b in acts:
            if k not in first or b < first[k]:
                first[k] = b
        cells: dict = {}
        for k, b in acts:
            c = first[k]
            if grain in ("month", "quarter", "year"):
                mdiv = {"month": 1, "quarter": 3, "year": 12}[grain]
                months = (b.year * 12 + b.month) - (c.year * 12 + c.month)
                period = int(months / mdiv)
            else:
                width = {"hour": 3600, "day": 86400,
                         "week": 7 * 86400}[grain]
                period = int((_py_us(b) - _py_us(c))
                             // (width * 1_000_000))
            if max_p is not None and period >= int(max_p):
                continue
            cells.setdefault((c, period), set()).add(k)
        sizes: dict = {}
        for k, c in first.items():
            sizes[c] = sizes.get(c, 0) + 1
        for (c, period), ks in sorted(cells.items()):
            yield (c, period, len(ks), sizes[c],
                   float(len(ks)) / float(sizes[c]))


class EventsTransitionsUDTF:
    """``events_transitions(TABLE(t), key_col, ts_col, type_col)`` — SQL
    form of ``operators/events.py::event_transitions`` (first-order
    transition matrix, row-normalized). The matrix is corpus-global, so
    single partition — audit scale; the DataFrame op (per-key lead window
    + count-only groupBy) is the scale path. Keep (key, ts) unique —
    duplicate timestamps walk in an unspecified order on both paths."""

    @staticmethod
    def analyze(table: AnalyzeArgument, key_col: AnalyzeArgument,
                ts_col: AnalyzeArgument,
                type_col: AnalyzeArgument) -> AnalyzeResult:
        schema = table.dataType
        ty = schema[type_col.value].dataType
        out = T.StructType([
            T.StructField("from_type", ty), T.StructField("to_type", ty),
            T.StructField("n_transitions", T.LongType()),
            T.StructField("probability", T.DoubleType())])
        return AnalyzeResult(schema=out, withSinglePartition=True)

    def __init__(self):
        self._rows: list = []

    def eval(self, row, key_col, ts_col, type_col):
        self._args = (key_col, ts_col, type_col)
        self._rows.append(row)

    def terminate(self):
        if not self._rows:
            return
        key_col, ts_col, type_col = self._args
        per_key: dict = {}
        for r in self._rows:
            per_key.setdefault(r[key_col], []).append(
                (_py_us(r[ts_col]), r[type_col]))
        counts: dict = {}
        for evs in per_key.values():
            evs.sort(key=lambda t: t[0])
            for (_, a), (_, b) in zip(evs, evs[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        totals: dict = {}
        for (a, _), n in counts.items():
            totals[a] = totals.get(a, 0) + n
        for (a, b), n in sorted(counts.items()):
            yield (a, b, n, float(n) / float(totals[a]))


class PipelineGopherUDTF:
    """``pipeline_gopher_stats(TABLE(docs), id_col, text_col)`` — SQL form
    of ``operators/pipeline.py::gopher_stats``. Every signal is
    per-document, so ``analyze`` requests no partitioning at all — the
    UDTF maps whatever partitions arrive (unlike the corpus-global
    single-partition UDTFs, this one scales with the input)."""

    @staticmethod
    def analyze(table: AnalyzeArgument, id_col: AnalyzeArgument,
                text_col: AnalyzeArgument) -> AnalyzeResult:
        from ..operators.pipeline import TOP_NS, DUP_NS
        schema = table.dataType
        fields = [T.StructField(id_col.value,
                                schema[id_col.value].dataType),
                  T.StructField("n_chars", T.IntegerType()),
                  T.StructField("n_words", T.IntegerType()),
                  T.StructField("mean_word_len", T.DoubleType()),
                  T.StructField("symbol_word_ratio", T.DoubleType()),
                  T.StructField("alpha_word_frac", T.DoubleType()),
                  T.StructField("dup_line_frac", T.DoubleType()),
                  T.StructField("dup_line_char_frac", T.DoubleType())]
        fields += [T.StructField(f"top_{n}gram_char_frac", T.DoubleType())
                   for n in TOP_NS]
        fields += [T.StructField(f"dup_{n}gram_char_frac", T.DoubleType())
                   for n in DUP_NS]
        fields.append(T.StructField("gopher_keep", T.BooleanType()))
        return AnalyzeResult(schema=T.StructType(fields))

    def eval(self, row, id_col, text_col):
        from ..operators.pipeline import TOP_NS, DUP_NS, GOPHER_THRESHOLDS
        t = row[text_col] or ""
        ws = _py_words(t)
        lines = t.split("\n")
        n_lines = len(lines)
        distinct_lines = set(lines)
        n_dup_lines = n_lines - len(distinct_lines)
        dup_line_chars = sum(
            (lines.count(x) - 1) * len(x) for x in distinct_lines)
        n_chars = len(t)
        n_words = len(ws)
        n_symbols = len(_re.findall(r"#|\.\.\.", t))
        n_alpha = sum(1 for w in ws if _re.search(r"[a-z]", w, _re.ASCII))
        mean_wl = (sum(len(w) for w in ws) / n_words) if n_words else 0.0
        sig = {
            "n_chars": n_chars, "n_words": n_words,
            "mean_word_len": mean_wl,
            "symbol_word_ratio": (n_symbols / n_words) if n_words else 0.0,
            "alpha_word_frac": (n_alpha / n_words) if n_words else 0.0,
            "dup_line_frac": (n_dup_lines / n_lines) if n_lines else 0.0,
            "dup_line_char_frac":
                (dup_line_chars / n_chars) if n_chars else 0.0,
        }
        for ns, top in ((TOP_NS, True), (DUP_NS, False)):
            for n in ns:
                grams = [" ".join(ws[i:i + n])
                         for i in range(len(ws) - n + 1)]
                cnt: dict = {}
                for g in grams:
                    cnt[g] = cnt.get(g, 0) + 1
                col = (f"top_{n}gram_char_frac" if top
                       else f"dup_{n}gram_char_frac")
                if not cnt or n_chars <= 0:
                    sig[col] = 0.0
                elif top:
                    c, g = min((-c, g) for g, c in cnt.items())
                    sig[col] = ((-c) * len(g) / n_chars
                                if -c >= 2 else 0.0)
                else:
                    sig[col] = sum(c * len(g) for g, c in cnt.items()
                                   if c >= 2) / n_chars
        th = GOPHER_THRESHOLDS
        keep = (th["min_words"] <= n_words <= th["max_words"]
                and th["min_mean_word_len"] <= sig["mean_word_len"]
                <= th["max_mean_word_len"]
                and sig["symbol_word_ratio"] <= th["max_symbol_word_ratio"]
                and sig["alpha_word_frac"] >= th["min_alpha_word_frac"]
                and sig["dup_line_frac"] <= th["max_dup_line_frac"]
                and sig["dup_line_char_frac"]
                <= th["max_dup_line_char_frac"]
                and all(sig[f"top_{n}gram_char_frac"]
                        <= th[f"max_top_{n}gram_char_frac"]
                        for n in TOP_NS)
                and all(sig[f"dup_{n}gram_char_frac"]
                        <= th[f"max_dup_{n}gram_char_frac"]
                        for n in DUP_NS))
        yield (row[id_col], *sig.values(), keep)


class PipelineC4UDTF:
    """``pipeline_c4_stats(TABLE(docs), id_col, text_col)`` — SQL form of
    ``operators/pipeline.py::c4_stats``. Pure per-document map, no
    partitioning requested."""

    @staticmethod
    def analyze(table: AnalyzeArgument, id_col: AnalyzeArgument,
                text_col: AnalyzeArgument) -> AnalyzeResult:
        schema = table.dataType
        return AnalyzeResult(schema=T.StructType([
            T.StructField(id_col.value, schema[id_col.value].dataType),
            T.StructField("n_sentences", T.IntegerType()),
            T.StructField("ends_terminal_punct", T.BooleanType()),
            T.StructField("has_curly_brace", T.BooleanType()),
            T.StructField("has_lorem_ipsum", T.BooleanType()),
            T.StructField("has_javascript", T.BooleanType()),
            T.StructField("frac_lines_5plus_words", T.DoubleType()),
            T.StructField("c4_keep", T.BooleanType())]))

    def eval(self, row, id_col, text_col):
        t = row[text_col] or ""
        lower = t.lower()
        lines = t.split("\n")
        n_lines = len(lines)

        def wc(x):
            xt = x.strip(" ")
            return 0 if not xt else len(_re.split(r"\s+", xt, flags=_re.ASCII))

        lines_5w = sum(1 for x in lines if wc(x) >= 5)
        n_sent = len(_re.findall(r"[.!?]+", t))
        curly = "{" in lower
        lorem = "lorem ipsum" in lower
        yield (row[id_col], n_sent,
               bool(_re.search(r"[.!?\"']$", t.strip(" "))),
               curly, lorem, "javascript" in lower,
               (lines_5w / n_lines) if n_lines else 0.0,
               n_sent >= 3 and not curly and not lorem)


class PipelineDupSpansUDTF:
    """``pipeline_dup_spans(TABLE(docs), id_col, text_col[, k[, min_count[,
    keep_first]]])`` — SQL form of ``operators/pipeline.py::dup_spans``
    (ExactSubstr duplicated spans). Gram counts are corpus-global, so
    single partition — audit scale; the DataFrame op (count-only md5-gram
    shuffle + islands window) is the scale path."""

    @staticmethod
    def analyze(table: AnalyzeArgument, id_col: AnalyzeArgument,
                text_col: AnalyzeArgument,
                k: AnalyzeArgument | None = None,
                min_count: AnalyzeArgument | None = None,
                keep_first: AnalyzeArgument | None = None) -> AnalyzeResult:
        schema = table.dataType
        return AnalyzeResult(schema=T.StructType([
            T.StructField(id_col.value, schema[id_col.value].dataType),
            T.StructField("span_start", T.LongType()),
            T.StructField("span_end", T.LongType()),
            T.StructField("span_tokens", T.LongType())]),
            withSinglePartition=True)

    def __init__(self):
        self._rows: list = []

    def eval(self, row, id_col, text_col, k=None, min_count=None,
             keep_first=None):
        self._args = (id_col, text_col,
                      20 if k is None else int(k),
                      2 if min_count is None else int(min_count),
                      bool(keep_first))
        self._rows.append(row)

    def terminate(self):
        if not self._rows:
            return
        id_col, text_col, k, min_count, keep_first = self._args
        if k < 1:
            raise ValueError("k must be >= 1")
        if min_count < 2:
            raise ValueError("min_count must be >= 2")
        occ: dict = {}
        for r in self._rows:
            ws = _py_words(r[text_col] or "")
            for p in range(len(ws) - k + 1):
                occ.setdefault(" ".join(ws[p:p + k]), []).append(
                    (r[id_col], p + 1))
        marked: dict = {}
        for ps in occ.values():
            if len(ps) >= min_count:
                for did, pos in (sorted(ps)[1:] if keep_first
                                 else ps):
                    marked.setdefault(did, set()).add(pos)
        for did in sorted(marked):
            run: list = []
            for p in sorted(marked[did]):
                if run and p - run[-1] > k:
                    yield (did, run[0], run[-1] + k - 1,
                           run[-1] + k - run[0])
                    run = []
                run.append(p)
            if run:
                yield (did, run[0], run[-1] + k - 1,
                       run[-1] + k - run[0])


class StatsHllDistinctUDTF:
    """``stats_hll_distinct(TABLE(t), key_col[, precision_bits[, seed[,
    group_col]]])`` — SQL form of
    ``operators/stats.py::hll_count_distinct`` (engine-portable md5 HLL).
    With a group column ``analyze`` partitions by it (same single
    exchange as the DataFrame op); ungrouped falls back to a single
    partition. Same estimator, same bucket-ordered float fold."""

    @staticmethod
    def analyze(table: AnalyzeArgument, key_col: AnalyzeArgument,
                precision_bits: AnalyzeArgument | None = None,
                seed: AnalyzeArgument | None = None,
                group_col: AnalyzeArgument | None = None) -> AnalyzeResult:
        schema = table.dataType
        fields = []
        if group_col is not None:
            fields.append(T.StructField(
                group_col.value, schema[group_col.value].dataType))
        fields += [T.StructField("hll_estimate", T.DoubleType()),
                   T.StructField("n_buckets_used", T.LongType())]
        out = T.StructType(fields)
        if group_col is not None:
            return AnalyzeResult(
                schema=out,
                partitionBy=[PartitioningColumn(group_col.value)])
        return AnalyzeResult(schema=out, withSinglePartition=True)

    def __init__(self):
        self._regs: dict = {}
        self._group = None
        self._has_group = False

    def eval(self, row, key_col, precision_bits=None, seed=None,
             group_col=None):
        p = 12 if precision_bits is None else int(precision_bits)
        if not (4 <= p <= 16) or p % 4 != 0:
            raise ValueError("precision_bits must be 4, 8, 12, or 16")
        self._p = p
        self._seed = "hll" if seed is None else str(seed)
        if group_col is not None:
            self._group, self._has_group = row[group_col], True
        key = row[key_col]
        if key is None:
            return
        nib = p // 4
        h = _hashlib.md5(
            f"{self._seed}:{key}".encode("utf-8")).hexdigest()
        bucket = int(h[:nib], 16)
        s = h[nib:nib + 15]
        stripped = s.lstrip("0")
        if not stripped:
            rho = 61
        else:
            zchars = len(s) - len(stripped)
            first = stripped[0].upper()
            nib_lz = (3 if first == "1" else 2 if first in "23"
                      else 1 if first in "4567" else 0)
            rho = zchars * 4 + nib_lz + 1
        if rho > self._regs.get(bucket, 0):
            self._regs[bucket] = rho

    def terminate(self):
        if not hasattr(self, "_p"):
            return
        m = 1 << self._p
        used = len(self._regs)
        ssum = 0.0
        for b in sorted(self._regs):
            ssum = ssum + 2.0 ** (-self._regs[b])
        zeros = float(m - used)
        alpha = 0.673 if m == 16 else 0.7213 / (1 + 1.079 / m)
        raw = (alpha * m * m) / (ssum + zeros)
        if raw <= 2.5 * m and zeros > 0:
            est = float(m) * math.log(float(m) / zeros)
        else:
            est = raw
        if self._has_group:
            yield (self._group, est, used)
        else:
            yield (est, used)


class PipelineLmScoreUDTF:
    """``pipeline_lm_score(TABLE(docs), id_col, text_col[, k])`` — SQL
    form of ``operators/pipeline.py::lm_score`` (CCNet-style add-k
    bigram-LM quality scoring, self-perplexity mode). Counts are
    corpus-global, so single partition — audit scale; the DataFrame op
    (count-only groupBys + hash joins + one per-doc fold) is the scale
    path. The ln rides libm here vs the JVM there — identical to the
    last ulp in practice, compared at rtol in the pin test."""

    @staticmethod
    def analyze(table: AnalyzeArgument, id_col: AnalyzeArgument,
                text_col: AnalyzeArgument,
                k: AnalyzeArgument | None = None) -> AnalyzeResult:
        schema = table.dataType
        return AnalyzeResult(schema=T.StructType([
            T.StructField(id_col.value, schema[id_col.value].dataType),
            T.StructField("n_bigrams", T.LongType()),
            T.StructField("mean_logprob", T.DoubleType()),
            T.StructField("perplexity", T.DoubleType())]),
            withSinglePartition=True)

    def __init__(self):
        self._rows: list = []

    def eval(self, row, id_col, text_col, k=None):
        kf = 1.0 if k is None else float(k)
        if kf <= 0:
            raise ValueError("k (smoothing) must be positive")
        self._args = (id_col, text_col, kf)
        self._rows.append(row)

    def terminate(self):
        if not self._rows:
            return
        id_col, text_col, kf = self._args
        uni: dict = {}
        bc: dict = {}
        docs = []
        for r in self._rows:
            ws = _py_words(r[text_col] or "")
            docs.append((r[id_col], ws))
            for w in ws:
                uni[w] = uni.get(w, 0) + 1
            for a, b in zip(ws, ws[1:]):
                bc[(a, b)] = bc.get((a, b), 0) + 1
        V = float(len(uni))
        for did, ws in docs:
            if len(ws) < 2:
                yield (did, 0, None, None)
                continue
            s, n = 0.0, 0
            for a, b in zip(ws, ws[1:]):
                s = s + math.log((bc[(a, b)] + kf) / (uni[a] + kf * V))
                n += 1
            mean = s / float(n)
            yield (did, n, mean, math.exp(-mean))


class DedupKeepBestUDTF:
    """``dedup_keep_best(TABLE(t), id_col, text_col, score_col)`` — SQL
    form of ``operators/dedup.py::exact_dedup_keep_best``: one row per
    normalized-text md5 fingerprint keeping the highest-score member
    (ties -> smallest id; NULL scores rank worst). Fingerprint groups are
    corpus-global, so single partition — audit scale; the DataFrame op
    (one count/argmin groupBy) is the scale path."""

    @staticmethod
    def analyze(table: AnalyzeArgument, id_col: AnalyzeArgument,
                text_col: AnalyzeArgument,
                score_col: AnalyzeArgument) -> AnalyzeResult:
        schema = table.dataType
        return AnalyzeResult(schema=T.StructType([
            T.StructField("fingerprint", T.StringType()),
            T.StructField("keep_id", schema[id_col.value].dataType),
            T.StructField("keep_score", T.DoubleType()),
            T.StructField("dup_count", T.LongType())]),
            withSinglePartition=True)

    def __init__(self):
        self._rows: list = []

    def eval(self, row, id_col, text_col, score_col):
        self._args = (id_col, text_col, score_col)
        self._rows.append(row)

    def terminate(self):
        if not self._rows:
            return
        id_col, text_col, score_col = self._args
        groups: dict = {}
        for r in self._rows:
            t = r[text_col] or ""
            norm = _re.sub(r"\s+", " ", t.lower(),
                           flags=_re.ASCII).strip(" ")
            fp = _hashlib.md5(norm.encode("utf-8")).hexdigest()
            sc = r[score_col]
            ns = float("inf") if sc is None else -float(sc)
            # Spark struct order: NaN sorts GREATEST (after +inf), so the
            # comparable key is (isnan, ns, id) with ns zeroed under NaN
            isnan = ns != ns
            cand = ((1, 0.0, r[id_col]) if isnan
                    else (0, ns, r[id_col]), ns)
            g = groups.setdefault(fp, [0, None])
            g[0] += 1
            if g[1] is None or cand[0] < g[1][0]:
                g[1] = cand
        for fp in sorted(groups):
            c, (key, ns) = groups[fp]
            yield (fp, key[2], None if ns == float("inf") else -ns, c)


class TextPiiRedactUDTF:
    """``text_pii_redact(TABLE(t), text_col)`` — SQL form of
    ``operators/text.py::pii_redact``. A pure per-row map (no
    partitioning requirement); Python ``re`` agrees with Spark's Java
    regex for the module's patterns (pinned by the third-engine replay
    test and the driver oracle)."""

    @staticmethod
    def analyze(table: AnalyzeArgument,
                text_col: AnalyzeArgument) -> AnalyzeResult:
        fields = list(table.dataType.fields)
        fields += [T.StructField("n_emails", T.IntegerType()),
                   T.StructField("n_ipv4", T.IntegerType()),
                   T.StructField("n_phones", T.IntegerType()),
                   T.StructField("n_pii", T.IntegerType()),
                   T.StructField("text_redacted", T.StringType())]
        return AnalyzeResult(schema=T.StructType(fields))

    def __init__(self):
        import re as _re
        from ..operators.text import PII_PATTERNS
        self._pats = [(_re.compile(p), tok) for _, p, tok in PII_PATTERNS]

    def eval(self, row, text_col):
        txt = row[text_col]
        if txt is None:
            yield (*row, None, None, None, None, None)
            return
        counts = [len(rx.findall(txt)) for rx, _ in self._pats]
        red = txt
        for rx, tok in self._pats:
            red = rx.sub(tok, red)
        yield (*row, *counts, sum(counts), red)


class StatsBloomFillUDTF:
    """``stats_bloom_fill(TABLE(t), key_col[, m_bits[, k[, seed]]])`` —
    SQL form of ``operators/stats.py::bloom_registers`` +
    ``bloom_stats``: build the md5 Bloom sketch over the table's keys in
    one pass and report (n_bits_set, fill_ratio, fp_rate_est,
    est_n_keys). Same bit math as the DataFrame op."""

    @staticmethod
    def analyze(table: AnalyzeArgument, key_col: AnalyzeArgument,
                m_bits: AnalyzeArgument | None = None,
                k: AnalyzeArgument | None = None,
                seed: AnalyzeArgument | None = None) -> AnalyzeResult:
        out = T.StructType([
            T.StructField("n_bits_set", T.LongType()),
            T.StructField("fill_ratio", T.DoubleType()),
            T.StructField("fp_rate_est", T.DoubleType()),
            T.StructField("est_n_keys", T.DoubleType())])
        return AnalyzeResult(schema=out, withSinglePartition=True)

    def __init__(self):
        self._bits: set = set()
        self._m = None

    def eval(self, row, key_col, m_bits=None, k=None, seed=None):
        m = 4096 if m_bits is None else int(m_bits)
        kk = 4 if k is None else int(k)
        if m < 32 or m % 32 != 0:
            raise ValueError("m_bits must be a positive multiple of 32")
        if not (1 <= kk <= 16):
            raise ValueError("k must be in [1, 16]")
        self._m, self._k = m, kk
        self._seed = "bloom" if seed is None else str(seed)
        key = row[key_col]
        if key is None:
            return
        for i in range(1, kk + 1):
            h = _hashlib.md5(
                f"{self._seed}:{i}:{key}".encode("utf-8")).hexdigest()
            self._bits.add(int(h[:15], 16) % m)

    def terminate(self):
        if self._m is None:
            return
        nb = len(self._bits)
        fill = nb / self._m
        est = (-(self._m / self._k) * math.log(1.0 - fill)
               if nb < self._m else None)
        yield (nb, fill, fill ** self._k, est)


class StatsCmFrequencyUDTF:
    """``stats_cm_frequency(TABLE(t), key_col[, width[, depth[,
    seed]]])`` — SQL form of ``operators/stats.py::cm_registers`` +
    ``cm_estimate`` over the table's own keys: one row per distinct key
    with (n_exact, cm_est), cm_est >= n_exact always. Same md5 cell
    math as the DataFrame ops."""

    @staticmethod
    def analyze(table: AnalyzeArgument, key_col: AnalyzeArgument,
                width: AnalyzeArgument | None = None,
                depth: AnalyzeArgument | None = None,
                seed: AnalyzeArgument | None = None) -> AnalyzeResult:
        out = T.StructType([
            T.StructField(key_col.value,
                          table.dataType[key_col.value].dataType),
            T.StructField("n_exact", T.LongType()),
            T.StructField("cm_est", T.LongType())])
        return AnalyzeResult(schema=out, withSinglePartition=True)

    def __init__(self):
        self._cells: dict = {}
        self._exact: dict = {}
        self._w = None

    def _col(self, j, key):
        h = _hashlib.md5(
            f"{self._seed}:{j}:{key}".encode("utf-8")).hexdigest()
        return int(h[:15], 16) % self._w

    def eval(self, row, key_col, width=None, depth=None, seed=None):
        w = 512 if width is None else int(width)
        d = 3 if depth is None else int(depth)
        if w < 2:
            raise ValueError("width must be >= 2")
        if not (1 <= d <= 16):
            raise ValueError("depth must be in [1, 16]")
        self._w, self._d = w, d
        self._seed = "cm" if seed is None else str(seed)
        key = row[key_col]
        if key is None:
            return
        self._exact[key] = self._exact.get(key, 0) + 1
        for j in range(1, d + 1):
            c = (j, self._col(j, key))
            self._cells[c] = self._cells.get(c, 0) + 1

    def terminate(self):
        for key in self._exact:
            est = min(self._cells.get((j, self._col(j, key)), 0)
                      for j in range(1, self._d + 1))
            yield (key, self._exact[key], est)


class StatsSampledQuantilesUDTF:
    """``stats_sampled_quantiles(TABLE(t), key_col, value_col[,
    group_col[, k[, seed]]])`` — SQL form of
    ``operators/stats.py::sampled_quantiles`` (bottom-k md5-uniform
    sample -> type-7 quantiles at 0.25/0.5/0.75/0.95). With a group
    column ``analyze`` partitions by it (same single exchange as the
    DataFrame op)."""

    QS = (0.25, 0.5, 0.75, 0.95)

    @staticmethod
    def analyze(table: AnalyzeArgument, key_col: AnalyzeArgument,
                value_col: AnalyzeArgument,
                group_col: AnalyzeArgument | None = None,
                k: AnalyzeArgument | None = None,
                seed: AnalyzeArgument | None = None) -> AnalyzeResult:
        fields = []
        if group_col is not None:
            fields.append(T.StructField(
                group_col.value, table.dataType[group_col.value].dataType))
        fields.append(T.StructField("n", T.IntegerType()))
        fields += [T.StructField(
            f"q_{str(q).replace('.', '_')}", T.DoubleType())
            for q in StatsSampledQuantilesUDTF.QS]
        out = T.StructType(fields)
        if group_col is not None:
            return AnalyzeResult(
                schema=out,
                partitionBy=[PartitioningColumn(group_col.value)])
        return AnalyzeResult(schema=out, withSinglePartition=True)

    def __init__(self):
        self._rows: list = []
        self._group = None
        self._has_group = False

    def eval(self, row, key_col, value_col, group_col=None, k=None,
             seed=None):
        self._k = 64 if k is None else int(k)
        if self._k < 1:
            raise ValueError("k must be >= 1")
        self._seed = "bk" if seed is None else str(seed)
        if group_col is not None:
            self._group, self._has_group = row[group_col], True
        key = row[key_col]
        h = _hashlib.md5(
            f"{self._seed}:{key}".encode("utf-8")).hexdigest()
        u = int(h[:8], 16) / 4294967296.0
        self._rows.append((u, str(key), row[value_col]))

    def terminate(self):
        if not self._rows:
            return
        self._rows.sort(key=lambda t: (t[0], t[1]))
        vals = sorted(float(v) for _, _, v in self._rows[:self._k]
                      if v is not None)
        n = len(vals)
        out = [n]
        for q in self.QS:
            if n == 1:
                out.append(vals[0])
                continue
            ix = q * (n - 1)
            lo = int(math.floor(ix))
            frac = ix - lo
            out.append(vals[lo] * (1.0 - frac)
                       + vals[min(lo + 1, n - 1)] * frac)
        if self._has_group:
            yield (self._group, *out)
        else:
            yield tuple(out)


class StatsSkewReportUDTF:
    """``stats_skew_report(TABLE(t), key_cols_json[, top_k])`` — SQL form
    of ``operators/stats.py::skew_report`` (pre-flight shuffle-skew
    diagnostic; one summary row). The report is corpus-global by
    definition — single partition; the DataFrame op (count-only groupBy +
    1-row aggregate) is the scale path."""

    @staticmethod
    def analyze(table: AnalyzeArgument, key_cols_json: AnalyzeArgument,
                top_k: AnalyzeArgument | None = None) -> AnalyzeResult:
        return AnalyzeResult(schema=T.StructType([
            T.StructField("n_keys", T.LongType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("mean_per_key", T.DoubleType()),
            T.StructField("p50_per_key", T.DoubleType()),
            T.StructField("p99_per_key", T.DoubleType()),
            T.StructField("max_per_key", T.LongType()),
            T.StructField("skew_ratio", T.DoubleType()),
            T.StructField("top_keys",
                          T.ArrayType(T.StringType()))]),
            withSinglePartition=True)

    def __init__(self):
        self._counts: dict = {}

    def eval(self, row, key_cols_json, top_k=None):
        keys = list(_json.loads(key_cols_json))
        if not keys:
            raise ValueError("key_cols must be non-empty")
        self._top_k = 10 if top_k is None else int(top_k)
        if self._top_k < 1:
            raise ValueError("top_k must be >= 1")
        # concat_ws SKIPS nulls (no separator slot) — mirror that
        k = "|".join(str(row[c]) for c in keys if row[c] is not None)
        self._counts[k] = self._counts.get(k, 0) + 1

    def terminate(self):
        if not self._counts:
            return
        counts = sorted(self._counts.values())
        n = len(counts)
        n_rows = sum(counts)
        mean = float(n_rows) / float(n)

        def q7(p):
            if n == 1:
                return float(counts[0])
            ix = float(p) * float(n - 1)
            lo = math.floor(ix)
            frac = ix - float(lo)
            hi = min(lo + 1, n - 1)
            return (float(counts[int(lo)]) * (1.0 - frac)
                    + float(counts[int(hi)]) * frac)

        mx = float(counts[-1])
        hot = sorted(((-c, k) for k, c in self._counts.items()))
        top = [f"{k}={-negc}" for negc, k in hot[:self._top_k]]
        yield (n, n_rows, mean, q7(0.5), q7(0.99), int(mx),
               mx / mean, top)


class PipelineBuildVocabUDTF:
    """``pipeline_build_vocab(TABLE(t), id_col, text_col[, max_terms])``
    — SQL form of ``operators/pipeline.py::build_vocab`` (vocabulary +
    coverage curve). Corpus-global counts, so single partition — audit
    scale; the DataFrame op (count-only shuffle + vocab-sized window)
    is the scale path."""

    @staticmethod
    def analyze(table: AnalyzeArgument, id_col: AnalyzeArgument,
                text_col: AnalyzeArgument,
                max_terms: AnalyzeArgument | None = None) -> AnalyzeResult:
        if max_terms is not None and int(max_terms.value) < 1:
            raise ValueError("max_terms must be >= 1")
        return AnalyzeResult(schema=T.StructType([
            T.StructField("word", T.StringType()),
            T.StructField("n_occurrences", T.LongType()),
            T.StructField("n_docs", T.LongType()),
            T.StructField("rank", T.IntegerType()),
            T.StructField("coverage", T.DoubleType())]),
            withSinglePartition=True)

    def __init__(self):
        self._rows: list = []

    def eval(self, row, id_col, text_col, max_terms=None):
        self._args = (id_col, text_col,
                      None if max_terms is None else int(max_terms))
        self._rows.append(row)

    def terminate(self):
        if not self._rows:
            return
        id_col, text_col, max_terms = self._args
        occ: dict = {}
        dof: dict = {}
        for r in self._rows:
            for w in _py_words(r[text_col] or ""):
                occ[w] = occ.get(w, 0) + 1
                dof.setdefault(w, set()).add(r[id_col])
        total = sum(occ.values())
        cum = 0
        for rk, w in enumerate(
                sorted(occ, key=lambda x: (-occ[x], x)), 1):
            if max_terms is not None and rk > max_terms:
                break
            cum += occ[w]
            yield (w, occ[w], len(dof[w]), rk, cum / total)


class PipelineDsirWeightsUDTF:
    """``pipeline_dsir_weights(TABLE(t), id_col, text_col, is_target_col)``
    — SQL form of ``operators/pipeline.py::dsir_weights`` with the target
    corpus marked by a boolean column (one-table UDTF calling convention):
    target LM trains on marked rows, raw LM on every row, both scoring the
    full table. Corpus-global counts, so single partition — audit scale;
    the DataFrame op is the scale path."""

    @staticmethod
    def analyze(table: AnalyzeArgument, id_col: AnalyzeArgument,
                text_col: AnalyzeArgument,
                is_target_col: AnalyzeArgument) -> AnalyzeResult:
        schema = table.dataType
        return AnalyzeResult(schema=T.StructType([
            T.StructField(id_col.value, schema[id_col.value].dataType),
            T.StructField("n_bigrams", T.LongType()),
            T.StructField("logprob_target", T.DoubleType()),
            T.StructField("logprob_raw", T.DoubleType()),
            T.StructField("log_weight", T.DoubleType())]),
            withSinglePartition=True)

    def __init__(self):
        self._rows: list = []

    def eval(self, row, id_col, text_col, is_target_col):
        self._args = (id_col, text_col, is_target_col)
        self._rows.append(row)

    @staticmethod
    def _lm(train_docs):
        uni: dict = {}
        bc: dict = {}
        for ws in train_docs:
            for w in ws:
                uni[w] = uni.get(w, 0) + 1
            for a, b in zip(ws, ws[1:]):
                bc[(a, b)] = bc.get((a, b), 0) + 1
        return uni, bc, float(len(uni))

    def terminate(self):
        if not self._rows:
            return
        id_col, text_col, is_target_col = self._args
        docs = [(r[id_col], _py_words(r[text_col] or ""),
                 bool(r[is_target_col])) for r in self._rows]
        runi, rbc, rV = self._lm([ws for _, ws, _ in docs])
        tuni, tbc, tV = self._lm([ws for _, ws, t in docs if t])
        for did, ws, _ in docs:
            if len(ws) < 2:
                yield (did, 0, None, None, None)
                continue
            st = sr = 0.0
            n = 0
            for a, b in zip(ws, ws[1:]):
                if tV > 0:
                    st = st + math.log((tbc.get((a, b), 0) + 1.0)
                                       / (tuni.get(a, 0) + 1.0 * tV))
                sr = sr + math.log((rbc[(a, b)] + 1.0) / (runi[a] + 1.0 * rV))
                n += 1
            # empty target: the DataFrame op's per-bigram division by a
            # zero denominator is NULL in Spark, so the target-leg mean
            # and the weight are NULL — mirror that, don't crash
            mt = st / float(n) if tV > 0 else None
            mr = sr / float(n)
            lw = float(n) * (mt - mr) if mt is not None else None
            yield (did, n, mt, mr, lw)


#: every registered SQL name (populated by register_all's first run);
#: each also gets the reference's ``anofox_fcst_`` alias
#: (``ts_macros.cpp:2185-2197`` registers both spellings for every macro).
REGISTERED_NAMES: list = []


def register_all(spark: SparkSession) -> None:
    """Register the SQL surface on a session. Idempotent.

    Mirrors the reference's registration list
    (src/anofox_forecast_extension.cpp:16-175 and the macro table in
    src/macros/ts_macros.cpp): operator / detection / hierarchy / conformal
    / cv UDTFs, grouped-metric UDTFs, prep-family UDTFs, 13 scalar metric
    functions (JVM-side Spark 4 SQL UDFs, not Python), and the
    ``anofox_fcst_*`` alias for every name."""
    names: list = []

    def reg_udtf(name, cls):
        fn = udtf(cls)
        spark.udtf.register(name, fn)
        spark.udtf.register(f"anofox_fcst_{name}", fn)
        names.append(name)

    reg_udtf("ts_fill_gaps_by", FillGapsUDTF)
    reg_udtf("ts_cv_folds_by", CvFoldsUDTF)
    reg_udtf("ts_detect_periods", DetectPeriodsUDTF)
    reg_udtf("ts_detect_periods_by", DetectPeriodsUDTF)
    for name, (metric, n_vals, extra) in _METRIC_BY_SPECS.items():
        reg_udtf(name, _make_metric_by_udtf(metric, n_vals, extra))
    for name, op in _PREP_UDTF_NAMES.items():
        reg_udtf(name, _make_prep_udtf(op))
    for name, cls in _SERIES_UDTFS.items():
        reg_udtf(name, cls)
    reg_udtf("ts_combine_keys", CombineKeysUDTF)
    reg_udtf("ts_split_keys", SplitKeysUDTF)
    reg_udtf("ts_validate_separator", ValidateSeparatorUDTF)
    reg_udtf("ts_aggregate_hierarchy", AggregateHierarchyUDTF)
    reg_udtf("ts_conformal_by", ConformalByUDTF)
    reg_udtf("ts_conformal_coverage_by", CoverageByUDTF)
    reg_udtf("ts_interval_width_by", IntervalWidthUDTF)
    reg_udtf("ts_conformal_evaluate", ConformalEvaluateUDTF)
    reg_udtf("ts_cv_split_index_by", CvSplitIndexUDTF)
    reg_udtf("ts_backtest_auto_by", BacktestAutoUDTF)
    for name, cls in _R4B_UDTFS.items():
        reg_udtf(name, cls)
    # beyond-parity event/search families (r8) — SQL forms of the stable
    # DataFrame ops, value-identical (tests/test_sql_surface.py pins)
    reg_udtf("events_sessionize", EventsSessionizeUDTF)
    reg_udtf("events_asof_join", EventsAsofJoinUDTF)
    reg_udtf("events_time_rollup", EventsTimeRollupUDTF)
    reg_udtf("events_funnel", EventsFunnelUDTF)
    reg_udtf("search_bm25", SearchBm25UDTF)
    # r9: the remaining stable beyond-parity families (retention,
    # transitions, gopher/c4 doc signals, ExactSubstr spans, HLL,
    # skew report) — SQL==DataFrame pins in test_sql_surface.py
    reg_udtf("events_retention", EventsRetentionUDTF)
    reg_udtf("events_transitions", EventsTransitionsUDTF)
    reg_udtf("pipeline_gopher_stats", PipelineGopherUDTF)
    reg_udtf("pipeline_c4_stats", PipelineC4UDTF)
    reg_udtf("pipeline_dup_spans", PipelineDupSpansUDTF)
    reg_udtf("pipeline_lm_score", PipelineLmScoreUDTF)
    reg_udtf("dedup_keep_best", DedupKeepBestUDTF)
    reg_udtf("stats_hll_distinct", StatsHllDistinctUDTF)
    reg_udtf("stats_skew_report", StatsSkewReportUDTF)
    # r9b: PII scrubbing + the Bloom/Count-Min/bottom-k sketch toolkit
    reg_udtf("text_pii_redact", TextPiiRedactUDTF)
    reg_udtf("stats_bloom_fill", StatsBloomFillUDTF)
    reg_udtf("stats_cm_frequency", StatsCmFrequencyUDTF)
    reg_udtf("stats_sampled_quantiles", StatsSampledQuantilesUDTF)
    # r9c: per-series scaling/winsorization + DSIR importance weights +
    # the online Welford anomaly detector
    reg_udtf("ts_scale", TsScaleUDTF)
    reg_udtf("ts_winsorize", TsWinsorizeUDTF)
    reg_udtf("pipeline_dsir_weights", PipelineDsirWeightsUDTF)
    reg_udtf("ts_detect_anomalies_online", TsDetectAnomaliesOnlineUDTF)
    reg_udtf("pipeline_build_vocab", PipelineBuildVocabUDTF)
    for name, sig, body in _SQL_SCALARS:
        for nm in (name, f"anofox_fcst_{name}"):
            spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {nm}{sig} "
                      f"RETURN {body}")
        names.append(name)
    # the two scalar period estimators (ref ts_periods.cpp:551-624 and the
    # fft sibling) need numpy, so they register as Arrow-batched UDFs
    from ..operators.detect import estimate_period_udf
    for nm, kind in (("ts_estimate_period_acf", "acf"),
                     ("ts_estimate_period_fft", "fft")):
        fn = estimate_period_udf(kind)
        spark.udf.register(nm, fn)
        spark.udf.register(f"anofox_fcst_{nm}", fn)
        names.append(nm)
    # feature-config loaders as struct-returning scalar SQL functions —
    # the reference registers these on its SQL surface
    # (anofox_forecast_extension.cpp:108-110); ours were driver-side dict
    # parsers only until r10. Config strings are tiny driver-side
    # literals, so a plain Python UDF is fine (never a hot path); a PATH
    # argument resolves on the evaluating worker — on a real cluster pass
    # the config TEXT, not a driver-local path.
    from ..operators.features import (ts_features_config_from_csv,
                                      ts_features_config_from_json)
    cfg_type = T.StructType([
        T.StructField("feature_names", T.ArrayType(T.StringType())),
        T.StructField("overrides", T.ArrayType(T.StructType([
            T.StructField("feature", T.StringType()),
            T.StructField("params_json", T.StringType())])))])

    def _cfg_udf(parse):
        def fn(s):
            if s is None:
                return None
            cfg = parse(s)
            return (cfg["feature_names"],
                    [(o["feature"], o["params_json"])
                     for o in cfg["overrides"]])
        return fn

    for nm, parse in (("ts_features_config_from_json",
                       ts_features_config_from_json),
                      ("ts_features_config_from_csv",
                       ts_features_config_from_csv)):
        fn = F.udf(_cfg_udf(parse), cfg_type)
        spark.udf.register(nm, fn)
        spark.udf.register(f"anofox_fcst_{nm}", fn)
        names.append(nm)
    REGISTERED_NAMES[:] = names
