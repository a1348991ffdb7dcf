"""Extended forecasting surface: exogenous regressors, model inspection, and
forecast explanation (SURVEY.md §2.1 rows 5-7).

Parity targets:

- ``ts_forecast_exog_by`` — macro ``src/macros/ts_macros.cpp:830-943``; Rust
  ``ExogenousData`` (``crates/anofox-fcst-core/src/forecast.rs:374-446``).
  Semantics: regression-with-model-errors — OLS of y on the exogenous columns
  (with intercept), base forecast model fit on the OLS residuals, final
  forecast = X_future @ beta + residual forecast. The reference's ARIMAX /
  ThetaX / MFLESX family (``README.md:34``) is this construction.
- ``ts_forecast_inspect_by`` — macro ``ts_macros.cpp:605-686``; returns a wide
  typed struct of fit state (we type the fields directly instead of the
  reference's JSON-unpack dance — same information, saner schema).
- ``ts_forecast_explain_by`` — macro ``ts_macros.cpp:687-731``; per-horizon
  additive decomposition (level/trend/seasonal/residual), ETS / MSTL / Theta
  families only, like the reference.

Spark shape: ``groupBy(id).cogroup(future.groupBy(id)).applyInPandas`` for
exog (the shuffle co-locates each series' history with its future regressors
— one exchange per side, no driver involvement); ``batched_grouped_map``
for inspect/explain.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import models as M
from ..functions.batched import batched_grouped_map
from .forecast import (ForecastSpec, fit_one, forecast_block,
                       forecast_schema, forecast_spec)


# ---------------------------------------------------------------------------
# Exogenous forecasting
# ---------------------------------------------------------------------------

def ts_forecast_exog_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                        xreg_cols: list[str], future_df: DataFrame,
                        future_ds_col: str, future_xreg_cols: list[str],
                        frequency="1d", method: str = "AutoARIMA",
                        horizon: int = 12, params: dict | None = None,
                        ) -> DataFrame:
    """Per-series forecast with exogenous regressors.

    ``future_df`` must carry the same group column and one row per future
    step with the regressor values. Output schema matches ``ts_forecast_by``
    with ``model_name = '<Model>X'``.
    """
    spec = forecast_spec(method, horizon, frequency, params)
    if len(xreg_cols) != len(future_xreg_cols):
        raise ValueError("xreg_cols and future_xreg_cols must align")
    is_int_ds = isinstance(df.schema[ds_col].dataType,
                           (T.IntegerType, T.LongType))
    schema = forecast_schema(df.schema, group_col, ds_col)

    def fn(key: tuple, hist: pd.DataFrame, fut: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({c.name: pd.Series(dtype="object") for c in schema})
        if hist.empty or fut.empty:
            return empty
        hist = hist.sort_values(ds_col)
        fut = fut.sort_values(future_ds_col).head(spec.horizon)
        r = fit_one(spec, hist[y_col].astype(float).to_numpy(), len(fut),
                    (hist[list(xreg_cols)].astype(float).to_numpy(),
                     fut[list(future_xreg_cols)].astype(float).to_numpy()))
        if r is None:
            return empty
        block = forecast_block(spec, hist[ds_col].iloc[-1], r, is_int_ds)
        return pd.DataFrame(dict(zip(schema.names,
                                     ([key[0]] * len(r.point), *block))))

    hist = df.select(group_col, ds_col,
                     F.col(y_col).cast("double").alias(y_col),
                     *[F.col(c).cast("double").alias(c) for c in xreg_cols]) \
             .filter(F.col(ds_col).isNotNull())
    fut = future_df.select(group_col, future_ds_col,
                           *[F.col(c).cast("double").alias(c)
                             for c in future_xreg_cols])
    return hist.groupBy(group_col).cogroup(fut.groupBy(group_col)) \
               .applyInPandas(fn, schema)


def ts_forecast_exog(df: DataFrame, ds_col: str, y_col: str,
                     xreg_cols: list[str], future_df: DataFrame,
                     future_ds_col: str, future_xreg_cols: list[str],
                     method: str = "AutoARIMA", horizon: int = 12,
                     params: dict | None = None) -> DataFrame:
    """Single-series exog form (ref macro ``ts_macros.cpp:756-830``) —
    array-valued result columns."""
    one = df.withColumn("__g", F.lit(1))
    fone = future_df.withColumn("__g", F.lit(1))
    rows = ts_forecast_exog_by(one, "__g", ds_col, y_col, xreg_cols, fone,
                               future_ds_col, future_xreg_cols, "1d", method,
                               horizon, params)
    return rows.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("forecast_step", "yhat"))).alias("__p"),
        F.array_sort(F.collect_list(F.struct("forecast_step", "yhat_lower"))).alias("__l"),
        F.array_sort(F.collect_list(F.struct("forecast_step", "yhat_upper"))).alias("__u"),
        F.first("model_name").alias("model_name"),
    ).select(
        F.transform("__p", lambda s: s["yhat"]).alias("point_forecasts"),
        F.transform("__l", lambda s: s["yhat_lower"]).alias("lower_bounds"),
        F.transform("__u", lambda s: s["yhat_upper"]).alias("upper_bounds"),
        "model_name",
    )


# ---------------------------------------------------------------------------
# Inspection
# ---------------------------------------------------------------------------

_INSPECT_SCHEMA_FIELDS = [
    ("model_family", T.StringType()),
    ("spec", T.StringType()),
    ("alpha", T.DoubleType()),
    ("beta", T.DoubleType()),
    ("gamma", T.DoubleType()),
    ("phi", T.DoubleType()),
    ("theta", T.DoubleType()),
    ("aic", T.DoubleType()),
    ("bic", T.DoubleType()),
    ("seasonal_period", T.LongType()),
    ("seasonal_periods", T.ArrayType(T.LongType())),
    ("order_p", T.LongType()),
    ("order_d", T.LongType()),
    ("order_q", T.LongType()),
    ("coefficients", T.ArrayType(T.DoubleType())),
    ("fitted_values", T.ArrayType(T.DoubleType())),
    ("residuals", T.ArrayType(T.DoubleType())),
]


def _scalar(v):
    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return None
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def inspect_result(r) -> dict:
    """Fitted-model introspection dict from a ForecastResult — the single
    compute shared by the DataFrame op and the SQL UDTF."""
    p = r.params or {}
    phi = p.get("phi")
    coef = None
    if isinstance(phi, (list, tuple)):           # ARIMA stores phi/theta lists
        coef = [float(v) for v in phi] + \
               [float(v) for v in (p.get("theta") or [])]
        phi = None
    sp = p.get("seasonal_periods")
    return {
        "model_family": r.model_name,
        "spec": str(p.get("model")) if p.get("model") else None,
        "alpha": _scalar(p.get("alpha")),
        "beta": _scalar(p.get("beta")),
        "gamma": _scalar(p.get("gamma")),
        "phi": _scalar(phi),
        "theta": _scalar(p.get("theta")),
        "aic": None if np.isnan(r.aic) else float(r.aic),
        "bic": None if np.isnan(r.bic) else float(r.bic),
        "seasonal_period": int(p["seasonal_period"]) if p.get("seasonal_period") else None,
        "seasonal_periods": [int(v) for v in sp] if sp else None,
        "order_p": int(p["p"]) if p.get("p") is not None else None,
        "order_d": int(p["d"]) if p.get("d") is not None else None,
        "order_q": int(p["q"]) if p.get("q") is not None else None,
        "coefficients": coef,
        "fitted_values": [None if not np.isfinite(v) else float(v)
                          for v in r.fitted] if r.fitted is not None else None,
        "residuals": [None if not np.isfinite(v) else float(v)
                      for v in r.residuals] if r.residuals is not None else None,
    }


def ts_forecast_inspect_by(df: DataFrame, group_col: str, ds_col: str,
                           y_col: str, method: str,
                           params: dict | None = None) -> DataFrame:
    """Fitted-model introspection: one row per series with a wide
    ``inspection`` struct (ref macro ``ts_macros.cpp:605-686``)."""
    spec = forecast_spec(method, params=params)
    schema = T.StructType([
        T.StructField(group_col, df.schema[group_col].dataType),
        T.StructField("inspection", T.StructType(
            [T.StructField(n, t) for n, t in _INSPECT_SCHEMA_FIELDS])),
    ])

    def fn(key: tuple, cols: dict) -> tuple | None:
        r = fit_one(spec, cols[y_col])
        return None if r is None else ([key[0]], [inspect_result(r)])

    base = df.select(group_col, ds_col, F.col(y_col).cast("double").alias(y_col)) \
             .filter(F.col(ds_col).isNotNull())
    return batched_grouped_map(base, [group_col], ds_col, schema, fn)


# ---------------------------------------------------------------------------
# Explanation (per-horizon decomposition)
# ---------------------------------------------------------------------------

_EXPLAINABLE = {"ETS", "AutoETS", "MSTL", "AutoMSTL", "Theta", "OptimizedTheta",
                "DynamicTheta", "DynamicOptimizedTheta", "AutoTheta"}


def explain_decompose(yv: np.ndarray, r, h: int, season: int) -> dict:
    """Per-horizon additive decomposition of a ForecastResult — the single
    compute shared by the DataFrame op and the SQL UDTF.

    Seasonal component: mean-centered per-phase pattern continued into the
    future; level = de-seasonalized baseline; trend = successive increments
    of the de-seasonalized point path.

    Fidelity note: the reference macro (``ts_macros.cpp:687-731`` →
    ``forecast.rs:1899-2010``) delegates the per-model decomposition to the
    ``anofox_forecast`` crate's ``Explainable`` impls, whose source is NOT
    vendored in the reference repo — only the observable contract (four
    additive per-horizon arrays summing to the point forecast) is
    recoverable. This function implements that contract with a documented
    convention, and the driver oracles replay it exactly (all three
    explainable families bit-exact, including the full seasonal-Theta
    point path)."""
    yv = M.interpolate_nulls(yv)
    m = int((r.params or {}).get("seasonal_period", season) or 0)
    point = np.asarray(r.point, dtype=float)
    if m >= 2 and len(yv) >= 2 * m:
        nfit = (len(yv) // m) * m
        phases = yv[:nfit].reshape(-1, m)
        pattern = phases.mean(axis=0) - phases.mean()
        start = len(yv) % m
        seas = np.array([pattern[(start + i) % m] for i in range(h)])
    else:
        seas = np.zeros(h)
    deseason = point - seas
    lvl = np.full(h, deseason[0])
    trend = deseason - lvl
    resid = point - (lvl + trend + seas)
    comp = {
        "level": [float(v) for v in lvl],
        "trend": [float(v) for v in trend],
        "seasonal": [float(v) for v in seas],
        "residual": [float(v) for v in resid],
    }
    import json
    # the reference macro also carries the component map as JSON
    # (named_components_json / raw_json — ts_macros.cpp:687-731); ours
    # names the four standard components
    return {"horizon": h, **comp,
            "named_components_json": json.dumps(comp, sort_keys=True),
            "raw_json": json.dumps({"horizon": h, **comp}, sort_keys=True)}


def explainable(spec: ForecastSpec) -> ForecastSpec:
    """``spec`` if its model supports explanation — ETS, MSTL and Theta
    only; others raise ``ValueError`` like the reference's InvalidModel
    error."""
    if spec.model not in _EXPLAINABLE:
        raise ValueError(f"Model {spec.model} does not support explanation "
                         "(ETS/MSTL/Theta only)")
    return spec


def ts_forecast_explain_by(df: DataFrame, group_col: str, ds_col: str,
                           y_col: str, method: str, horizon: int,
                           params: dict | None = None) -> DataFrame:
    """Per-horizon additive forecast decomposition (ref macro
    ``ts_macros.cpp:687-731``); see :func:`explainable`."""
    spec = explainable(forecast_spec(method, horizon, params=params))
    arr = T.ArrayType(T.DoubleType())
    schema = T.StructType([
        T.StructField(group_col, df.schema[group_col].dataType),
        T.StructField("decomposition", T.StructType([
            T.StructField("horizon", T.LongType()),
            T.StructField("level", arr),
            T.StructField("trend", arr),
            T.StructField("seasonal", arr),
            T.StructField("residual", arr),
            T.StructField("named_components_json", T.StringType()),
            T.StructField("raw_json", T.StringType()),
        ])),
    ])

    def fn(key: tuple, cols: dict) -> tuple | None:
        yv = cols[y_col]
        r = fit_one(spec, yv)
        if r is None:
            return None
        return ([key[0]],
                [explain_decompose(yv, r, spec.horizon, spec.season)])

    base = df.select(group_col, ds_col, F.col(y_col).cast("double").alias(y_col)) \
             .filter(F.col(ds_col).isNotNull())
    return batched_grouped_map(base, [group_col], ds_col, schema, fn)
