"""The forecast kernel (``operators/forecast.py``): one argument parser, one
isolated fit and one output block behind every forecast and CV entry point,
DataFrame and SQL.

Bad arguments must raise before any Spark job: a DataFrame operator raises
``ValueError`` while the query is built, a SQL table function fails at
``spark.sql()`` because its ``analyze`` runs the same parser."""

from __future__ import annotations

import contextlib
import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from anofox_forecast_spark.functions.sql import register_all
from anofox_forecast_spark.operators.cv import (ts_cv_folds_by,
                                                ts_cv_forecast_by)
from anofox_forecast_spark.operators.forecast import (fit, fit_one,
                                                      forecast_block,
                                                      forecast_spec,
                                                      ts_forecast_by)
from anofox_forecast_spark.operators.forecast_ext import (
    ts_forecast_explain_by, ts_forecast_inspect_by)

_GROUP = "forecast-kernel-bad-args"


@pytest.fixture(scope="module")
def kpanel(spark):
    rng = np.random.default_rng(3)
    start = dt.datetime(2024, 1, 1)
    rows = [(g, start + dt.timedelta(days=i), float(10 + i % 7 + rng.normal()))
            for g in ("a", "b") for i in range(40)]
    df = spark.createDataFrame(rows, "id string, ds timestamp, y double")
    df.createOrReplaceTempView("kpanel")
    ts_cv_folds_by(df, "id", "ds", "y", 2, 5).createOrReplaceTempView("kfolds")
    register_all(spark)
    return df


@contextlib.contextmanager
def _jobs(spark):
    """Collects the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(_GROUP, "forecast kernel bad-argument probe")
    before = set(tracker.getJobIdsForGroup(_GROUP))
    started: set = set()
    try:
        yield started
    finally:
        started |= set(tracker.getJobIdsForGroup(_GROUP)) - before
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_job_probe_sees_a_job(spark, kpanel):
    """The probe below is not vacuous: it does see a job."""
    with _jobs(spark) as started:
        kpanel.count()
    assert started


_DF_CASES = {
    "df_cv_forecast_by_level_1.5": (
        lambda df: ts_cv_forecast_by(
            ts_cv_folds_by(df, "id", "ds", "y", 2, 5), "id", "ds", "y",
            "Naive", {"confidence_level": 1.5}),
        "confidence_level"),
    "df_forecast_inspect_by_level_1.5": (
        lambda df: ts_forecast_inspect_by(df, "id", "ds", "y", "SES",
                                          {"confidence_level": 1.5}),
        "confidence_level"),
    "df_forecast_explain_by_horizon_0": (
        lambda df: ts_forecast_explain_by(df, "id", "ds", "y", "ETS", 0),
        "horizon"),
}

_SQL_CASES = {
    "sql_forecast_by_unknown_method": (
        "SELECT * FROM ts_forecast_by(TABLE(kpanel), 'id', 'ds', 'y', "
        "'NoSuchModel', 7, '1d')", "Unknown model"),
    "sql_forecast_by_horizon_0": (
        "SELECT * FROM ts_forecast_by(TABLE(kpanel), 'id', 'ds', 'y', "
        "'Naive', 0, '1d')", "horizon"),
    "sql_forecast_by_level_1.5": (
        "SELECT * FROM ts_forecast_by(TABLE(kpanel), 'id', 'ds', 'y', "
        "'Naive', 7, '1d', 1.5)", "confidence_level"),
    "sql_forecast_unknown_method": (
        "SELECT * FROM ts_forecast(TABLE(SELECT ds, y FROM kpanel "
        "WHERE id = 'a'), 'ds', 'y', 'NoSuchModel', 7)", "Unknown model"),
    "sql_cv_forecast_by_level_1.5": (
        "SELECT * FROM ts_cv_forecast_by(TABLE(kfolds), 'id', 'ds', 'y', "
        "'Naive', '{\"confidence_level\": 1.5}')", "confidence_level"),
    # every buffered table function parses its literals in analyze
    "sql_fill_gaps_by_bad_frequency": (
        "SELECT * FROM ts_fill_gaps_by(TABLE(kpanel), 'id', 'ds', 'y', "
        "'bogus')", "invalid frequency"),
    "sql_cv_folds_by_bad_n_folds": (
        "SELECT * FROM ts_cv_folds_by(TABLE(kpanel), 'id', 'ds', 'y', "
        "'x', 5)", "invalid literal for int"),
    "sql_stats_by_bad_frequency": (
        "SELECT * FROM ts_stats_by(TABLE(kpanel), 'id', 'ds', 'y', "
        "'bogus')", "invalid frequency"),
    "sql_fill_nulls_const_by_bad_value": (
        "SELECT * FROM ts_fill_nulls_const_by(TABLE(kpanel), 'id', 'ds', "
        "'y', 'abc')", "could not convert string to float"),
    "sql_detrend_by_fractional_degree": (
        "SELECT * FROM ts_detrend_by(TABLE(kpanel), 'id', 'ds', 'y', "
        "'polynomial', '2.5')", "invalid literal for int"),
    # so do the streaming table functions
    "sql_cv_split_folds_by_bad_frequency": (
        "SELECT * FROM ts_cv_split_folds_by(TABLE(kpanel), 'id', 'ds', "
        "'2024-01-20', 5, 'bogus')", "invalid frequency"),
    "sql_conformal_calibrate_bad_alpha": (
        "SELECT * FROM ts_conformal_calibrate(TABLE(kpanel), 'y', 'y', "
        "'x')", "could not convert string to float"),
    "sql_quality_report_bad_min_length": (
        "SELECT * FROM ts_quality_report(TABLE(kpanel), 'x')",
        "invalid literal for int"),
    "sql_validate_timestamps_by_bad_timestamp": (
        "SELECT * FROM ts_validate_timestamps_by(TABLE(kpanel), 'id', 'ds', "
        "'x')", "invalid timestamp"),
}


@pytest.mark.parametrize("case", sorted(_DF_CASES) + sorted(_SQL_CASES))
def test_bad_argument_raises_before_any_job(spark, kpanel, case):
    with _jobs(spark) as started:
        if case in _DF_CASES:
            build, msg = _DF_CASES[case]
            with pytest.raises(ValueError, match=msg):
                build(kpanel)
        else:
            query, msg = _SQL_CASES[case]
            with pytest.raises(AnalysisException) as err:
                spark.sql(query)
            text = str(err.value)
            assert "TABLE_VALUED_FUNCTION_FAILED_TO_ANALYZE_IN_PYTHON" in text
            assert "ValueError" in text and msg in text
    assert not started, f"{case} started Spark jobs {sorted(started)}"


@pytest.mark.parametrize("model,params", [
    ("Naive", None), ("SES", {"alpha": 0.3}), ("Theta", None)])
def test_forecast_dates_keep_the_input_timestamp_type(spark, kpanel, model,
                                                      params):
    """A TIMESTAMP ds forecasts TIMESTAMP dates on every path, also when
    the session's default timestamp type is TIMESTAMP_NTZ: the SQL fast
    path (Naive, SES) spells the type it casts to, like the Python path
    (Theta) declares the input's type."""
    key = "spark.sql.timestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_NTZ")
    try:
        out = ts_forecast_by(kpanel, "id", "ds", "y", model, 3, "1d", params)
        assert isinstance(out.schema["ds"].dataType, T.TimestampType)
        assert out.count() == 6
    finally:
        spark.conf.set(key, old)


def test_forecast_spec_validates():
    s = forecast_spec("ets", 3, "1d", {"seasonal_period": "7",
                                       "confidence_level": 0.8})
    assert (s.model, s.horizon, s.season, s.level) == ("ETS", 3, 7, 0.8)
    assert s.tds == tuple(pd.Timedelta(days=k) for k in (1, 2, 3))
    assert forecast_spec("Naive", 2, "1mo").tds is None
    for args in [("Nope", 1), ("Naive", 0), ("Naive", 1, "bogus"),
                 ("Naive", 1, None, {"confidence_level": 1.0})]:
        with pytest.raises(ValueError):
            forecast_spec(*args)


def test_fit_one_isolates_a_failed_fit():
    spec = forecast_spec("SES", 2)
    with pytest.raises(ValueError):
        fit(spec, [1.0, np.nan])
    assert fit_one(spec, [1.0, np.nan]) is None
    assert len(fit_one(spec, [1.0, 2.0, 3.0, 4.0]).point) == 2


def test_forecast_block_steps_future_dates():
    r = fit(forecast_spec("Naive", 3), [1.0, 2.0, 3.0])
    fixed = forecast_block(forecast_spec("Naive", 3, "1h"),
                           pd.Timestamp("2024-01-31 05:00"), r, False)
    assert fixed[0] == [1, 2, 3]
    assert fixed[1] == [pd.Timestamp("2024-01-31 05:00") + pd.Timedelta(hours=k)
                        for k in (1, 2, 3)]
    month = forecast_block(forecast_spec("Naive", 3, "1mo"),
                           pd.Timestamp("2024-01-31"), r, False)[1]
    assert month == [pd.Timestamp(d) for d in
                     ("2024-02-29", "2024-03-31", "2024-04-30")]
    assert forecast_block(forecast_spec("Naive", 3, "1d"), 10, r,
                          True)[1] == [11, 12, 13]


def test_fit_with_regressors_is_ols_plus_model_on_residuals():
    rng = np.random.default_rng(5)
    x = rng.normal(size=30)
    y = 2.0 + 3.0 * x + rng.normal(scale=0.1, size=30)
    xf = np.array([[0.5], [1.0]])
    spec = forecast_spec("Naive", 2)
    r = fit(spec, y, 2, (x[:, None], xf))
    b1, b0 = np.polyfit(x, y, 1)
    resid = fit(spec, y - (b0 + b1 * x), 2)
    assert r.model_name == "NaiveX"
    np.testing.assert_allclose(r.point, xf[:, 0] * b1 + b0 + resid.point,
                               rtol=1e-9)


def test_sql_forecast_matches_dataframe_path(spark, kpanel):
    """The SQL table function and the DataFrame operator fit through the
    same kernel: same rows for a Python-path model. A row with a NULL ds
    is not part of its series on either surface (series ``c``)."""
    start = dt.datetime(2024, 1, 1)
    extra = spark.createDataFrame(
        [("c", start + dt.timedelta(days=i), float(i)) for i in range(10)]
        + [("c", None, 1000.0)], kpanel.schema)
    panel = kpanel.unionByName(extra)
    panel.createOrReplaceTempView("kpanel_null_ds")
    sql = spark.sql("SELECT * FROM ts_forecast_by(TABLE(kpanel_null_ds), "
                    "'id', 'ds', 'y', 'Theta', 4, '1d', 0.8)").toPandas()
    df = ts_forecast_by(panel, "id", "ds", "y", "Theta", 4, "1d",
                        {"confidence_level": 0.8}).toPandas()
    assert sorted(set(sql["id"])) == ["a", "b", "c"]
    c = df[df["id"] == "c"].sort_values("forecast_step")
    assert (c["yhat"] < 20).all(), "the NULL-ds row entered the fit"
    key = ["id", "forecast_step"]
    pd.testing.assert_frame_equal(
        sql.sort_values(key).reset_index(drop=True),
        df.sort_values(key).reset_index(drop=True)[sql.columns])
