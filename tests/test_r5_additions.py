"""Round-5 regression pins: the MinHash slim band explode, the AutoARIMA
Cramer normal-equations init, the sequential-sum `multi` period branch, the
asymmetric conformal method, and calendar month-end clamping."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from anofox_forecast_spark.operators.conformal import ts_conformal_by
from anofox_forecast_spark.operators.dedup import minhash_lsh_pairs
from anofox_forecast_spark.operators.detect import detect_periods
from anofox_forecast_spark.operators.forecast import ts_forecast_by
from anofox_forecast_spark.sources import load_table
from tests.conftest import SF_DIR


def test_minhash_band_explode_carries_no_shingles(spark):
    """The 16x band explode must not carry the document-sized shingle
    array — only (id, sig, band, key). The shingles are joined back onto
    the deduplicated candidate set for verification (SCALE.md)."""
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    out = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16, bands=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "Generate explode" not in line:
            continue
        # a Generate line reads "Generate explode(<expr>), [carried...],
        # ...". The r14 signature aggregate CONSUMES __sh as the generator
        # expression (explode + min-agg replaces the interpreted per-salt
        # HOF) — that is fine; what must never happen is the document-
        # sized array RIDING ALONG a (band) explode, i.e. appearing in
        # the carried/output column lists after the generator expression.
        # Split on the LAST "), ": the generator expression may itself hold
        # nested calls, while the attribute lists after it hold none.
        carried = line.rsplit("), ", 1)[1] if "), " in line else line
        assert "__sh" not in carried, \
            "shingle array rides an explode again:\n" + line


def test_minhash_pairs_unchanged_by_refactor(spark):
    """Same verified pairs and jaccard values as the pre-refactor plan."""
    docs = load_table(spark, SF_DIR, "documents").limit(40)
    out = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16, bands=4,
                            threshold=0.3).toPandas()
    assert (out["jaccard"] >= 0.3).all()
    assert (out["id_a"] < out["id_b"]).all()
    assert not out.duplicated(["id_a", "id_b"]).any()


def test_arima_css_cramer_init_p2_p3():
    """The p>=2 AR-OLS init (explicit Cramer normal equations) must be
    finite, clipped to [-0.95, 0.95], and close to the true AR coefficients
    on a clean AR(2) series."""
    from anofox_forecast_spark.functions.models import _arima_css
    rng = np.random.default_rng(7)
    n = 300
    y = np.zeros(n)
    for t in range(2, n):
        y[t] = 0.6 * y[t - 1] - 0.3 * y[t - 2] + rng.normal(0, 0.5)
    phi, th, mean, e, sse = _arima_css(y, 2, 0)
    assert np.all(np.isfinite(phi)) and np.all(np.abs(phi) <= 0.99)
    assert abs(phi[0] - 0.6) < 0.15 and abs(phi[1] + 0.3) < 0.15
    assert np.isfinite(sse) and sse > 0
    phi3, th3, *_ = _arima_css(y, 3, 1)
    assert np.all(np.isfinite(phi3)) and np.all(np.isfinite(th3))


def test_auto_arima_beats_mean_on_ar_series():
    from anofox_forecast_spark.functions.models import forecast
    rng = np.random.default_rng(11)
    n = 200
    y = np.zeros(n)
    for t in range(1, n):
        y[t] = 5.0 + 0.8 * (y[t - 1] - 5.0) + rng.normal(0, 0.3)
    r = forecast(y, 7, "AutoARIMA")
    assert r.model_name == "AutoARIMA"
    assert np.all(np.isfinite(r.point))
    # 1-step forecast should track the AR pull toward the last value,
    # not the global mean
    assert abs(r.point[0] - (5.0 + 0.8 * (y[-1] - 5.0))) < 1.0


def test_detect_periods_multi_finds_both_periods():
    t = np.arange(280, dtype=float)
    y = (10.0 + 3.0 * np.sin(2 * np.pi * t / 7)
         + 2.0 * np.sin(2 * np.pi * t / 28))
    out = detect_periods(y, "multi")
    periods = [p["period"] for p in out["periods"]]
    assert out["n_periods"] >= 2
    assert any(abs(p - 7) <= 1 for p in periods)
    assert any(abs(p - 28) <= 2 for p in periods)
    # iterations are sequential and confidence-sorted output keeps the
    # strongest first
    assert out["primary_period"] == periods[0]


def test_detect_periods_label_aliases():
    """'regression' shares the fft branch; 'cfd_autoperiod' the autoperiod
    branch — only the echoed method label differs."""
    t = np.arange(140, dtype=float)
    y = 5.0 + np.sin(2 * np.pi * t / 7)
    a = detect_periods(y, "fft")
    b = detect_periods(y, "regression")
    assert a["primary_period"] == b["primary_period"]
    assert b["method"] == "regression"
    c = detect_periods(y, "autoperiod")
    d = detect_periods(y, "cfd_autoperiod")
    assert c["primary_period"] == d["primary_period"]


def test_conformal_asymmetric_sides(spark):
    """Biased-high forecasts -> negative residuals only: the upper margin
    must be 0 and the lower margin positive."""
    pdf = pd.DataFrame({
        "id": ["a"] * 50,
        "actual": np.linspace(10, 20, 50),
        "forecast": np.linspace(10, 20, 50) + 2.0,
    })
    df = spark.createDataFrame(pdf)
    out = ts_conformal_by(df, "id", "actual", "forecast", "forecast",
                          {"alpha": 0.1, "method": "asymmetric"}).toPandas()
    row = out.iloc[0]
    up_margin = row["upper"][0] - row["point"][0]
    lo_margin = row["point"][0] - row["lower"][0]
    assert up_margin == 0.0
    assert 1.5 <= lo_margin <= 2.5
    assert row["method"] == "asymmetric_conformal"


def test_conformal_asymmetric_calibration_coverage(spark):
    """Split-conformal invariant: with the (n+1)(1-a/2)/n corrected
    quantiles, calibration-set coverage is >= 1 - alpha."""
    rng = np.random.default_rng(3)
    n = 200
    actual = rng.normal(50, 5, n)
    forecast = actual + rng.normal(0.5, 2.0, n)  # biased + noisy
    pdf = pd.DataFrame({"id": ["s"] * n, "actual": actual,
                        "forecast": forecast})
    out = ts_conformal_by(spark.createDataFrame(pdf), "id", "actual",
                          "forecast", "forecast",
                          {"alpha": 0.1, "method": "asymmetric"}).toPandas()
    row = out.iloc[0]
    lo_m = row["point"][0] - row["lower"][0]
    up_m = row["upper"][0] - row["point"][0]
    covered = np.mean((actual >= forecast - lo_m) & (actual <= forecast + up_m))
    assert covered >= 0.9


def test_stl_sazed_find_weekly_period():
    t = np.arange(210, dtype=float)
    y = 20.0 + 5.0 * np.sin(2 * np.pi * t / 7) + 0.01 * t
    # sazed returns a FRACTIONAL period padded_len/k (periods.rs:1259-1330);
    # with n=210 the padded grid is 1024 bins so the resolution near 7 is
    # ~0.05 — assert the fractional estimate brackets the true period
    out = detect_periods(y, "sazed")
    assert abs(out["primary_period"] - 7.0) < 0.1
    assert out["periods"][0]["confidence"] > 0.5
    # stl maximizes decomposition strength over a candidate grid capped at
    # n/3 (ref periods.rs:952-1120); any harmonic multiple of the true
    # period fits perfectly, so assert period % 7 == 0 with high strength
    # — never the degenerate n/2 two-cycle fit the pre-r5 variant chose
    out = detect_periods(y, "stl")
    p = out["primary_period"]
    assert p % 7 == 0 and 4 <= p <= 70, p
    assert out["periods"][0]["confidence"] > 0.9


def test_monthly_forecast_clamps_month_ends(spark):
    """Aug-31 origin: future months clamp to each month's length
    (ref ts_forecast_native.cpp:683-715)."""
    dates = pd.date_range("2023-01-31", periods=8, freq="ME")
    pdf = pd.DataFrame({"id": [1] * 8, "ds": dates,
                        "y": np.arange(8, dtype=float) + 1})
    df = spark.createDataFrame(pdf)
    out = ts_forecast_by(df, "id", "ds", "y", "Naive", 7, "1mo") \
        .orderBy("forecast_step").toPandas()
    got = [d.strftime("%Y-%m-%d") for d in out["ds"]]
    assert got == ["2023-09-30", "2023-10-31", "2023-11-30", "2023-12-31",
                   "2024-01-31", "2024-02-29", "2024-03-31"]
