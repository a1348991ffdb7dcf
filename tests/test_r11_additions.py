"""Round-11 additions: the three r10 ADVICE fixes, regression-pinned.

1. ``validate_series`` parity on the SQL fast paths (fold models AND the
   window-template models): a series with zero valid observations emits
   NO forecast rows, exactly like the model-library path's per-series
   error isolation (ref ``forecast.rs:520-523``). Before the fix,
   Croston/TSB fabricated yhat=0.0 and SES/Naive emitted NULL rows.
2. Holt damped/phi surface agreement: ``ts_forecast_by`` (pure-Catalyst
   fold) and ``models.forecast`` (numpy) now honor ``damped``/``phi``
   identically — ``_PARAM_KEYS`` no longer strips them.
3. Multimodal stub control flow is explicit (no silent dependence on
   ``_decode_stub`` raising).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from anofox_forecast_spark.functions import models as M
from anofox_forecast_spark.operators.forecast import ts_forecast_by

# every model the SQL fast path serves: window-template + fold families
SQL_PATH_CASES = [
    ("Naive", {}),
    ("RandomWalkDrift", {}),
    ("SMA", {"window": 3}),
    ("SeasonalNaive", {"seasonal_period": 2}),
    ("SeasonalWindowAverage", {"seasonal_period": 2, "window": 2}),
    ("SES", {"alpha": 0.3}),
    ("CrostonClassic", {}),
    ("CrostonSBA", {}),
    ("TSB", {}),
    ("Holt", {"alpha": 0.3, "beta": 0.2}),
    ("SeasonalES", {"alpha": 0.3, "seasonal_period": 2}),
]


def _panel(spark):
    rows = []
    for i in range(6):                       # A: all-NULL y (0 valid points)
        rows.append(("A", dt.date(2024, 1, 1 + i), None))
    for i in range(8):                       # B: clean series
        rows.append(("B", dt.date(2024, 1, 1 + i), float(i % 3 + 1)))
    rows += [("C", dt.date(2024, 1, 1), 1.0),    # C: 2 rows (< 3 -> skip)
             ("C", dt.date(2024, 1, 2), 2.0)]
    for i in range(6):                       # D: 1 valid + 5 NULLs: post-
        rows.append(("D", dt.date(2024, 1, 1 + i),   # interp all-filled ->
                     2.5 if i == 2 else None))       # forecasts (numpy parity)
    return spark.createDataFrame(rows, "g string, ds date, y double")


@pytest.mark.parametrize("model,params", SQL_PATH_CASES)
def test_sql_path_skips_zero_observation_series(spark, model, params):
    """All-NULL series A and 2-row series C emit nothing; B and D emit
    exactly ``horizon`` rows each — mirroring ``validate_series``
    (interpolation fills D from its single valid point, so its
    post-interpolation finite count is 6 >= 3, same as np.interp)."""
    out = ts_forecast_by(_panel(spark), "g", "ds", "y", method=model,
                         horizon=3, frequency="1d", params=dict(params))
    rows = out.collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r["g"], []).append(r)
    assert set(by_g) == {"B", "D"}, f"{model}: got groups {sorted(by_g)}"
    assert len(by_g["B"]) == 3 and len(by_g["D"]) == 3
    for r in rows:
        assert r["yhat"] is not None and not np.isnan(r["yhat"])
    # D interpolates to a constant 2.5 -> point forecast 2.5 (CrostonSBA
    # damps its rate by 1 - alpha/2 = 0.95 by definition)
    expect_d = 2.5 * (0.95 if model == "CrostonSBA" else 1.0)
    assert all(r["yhat"] == pytest.approx(expect_d) for r in by_g["D"])


def test_sql_path_matches_udf_path_on_null_series_rowcounts(spark):
    """The UDF path (optimizer models) skips A and C via per-series error
    isolation; the SQL path must agree group-for-group."""
    df = _panel(spark)
    sql_out = ts_forecast_by(df, "g", "ds", "y", method="SES", horizon=2,
                             frequency="1d", params={"alpha": 0.3})
    udf_out = ts_forecast_by(df, "g", "ds", "y", method="SESOptimized",
                             horizon=2, frequency="1d")
    sql_groups = {r["g"] for r in sql_out.select("g").distinct().collect()}
    udf_groups = {r["g"] for r in udf_out.select("g").distinct().collect()}
    assert sql_groups == udf_groups == {"B", "D"}


def test_holt_damped_fold_matches_numpy_path(spark):
    """ts_forecast_by('Holt', {alpha, beta, damped, phi}) — the SQL fold —
    and models.forecast — the numpy path ts_forecast rides — now return
    the same damped trajectory (r10 ADVICE: _PARAM_KEYS stripped
    damped/phi, so the two surfaces disagreed for identical inputs)."""
    y = [1.0, 2.0, 3.5, 4.0, 5.5, 6.0, 7.5, 8.0]
    rows = [("S", dt.date(2024, 1, 1 + i), v) for i, v in enumerate(y)]
    df = spark.createDataFrame(rows, "g string, ds date, y double")
    for damped, phi in [(True, 0.9), (True, 0.98), (False, 0.9)]:
        p = {"alpha": 0.3, "beta": 0.2, "damped": damped, "phi": phi}
        got = ts_forecast_by(df, "g", "ds", "y", method="Holt", horizon=4,
                             frequency="1d", params=p).collect()
        got = [r["yhat"] for r in sorted(got, key=lambda r: r["forecast_step"])]
        ref = M.forecast(np.array(y), 4, "Holt", level=0.90, params=p)
        assert got == pytest.approx(list(ref.point), rel=1e-12), (damped, phi)
        # damping actually damps: step-4 increment < step-1 increment
        if damped:
            assert (got[3] - got[2]) < (got[1] - got[0])


def test_holt_damped_differs_from_undamped(spark):
    """Guard against silently ignoring the flag on either surface."""
    y = np.array([1.0, 2.0, 3.0, 4.0, 5.0, 6.0])
    base = {"alpha": 0.3, "beta": 0.2}
    undamped = M.forecast(y, 3, "Holt", params=dict(base))
    damped = M.forecast(y, 3, "Holt", params={**base, "damped": True,
                                              "phi": 0.9})
    assert list(damped.point) != pytest.approx(list(undamped.point))


def test_decode_stub_callsites_raise_not_fallthrough(spark):
    """Non-decodable payloads raise NotImplementedError from the worker —
    and the call sites no longer rely implicitly on the stub raising
    (explicit AssertionError barrier after each call)."""
    from anofox_forecast_spark.operators.multimodal import (audio_features,
                                                            frame_sample)
    df = spark.createDataFrame([(1, b"\x00\x01not-a-container")],
                               "doc_id int, media binary")
    for op in (frame_sample, audio_features):
        with pytest.raises(Exception) as ei:
            op(df, "media", "doc_id").collect()
        assert "NotImplementedError" in str(ei.value) or isinstance(
            ei.value, NotImplementedError)


def test_sql_path_interpolates_nan_like_numpy(spark):
    """Literal NaN (not NULL) in a nullable double column is missing on
    BOTH paths (r11 review finding): models.interpolate_nulls masks
    np.isnan, so interpolate_nulls_df must too — before the fix a
    NaN-bearing series either vanished (all-NaN-tail) or poisoned the
    folds with NaN yhats while numpy forecast real values."""
    import numpy as np

    from anofox_forecast_spark.functions import models as M
    nan = float("nan")
    ys = [1.0, nan, 3.0, nan, 5.0, 6.0]
    rows = [("S", dt.date(2024, 1, 1 + i), v) for i, v in enumerate(ys)]
    df = spark.createDataFrame(rows, "g string, ds date, y double")
    for model, params in [("SES", {"alpha": 0.3}), ("Naive", {}),
                          ("CrostonClassic", {}),
                          ("Holt", {"alpha": 0.3, "beta": 0.2})]:
        got = ts_forecast_by(df, "g", "ds", "y", method=model, horizon=3,
                             frequency="1d", params=dict(params)).collect()
        got = [r["yhat"] for r in sorted(got,
                                         key=lambda r: r["forecast_step"])]
        ref = M.forecast(np.array(ys), 3, model, level=0.90,
                         params=dict(params))
        assert got == pytest.approx(list(ref.point), rel=1e-9), model
        assert not any(np.isnan(v) for v in got), model
    # all-NaN series: skipped on both paths
    all_nan = spark.createDataFrame(
        [("A", dt.date(2024, 1, 1 + i), nan) for i in range(5)],
        "g string, ds date, y double")
    out = ts_forecast_by(all_nan, "g", "ds", "y", method="SES", horizon=2,
                         frequency="1d", params={"alpha": 0.3})
    assert out.count() == 0


def test_fold_aggregate_partitioning_invariant(spark):
    """The fold aggregate always repartitions by the series partition
    policy (batched.series_partitions), whatever the shuffle conf: at a
    starved conf (2) and an oversized one (32) the plan stays
    Python-free and the rows are bit-equal to the default conf's."""
    from anofox_forecast_spark import plans as P
    rows = [(g, dt.date(2024, 1, 1 + i), float((i * 7 + g) % 10))
            for g in range(20) for i in range(25)]
    df = spark.createDataFrame(rows, "g int, ds date, y double")
    key = lambda r: (r["g"], r["forecast_step"])  # noqa: E731

    def rows_of(out):
        return {key(r): (r["yhat"], r["yhat_lower"], r["yhat_upper"])
                for r in out.collect()}

    baseline = rows_of(ts_forecast_by(df, "g", "ds", "y", "SES", 5, "1d",
                                      {"alpha": 0.3}))
    assert len(baseline) == 20 * 5
    old = spark.conf.get("spark.sql.shuffle.partitions")
    for shuffle in ("2", "32"):
        try:
            spark.conf.set("spark.sql.shuffle.partitions", shuffle)
            out = ts_forecast_by(df, "g", "ds", "y", "SES", 5, "1d",
                                 {"alpha": 0.3})
            assert P.plan_report(out)["python_udf_nodes"] == 0, shuffle
            got = rows_of(out)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        # bit-equal, not approx: the fold is order-exact
        assert got == baseline, shuffle
