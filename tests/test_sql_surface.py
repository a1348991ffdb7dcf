"""SQL-string surface: ts_forecast_by UDTF + scalar metric functions."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from anofox_forecast_spark.functions.sql import register_all
from anofox_forecast_spark.sources import lineitem_panel, load_table
from tests.conftest import SF_DIR


def test_forecast_udtf_matches_dataframe_api(spark):
    register_all(spark)
    panel = lineitem_panel(spark, SF_DIR)
    panel.createOrReplaceTempView("sql_panel")
    sql_out = spark.sql(
        "SELECT * FROM ts_forecast_by(TABLE(sql_panel), 'id', 'ds', 'y', "
        "'Naive', 7, '1d')").toPandas()

    from anofox_forecast_spark.operators.forecast import ts_forecast_by
    df_out = ts_forecast_by(panel, "id", "ds", "y", "Naive", 7, "1d").toPandas()

    cols = ["id", "forecast_step", "yhat", "yhat_lower", "yhat_upper"]
    a = sql_out[cols].sort_values(["id", "forecast_step"]).reset_index(drop=True)
    b = df_out[cols].sort_values(["id", "forecast_step"]).reset_index(drop=True)
    assert len(a) == len(b) > 0
    import numpy as np
    for c in cols:
        np.testing.assert_allclose(a[c].astype(float), b[c].astype(float),
                                   rtol=1e-9, err_msg=c)


def test_scalar_metrics_sql(spark):
    register_all(spark)
    lineitem_panel(spark, SF_DIR).createOrReplaceTempView("sql_panel2")
    row = spark.sql(
        "SELECT ts_mae(collect_list(y), collect_list(y + 1.0)) AS mae, "
        "       ts_rmse(collect_list(y), collect_list(y + 1.0)) AS rmse, "
        "       ts_coverage(collect_list(y), collect_list(y - 1.0), "
        "                   collect_list(y + 1.0)) AS cov "
        "FROM sql_panel2").first()
    assert abs(row["mae"] - 1.0) < 1e-9
    assert abs(row["rmse"] - 1.0) < 1e-9
    assert row["cov"] == 1.0


def test_metrics_by_from_sql_grouped(spark):
    """The _by table form in SQL = GROUP BY + scalar metric over
    collect_list — same numbers as the DataFrame ts_mae_by."""
    register_all(spark)
    panel = lineitem_panel(spark, SF_DIR)
    panel.createOrReplaceTempView("sql_panel3")
    sql_out = spark.sql(
        "SELECT id, ts_mae(collect_list(y), collect_list(y * 1.1)) AS metric_value "
        "FROM sql_panel3 GROUP BY id").toPandas().set_index("id")

    from anofox_forecast_spark.functions.metrics import ts_mae_by
    fv = panel.withColumn("forecast", F.col("y") * 1.1) \
              .withColumnRenamed("y", "actual")
    df_out = ts_mae_by(fv, "ds", "actual", "forecast").toPandas().set_index("id")
    import numpy as np
    joined = sql_out.join(df_out, lsuffix="_sql")
    assert len(joined) == len(df_out) > 0
    np.testing.assert_allclose(joined["metric_value_sql"], joined["metric_value"],
                               rtol=1e-9)


def test_fill_gaps_udtf_matches_dataframe_api(spark):
    register_all(spark)
    panel = lineitem_panel(spark, SF_DIR)
    panel.createOrReplaceTempView("sql_panel4")
    sql_out = spark.sql(
        "SELECT * FROM ts_fill_gaps_by(TABLE(sql_panel4), 'id', 'ds', 'y', '1d')")
    from anofox_forecast_spark.operators.prep import ts_fill_gaps_by
    df_out = ts_fill_gaps_by(panel, "id", "ds", "y", "1d")
    assert sql_out.count() == df_out.count()
    a = sql_out.toPandas().sort_values(["id", "ds"]).reset_index(drop=True)
    b = df_out.select("id", "ds", "y").toPandas() \
              .sort_values(["id", "ds"]).reset_index(drop=True)
    assert (a["ds"] == b["ds"]).all()
    assert a["y"].isna().equals(b["y"].isna())


def test_cv_folds_udtf_matches_dataframe_api(spark):
    register_all(spark)
    panel = lineitem_panel(spark, SF_DIR)
    panel.createOrReplaceTempView("sql_panel5")
    sql_out = spark.sql(
        "SELECT * FROM ts_cv_folds_by(TABLE(sql_panel5), 'id', 'ds', 'y', 2, 7)")
    from anofox_forecast_spark.operators.cv import ts_cv_folds_by
    df_out = ts_cv_folds_by(panel, "id", "ds", "y", 2, 7)
    key = ["id", "ds", "fold_id", "split"]
    a = sql_out.select(*key).toPandas().sort_values(key).reset_index(drop=True)
    b = df_out.select(*key).toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert (a["split"] == b["split"]).all() and (a["fold_id"] == b["fold_id"]).all()


def test_stats_udtf_matches_dataframe_api(spark):
    """The SQL form and the DataFrame operator run one kernel: all 36
    statistics bit for bit, NaN where NaN."""
    import math

    from anofox_forecast_spark.operators.stats import (STATS_FIELDS,
                                                       ts_stats_by)
    register_all(spark)
    panel = lineitem_panel(spark, SF_DIR)
    panel.createOrReplaceTempView("sql_panel6")
    sql_out = spark.sql("SELECT * FROM ts_stats_by(TABLE(sql_panel6), "
                        "'id', 'ds', 'y', '1d')").collect()
    df_out = ts_stats_by(panel, "id", "ds", "y", "1d").collect()
    a = sorted(sql_out, key=lambda r: r["id"])
    b = sorted(df_out, key=lambda r: r["id"])
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra["id"] == rb["id"]
        for c, _ in STATS_FIELDS:
            x, y = ra[c], rb[c]
            if isinstance(x, float) and isinstance(y, float):
                assert x.hex() == y.hex() or (math.isnan(x)
                                              and math.isnan(y)), (c, x, y)
            else:
                assert x == y and type(x) is type(y), (c, x, y)


def _metric_frame(spark):
    import numpy as np
    rng = np.random.default_rng(17)
    rows = []
    for gid in (1, 2, 3):
        for ds in range(12):
            a = float(rng.normal(10, 3)) if gid < 3 else 0.0
            rows.append((gid, ds, a, a + float(rng.normal(0, 1)),
                         a - 1.0, a - 2.0, a + 2.0))
    return spark.createDataFrame(
        rows, "id int, ds int, actual double, forecast double, "
              "baseline double, lower double, upper double")


def test_sql_scalar_metrics_match_column_forms(spark):
    """Every SQL-UDF scalar metric == the Column-expression form on the
    same arrays (the two surfaces cannot drift)."""
    import numpy as np

    from anofox_forecast_spark.functions import metrics as MM
    register_all(spark)
    df = _metric_frame(spark)
    agg = df.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("ds", "actual", "forecast",
                                             "baseline", "lower", "upper")))
        .alias("s"))
    arrs = agg.select(
        "id",
        F.col("s.actual").alias("a"), F.col("s.forecast").alias("f"),
        F.col("s.baseline").alias("b"), F.col("s.lower").alias("lo"),
        F.col("s.upper").alias("up"))
    arrs.createOrReplaceTempView("sql_arrs")
    col_out = arrs.select(
        "id",
        MM.ts_mae(F.col("a"), F.col("f")).alias("mae"),
        MM.ts_mse(F.col("a"), F.col("f")).alias("mse"),
        MM.ts_rmse(F.col("a"), F.col("f")).alias("rmse"),
        MM.ts_mape(F.col("a"), F.col("f")).alias("mape"),
        MM.ts_smape(F.col("a"), F.col("f")).alias("smape"),
        MM.ts_r2(F.col("a"), F.col("f")).alias("r2"),
        MM.ts_bias(F.col("a"), F.col("f")).alias("bias"),
        MM.ts_mase(F.col("a"), F.col("f"), F.col("b")).alias("mase"),
        MM.ts_rmae(F.col("a"), F.col("f"), F.col("b")).alias("rmae"),
        MM.ts_quantile_loss(F.col("a"), F.col("f"), 0.9).alias("qloss"),
        MM.ts_mqloss(F.col("a"), F.array(F.col("f"), F.col("b")),
                     F.array(F.lit(0.1), F.lit(0.9))).alias("mqloss"),
        MM.ts_coverage(F.col("a"), F.col("lo"), F.col("up")).alias("cov"),
    ).toPandas().set_index("id").sort_index()
    sql_out = spark.sql(
        "SELECT id, ts_mae(a, f) AS mae, ts_mse(a, f) AS mse, "
        "ts_rmse(a, f) AS rmse, ts_mape(a, f) AS mape, "
        "ts_smape(a, f) AS smape, ts_r2(a, f) AS r2, ts_bias(a, f) AS bias, "
        "ts_mase(a, f, b) AS mase, ts_rmae(a, f, b) AS rmae, "
        "ts_quantile_loss(a, f, 0.9D) AS qloss, "
        "ts_mqloss(a, array(f, b), array(0.1D, 0.9D)) AS mqloss, "
        "ts_coverage(a, lo, up) AS cov FROM sql_arrs"
    ).toPandas().set_index("id").sort_index()
    for c in col_out.columns:
        np.testing.assert_allclose(sql_out[c], col_out[c], rtol=1e-9,
                                   err_msg=c)


def test_metric_by_udtfs_match_dataframe_forms(spark):
    import numpy as np

    from anofox_forecast_spark.functions import metrics as MM
    register_all(spark)
    df = _metric_frame(spark)
    df.createOrReplaceTempView("mbv")
    plain = [("ts_mae_by", MM.ts_mae_by), ("ts_mse_by", MM.ts_mse_by),
             ("ts_rmse_by", MM.ts_rmse_by), ("ts_mape_by", MM.ts_mape_by),
             ("ts_smape_by", MM.ts_smape_by), ("ts_r2_by", MM.ts_r2_by),
             ("ts_bias_by", MM.ts_bias_by)]
    base = df.select("id", "ds", "actual", "forecast")
    for name, fn in plain:
        got = spark.sql(
            f"SELECT * FROM {name}(TABLE(mbv), 'id', 'actual', 'forecast')"
        ).toPandas().set_index("id").sort_index()
        want = (fn(base, "ds", "actual", "forecast")
                .toPandas().set_index("id").sort_index())
        np.testing.assert_allclose(got["metric_value"],
                                   want["metric_value"], rtol=1e-9,
                                   err_msg=name)
    got = spark.sql(
        "SELECT * FROM ts_mase_by(TABLE(mbv), 'id', 'actual', 'forecast', "
        "'baseline')").toPandas().set_index("id").sort_index()
    want = (MM.ts_mase_by(df.select("id", "ds", "actual", "forecast",
                                    "baseline"),
                          "ds", "actual", "forecast", "baseline")
            .toPandas().set_index("id").sort_index())
    np.testing.assert_allclose(got["metric_value"], want["metric_value"],
                               rtol=1e-9, err_msg="ts_mase_by")
    got = spark.sql(
        "SELECT * FROM ts_coverage_by(TABLE(mbv), 'id', 'actual', 'lower', "
        "'upper')").toPandas().set_index("id").sort_index()
    want = (MM.ts_coverage_by(df.select("id", "ds", "actual", "lower",
                                        "upper"),
                              "ds", "actual", "lower", "upper")
            .toPandas().set_index("id").sort_index())
    np.testing.assert_allclose(got["metric_value"], want["metric_value"],
                               rtol=1e-9, err_msg="ts_coverage_by")
    got = spark.sql(
        "SELECT * FROM ts_mqloss_by(TABLE(mbv), 'id', 'actual', "
        "'forecast,baseline', '0.1,0.9')").toPandas() \
        .set_index("id").sort_index()
    want = (MM.ts_mqloss_by(df.select("id", "ds", "actual", "forecast",
                                      "baseline"),
                            "ds", "actual", ["forecast", "baseline"],
                            [0.1, 0.9])
            .toPandas().set_index("id").sort_index())
    np.testing.assert_allclose(got["metric_value"], want["metric_value"],
                               rtol=1e-9, err_msg="ts_mqloss_by")


def test_prep_udtfs_match_dataframe_forms(spark):
    import numpy as np

    from anofox_forecast_spark.operators import prep as P
    register_all(spark)
    rows = [(1, 1, 1.0), (1, 2, None), (1, 3, 3.0), (1, 4, None),
            (2, 1, 5.0), (2, 2, 5.0), (2, 3, 5.0),
            (3, 1, 0.0), (3, 2, 0.0),
            (4, 1, None), (4, 2, 8.0), (4, 3, 2.0), (4, 4, 4.0)]
    df = spark.createDataFrame(rows, "id int, ds int, y double")
    df.createOrReplaceTempView("ppv")

    fills = [
        ("ts_fill_nulls_forward_by(TABLE(ppv), 'id', 'ds', 'y')",
         P.ts_fill_nulls_forward_by(df, "id", "ds", "y")),
        ("ts_fill_nulls_backward_by(TABLE(ppv), 'id', 'ds', 'y')",
         P.ts_fill_nulls_backward_by(df, "id", "ds", "y")),
        ("ts_fill_nulls_mean_by(TABLE(ppv), 'id', 'ds', 'y')",
         P.ts_fill_nulls_mean_by(df, "id", "ds", "y")),
        ("ts_fill_nulls_const_by(TABLE(ppv), 'id', 'ds', 'y', '7.5')",
         P.ts_fill_nulls_const_by(df, "id", "ds", "y", 7.5)),
        ("ts_interpolate_by(TABLE(ppv), 'id', 'ds', 'y')",
         P.ts_interpolate_by(df, "id", "ds", "y")),
    ]
    for sql, want_df in fills:
        got = spark.sql(f"SELECT id, ds, filled_value FROM {sql}") \
            .toPandas().sort_values(["id", "ds"]).reset_index(drop=True)
        want = want_df.select("id", "ds", "filled_value").toPandas() \
            .sort_values(["id", "ds"]).reset_index(drop=True)
        np.testing.assert_allclose(got["filled_value"].astype(float),
                                   want["filled_value"].astype(float),
                                   rtol=1e-9, err_msg=sql)

    got = spark.sql("SELECT * FROM ts_diff_by(TABLE(ppv), 'id', 'ds', 'y', "
                    "'1')").toPandas().sort_values(["id", "ds"]) \
        .reset_index(drop=True)
    want = P.ts_diff_by(df, "id", "ds", "y", 1).toPandas() \
        .sort_values(["id", "ds"]).reset_index(drop=True)
    np.testing.assert_allclose(got["diff_value"].astype(float),
                               want["diff_value"].astype(float), rtol=1e-9)

    drops = [
        ("ts_drop_constant_by(TABLE(ppv), 'id', 'ds', 'y')",
         P.ts_drop_constant_by(df, "id", "y")),
        ("ts_drop_short_by(TABLE(ppv), 'id', 'ds', 'y', '3')",
         P.ts_drop_short_by(df, "id", 3)),
        ("ts_drop_gappy_by(TABLE(ppv), 'id', 'ds', 'y', '0.3')",
         P.ts_drop_gappy_by(df, "id", "y", 0.3)),
        ("ts_drop_zeros_by(TABLE(ppv), 'id', 'ds', 'y')",
         P.ts_drop_zeros_by(df, "id", "y")),
    ]
    for sql, want_df in drops:
        got = spark.sql(f"SELECT id, ds FROM {sql}").toPandas() \
            .sort_values(["id", "ds"]).reset_index(drop=True)
        want = want_df.select("id", "ds").toPandas() \
            .sort_values(["id", "ds"]).reset_index(drop=True)
        assert got.values.tolist() == want.values.tolist(), sql


def test_detect_periods_udtf_matches_dataframe(spark):
    import numpy as np

    from anofox_forecast_spark.operators.detect import ts_detect_periods_by
    register_all(spark)
    t = np.arange(96)
    rows = [(1, int(i), float(100 + 10 * np.sin(2 * np.pi * i / 12)))
            for i in t] + \
           [(2, int(i), float(50 + 5 * np.cos(2 * np.pi * i / 8)))
            for i in t]
    df = spark.createDataFrame(rows, "id int, ds int, y double")
    df.createOrReplaceTempView("dpv")
    got = spark.sql(
        "SELECT id, period, primary_period FROM "
        "ts_detect_periods(TABLE(dpv), 'id', 'ds', 'y', 'fft')"
    ).toPandas().sort_values(["id", "period"]).reset_index(drop=True)
    want = (ts_detect_periods_by(df, "id", "ds", "y", {"method": "fft"})
            .select("id", "period", "primary_period").toPandas()
            .sort_values(["id", "period"]).reset_index(drop=True))
    assert got.values.tolist() == want.values.tolist()


def test_forecast_udtf_optional_level_and_params(spark):
    register_all(spark)
    lineitem_panel(spark, SF_DIR).createOrReplaceTempView("sql_panel_opt")
    base = ("SELECT * FROM ts_forecast_by(TABLE(sql_panel_opt), 'id', 'ds', "
            "'y', 'SMA', 5, '1d'{extra}) WHERE forecast_step = 1")
    d90 = spark.sql(base.format(extra="")).toPandas().set_index("id")
    d50 = spark.sql(base.format(extra=", '0.5'")).toPandas().set_index("id")
    # lower confidence -> strictly narrower intervals (same point forecast)
    import numpy as np
    common = d90.index.intersection(d50.index)
    w90 = (d90.loc[common, "yhat_upper"] - d90.loc[common, "yhat_lower"])
    w50 = (d50.loc[common, "yhat_upper"] - d50.loc[common, "yhat_lower"])
    np.testing.assert_allclose(d90.loc[common, "yhat"],
                               d50.loc[common, "yhat"], rtol=1e-9)
    assert (w50.to_numpy() <= w90.to_numpy() + 1e-12).all()
    assert (w50.to_numpy() < w90.to_numpy()).any()
    # params JSON reaches the model: SMA window 2 vs default 5 differs
    dw = spark.sql(base.format(extra=", '0.9', '{\"window\": 2}'")) \
        .toPandas().set_index("id")
    assert not np.allclose(dw.loc[common, "yhat"], d90.loc[common, "yhat"])


def test_sql_scalar_metrics_edge_cases(spark):
    """Adversarial inputs hit every zero-denominator branch: the SQL UDFs
    must agree with the Column forms on NaN semantics, not just happy
    paths."""
    import numpy as np

    from anofox_forecast_spark.functions import metrics as MM
    register_all(spark)
    cases = [
        ("zeros_actual", [0.0, 0.0, 0.0], [1.0, -1.0, 0.5]),      # mape NaN
        ("both_zero", [0.0, 0.0], [0.0, 0.0]),                    # smape NaN
        ("constant_actual", [5.0, 5.0, 5.0], [4.0, 6.0, 5.0]),    # r2 NaN
        ("perfect", [1.5, -2.5, 3.0], [1.5, -2.5, 3.0]),          # mase NaN
        ("tiny", [1e-18, -1e-18], [1e-18, 1e-18]),                # < EPS
        ("negatives", [-3.0, -7.0, -1.0], [-2.0, -8.0, -1.5]),
    ]
    rows = [(name, a, f) for name, a, f in cases]
    df = spark.createDataFrame(
        rows, "name string, a array<double>, f array<double>")
    df.createOrReplaceTempView("edge_arrs")
    sql_out = spark.sql(
        "SELECT name, ts_mae(a, f) AS mae, ts_mape(a, f) AS mape, "
        "ts_smape(a, f) AS smape, ts_r2(a, f) AS r2, "
        "ts_mase(a, f, a) AS mase, ts_rmae(a, f, a) AS rmae "
        "FROM edge_arrs").toPandas().set_index("name").sort_index()
    col_out = df.select(
        "name",
        MM.ts_mae(F.col("a"), F.col("f")).alias("mae"),
        MM.ts_mape(F.col("a"), F.col("f")).alias("mape"),
        MM.ts_smape(F.col("a"), F.col("f")).alias("smape"),
        MM.ts_r2(F.col("a"), F.col("f")).alias("r2"),
        MM.ts_mase(F.col("a"), F.col("f"), F.col("a")).alias("mase"),
        MM.ts_rmae(F.col("a"), F.col("f"), F.col("a")).alias("rmae"),
    ).toPandas().set_index("name").sort_index()
    for c in col_out.columns:
        np.testing.assert_allclose(sql_out[c], col_out[c], rtol=1e-9,
                                   err_msg=c)  # equal_nan=True by default
    # the branches actually fired
    assert math.isnan(sql_out.loc["zeros_actual", "mape"])
    assert math.isnan(sql_out.loc["both_zero", "smape"])
    assert math.isnan(sql_out.loc["constant_actual", "r2"])
    assert math.isnan(sql_out.loc["perfect", "mase"])


# ---------------------------------------------------------------------------
# Round-4 surface expansion: detection / hierarchy / conformal / cv UDTFs
# pinned SQL == DataFrame, plus the anofox_fcst_* alias for every name.
# ---------------------------------------------------------------------------

def _cmp(spark, sql_text, want_df, cols, sort_cols=None, rtol=1e-9):
    import numpy as np
    import pandas as pd
    got = spark.sql(sql_text).toPandas()
    want = want_df.toPandas()
    sort_cols = sort_cols or cols
    got = got[cols].sort_values(sort_cols).reset_index(drop=True)
    want = want[cols].sort_values(sort_cols).reset_index(drop=True)
    assert len(got) == len(want) > 0, \
        f"{sql_text}: {len(got)} vs {len(want)} rows"
    for c in cols:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            np.testing.assert_allclose(a.astype(float), b.astype(float),
                                       rtol=rtol, equal_nan=True,
                                       err_msg=f"{sql_text}: {c}")
        else:
            assert a.astype(str).tolist() == b.astype(str).tolist(), \
                f"{sql_text}: {c}"


def _small_panel(spark, n_ids=6):
    return lineitem_panel(spark, SF_DIR).filter(F.col("id") < n_ids)


def test_detection_udtfs_match_dataframe(spark):
    from anofox_forecast_spark.operators import detect as D
    register_all(spark)
    panel = _small_panel(spark)
    panel.createOrReplaceTempView("det_panel")
    _cmp(spark,
         "SELECT id, primary_period, seasonal_strength, trend_strength "
         "FROM ts_analyze_seasonality_by(TABLE(det_panel), 'id', 'ds', 'y')",
         D.ts_analyze_seasonality_by(panel, "id", "ds", "y"),
         ["id", "primary_period", "seasonal_strength", "trend_strength"],
         ["id"])
    _cmp(spark,
         "SELECT * FROM ts_classify_seasonality_by(TABLE(det_panel), 'id', "
         "'ds', 'y', '7')",
         D.ts_classify_seasonality_by(panel, "id", "ds", "y", 7),
         ["id", "classification", "additive_strength",
          "multiplicative_strength"], ["id"])
    _cmp(spark,
         "SELECT * FROM ts_seasonal_strength_by(TABLE(det_panel), 'id', "
         "'ds', 'y', '7')",
         D.ts_seasonal_strength_by(panel, "id", "ds", "y", 7),
         ["id", "seasonal_strength"], ["id"])
    _cmp(spark,
         "SELECT id, ds, y, trend, detrended FROM ts_detrend_by("
         "TABLE(det_panel), 'id', 'ds', 'y', 'linear')",
         D.ts_detrend_by(panel, "id", "ds", "y", {"method": "linear"}),
         ["id", "y", "trend", "detrended"], ["id", "trend"])
    _cmp(spark,
         "SELECT id, y, trend, seasonal, remainder FROM "
         "ts_decompose_seasonal_by(TABLE(det_panel), 'id', 'ds', 'y', '7')",
         D.ts_decompose_seasonal_by(panel, "id", "ds", "y", 7),
         ["id", "y", "trend", "seasonal", "remainder"],
         ["id", "trend", "seasonal"])
    _cmp(spark,
         "SELECT id, y, peak_index, prominence FROM ts_detect_peaks_by("
         "TABLE(det_panel), 'id', 'ds', 'y', '10.0')",
         D.ts_detect_peaks_by(panel, "id", "ds", "y",
                              {"min_prominence": 10.0}),
         ["id", "y", "peak_index", "prominence"], ["id", "peak_index"])
    _cmp(spark,
         "SELECT id, is_changepoint, changepoint_probability FROM "
         "ts_detect_changepoints_by(TABLE(det_panel), 'id', 'ds', 'y', '5')",
         D.ts_detect_changepoints_by(panel, "id", "ds", "y",
                                     {"min_size": 5}),
         ["id", "is_changepoint", "changepoint_probability"],
         ["id", "is_changepoint", "changepoint_probability"])
    _cmp(spark,
         "SELECT id, period, frequency, amplitude FROM "
         "ts_instantaneous_period_by(TABLE(det_panel), 'id', 'ds', 'y')",
         D.ts_instantaneous_period_by(panel, "id", "ds", "y"),
         ["id", "period", "frequency", "amplitude"],
         ["id", "frequency", "amplitude"], rtol=1e-6)


def test_hierarchy_udtfs_match_dataframe(spark):
    from anofox_forecast_spark.operators import hierarchy as H
    register_all(spark)
    rows = [("r1", "s1", 1, 10.0), ("r1", "s2", 1, 20.0),
            ("r2", "s1", 1, 5.0), ("r1", "s1", 2, 1.0),
            (None, "s9", 2, 7.0)]
    df = spark.createDataFrame(rows, "region string, store string, ds int, "
                                     "y double")
    df.createOrReplaceTempView("hier_t")
    _cmp(spark,
         "SELECT * FROM ts_combine_keys(TABLE(hier_t), 'region,store', "
         "'ds', 'y', '|')",
         H.ts_combine_keys(df, ["region", "store"], "ds", "y", "|"),
         ["unique_id", "ds", "y"])
    _cmp(spark,
         "SELECT * FROM ts_aggregate_hierarchy(TABLE(hier_t), "
         "'region,store', 'ds', 'y', '|', 'AGGREGATED')",
         H.ts_aggregate_hierarchy(df, ["region", "store"], "ds", "y", "|",
                                  "AGGREGATED"),
         ["unique_id", "ds", "y"])
    comb = H.ts_combine_keys(df.filter(F.col("region").isNotNull()),
                             ["region", "store"], "ds", "y", "|")
    comb.createOrReplaceTempView("hier_c")
    _cmp(spark,
         "SELECT id_part_1, id_part_2, ds, y FROM ts_split_keys("
         "TABLE(hier_c), 'unique_id', 'ds', 'y', '|', '2')",
         H.ts_split_keys(comb, "unique_id", "ds", "y", "|", n_parts=2),
         ["id_part_1", "id_part_2", "ds", "y"])
    _cmp(spark,
         "SELECT separator, is_valid, n_conflicts, message FROM "
         "ts_validate_separator(TABLE(hier_t), 'region,store', '|')",
         H.ts_validate_separator(df, ["region", "store"], "|"),
         ["separator", "is_valid", "n_conflicts", "message"])


def test_conformal_udtfs_match_dataframe(spark):
    from anofox_forecast_spark.operators import conformal as C
    register_all(spark)
    from pyspark.sql import Window
    panel = _small_panel(spark)
    w = Window.partitionBy("id").orderBy("ds")
    fv = (panel.withColumn("forecast", F.lag("y", 7).over(w))
               .filter(F.col("forecast").isNotNull())
               .withColumnRenamed("y", "actual")
               .withColumn("lower", F.col("forecast") - 5.0)
               .withColumn("upper", F.col("forecast") + 5.0)
               .select("id", "ds", "actual", "forecast", "lower", "upper"))
    fv.createOrReplaceTempView("conf_t")
    got = spark.sql(
        "SELECT id, coverage, conformity_score, method FROM ts_conformal_by("
        "TABLE(conf_t), 'id', 'actual', 'forecast', 'forecast', '0.1')")
    want = C.ts_conformal_by(fv, "id", "actual", "forecast", "forecast",
                             {"alpha": 0.1}) \
            .select("id", "coverage", "conformity_score", "method")
    import numpy as np
    a = got.toPandas().sort_values("id").reset_index(drop=True)
    b = want.toPandas().sort_values("id").reset_index(drop=True)
    assert len(a) == len(b) > 0
    np.testing.assert_allclose(a["conformity_score"], b["conformity_score"],
                               rtol=1e-9)
    assert (a["method"] == b["method"]).all()
    _cmp(spark,
         "SELECT * FROM ts_conformal_coverage_by(TABLE(conf_t), 'id', "
         "'actual', 'lower', 'upper')",
         C.ts_conformal_coverage_by(fv, "id", "actual", "lower", "upper"),
         ["id", "coverage"], ["id"])
    _cmp(spark,
         "SELECT * FROM ts_interval_width_by(TABLE(conf_t), 'id', 'lower', "
         "'upper')",
         C.ts_interval_width_by(fv, "id", "lower", "upper"),
         ["id", "mean_width", "n_intervals"], ["id"])
    _cmp(spark,
         "SELECT * FROM ts_conformal_evaluate(TABLE(conf_t), 'id', "
         "'actual', 'lower', 'upper', '0.1')",
         C.ts_conformal_evaluate(fv, "id", "actual", "lower", "upper", 0.1),
         ["id", "coverage", "mean_width", "winkler_score"], ["id"])


def test_cv_udtfs_match_dataframe(spark):
    from anofox_forecast_spark.operators import cv as CV
    register_all(spark)
    panel = _small_panel(spark)
    panel.createOrReplaceTempView("cvu_t")
    _cmp(spark,
         "SELECT id, ds, y, fold_id, split FROM ts_cv_split_index_by("
         "TABLE(cvu_t), 'id', 'ds', 'y', '500,550', '7')",
         CV.ts_cv_split_index_by(panel, "id", "ds", "y", [500, 550], 7),
         ["id", "ds", "y", "fold_id", "split"])
    _cmp(spark,
         "SELECT id, fold_id, ds, yhat, actual, error, abs_error, "
         "model_name FROM ts_backtest_auto_by(TABLE(cvu_t), 'id', 'ds', "
         "'y', 'Naive', '7', '2')",
         CV.ts_backtest_auto_by(panel, "id", "ds", "y", "Naive", 7, 2),
         ["id", "fold_id", "yhat", "actual", "error", "abs_error",
          "model_name"], ["id", "fold_id", "actual", "yhat"])


def test_prep_zero_trim_udtfs_match_dataframe(spark):
    from anofox_forecast_spark.operators import prep as P
    register_all(spark)
    rows = [(1, 1, 0.0), (1, 2, 0.0), (1, 3, 5.0), (1, 4, 0.0), (1, 5, 2.0),
            (1, 6, 0.0), (2, 1, 0.0), (2, 2, 0.0), (3, 1, 1.0), (3, 2, 0.0)]
    df = spark.createDataFrame(rows, "id int, ds int, y double")
    df.createOrReplaceTempView("trim_t")
    for sql_name, want_df in [
        ("ts_drop_leading_zeros_by",
         P.ts_drop_leading_zeros_by(df, "id", "ds", "y")),
        ("ts_drop_trailing_zeros_by",
         P.ts_drop_trailing_zeros_by(df, "id", "ds", "y")),
        ("ts_drop_edge_zeros_by",
         P.ts_drop_edge_zeros_by(df, "id", "ds", "y")),
    ]:
        _cmp(spark,
             f"SELECT id, ds, y FROM {sql_name}(TABLE(trim_t), 'id', 'ds', "
             "'y')", want_df, ["id", "ds", "y"])


def test_surface_name_count_and_aliases(spark):
    from anofox_forecast_spark.functions.sql import REGISTERED_NAMES
    register_all(spark)
    assert len(REGISTERED_NAMES) >= 60, \
        f"SQL surface shrank: {len(REGISTERED_NAMES)} names"
    # every name answers under its anofox_fcst_ alias too (spot-check one
    # from each registration mechanism: scalar SQL UDF and UDTF)
    lineitem_panel(spark, SF_DIR).filter(F.col("id") < 3) \
        .createOrReplaceTempView("alias_t")
    r1 = spark.sql("SELECT anofox_fcst_ts_mae(array(1.0d, 2.0d), "
                   "array(2.0d, 4.0d)) AS v").first()["v"]
    assert abs(r1 - 1.5) < 1e-12
    n = spark.sql("SELECT * FROM anofox_fcst_ts_forecast_by(TABLE(alias_t), "
                  "'id', 'ds', 'y', 'Naive', 7, '1d')").count()
    assert n > 0


# ---------------------------------------------------------------------------
# beyond-parity families on the SQL surface (r8): events_*, search_*
# ---------------------------------------------------------------------------

def _pd_sorted(df, cols):
    return (df.toPandas()[cols].sort_values(cols)
              .reset_index(drop=True))


def test_events_sessionize_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.events import sessionize
    from anofox_forecast_spark.sources import events_table
    ev = events_table(spark, SF_DIR).select("user_id", "ts", "event_type")
    ev.createOrReplaceTempView("sess_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM events_sessionize(TABLE(sess_sql_t), 'user_id', "
        "'ts', 1800.0)")
    df_out = sessionize(ev, "user_id", "ts", 1800.0)
    cols = ["user_id", "ts", "event_type", "is_session_start", "session_seq"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    assert a.astype(str).equals(b.astype(str))


def test_events_asof_join_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.events import asof_join
    from anofox_forecast_spark.sources import events_table
    e = events_table(spark, SF_DIR)
    left = (e.filter(F.col("event_type") == "purchase")
             .select("event_id", "user_id", "ts", "value"))
    right = (e.filter(F.col("event_type") == "click")
              .select("user_id", "ts", F.col("value").alias("click_value")))
    df_out = asof_join(left, right, "user_id", "ts", ["click_value"],
                       tolerance_seconds=7 * 86400.0)
    # union-tagged SQL encoding (what the DataFrame op builds internally)
    l = (left.withColumn("side", F.lit(1))
             .withColumn("click_value", F.lit(None).cast("double")))
    r = right.select(
        "user_id", "ts", F.lit(0).alias("side"), "click_value",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"))
    l.unionByName(r).createOrReplaceTempView("asof_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM events_asof_join(TABLE(asof_sql_t), 'user_id', "
        "'ts', 'side', '[\"click_value\"]', 'backward', 604800.0)")
    cols = ["event_id", "user_id", "ts", "value", "click_value",
            "matched_ts"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    assert a.astype(str).equals(b.astype(str))


def test_events_time_rollup_udtf_matches_dataframe(spark):
    register_all(spark)
    import numpy as np
    from anofox_forecast_spark.operators.events import time_rollup
    from anofox_forecast_spark.sources import events_table
    ev = events_table(spark, SF_DIR)
    df_out = time_rollup(ev, "ts", "value", ("hour", "day", "week"),
                         key_cols=["event_type"])
    ev.createOrReplaceTempView("rollup_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM events_time_rollup(TABLE(rollup_sql_t), 'ts', "
        "'value', '[\"hour\", \"day\", \"week\"]', 'event_type')")
    cols = ["granularity", "bucket", "event_type", "n",
            "value_sum", "value_min", "value_max"]
    key = ["granularity", "bucket", "event_type"]
    a = sql_out.toPandas()[cols].sort_values(key).reset_index(drop=True)
    b = df_out.toPandas()[cols].sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert a[key + ["n"]].astype(str).equals(b[key + ["n"]].astype(str))
    for c in ("value_sum", "value_min", "value_max"):
        np.testing.assert_allclose(a[c].astype(float), b[c].astype(float),
                                   rtol=1e-9, err_msg=c)


def test_search_bm25_udtf_matches_dataframe(spark):
    register_all(spark)
    import numpy as np
    from anofox_forecast_spark.operators.search import bm25_score
    from anofox_forecast_spark.sources import load_table
    docs = load_table(spark, SF_DIR, "documents")
    df_out = bm25_score(docs, "doc_id", "text", ["spark", "join"])
    docs.createOrReplaceTempView("bm25_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM search_bm25(TABLE(bm25_sql_t), 'doc_id', 'text', "
        "'[\"spark\", \"join\"]')")
    a = _pd_sorted(sql_out, ["doc_id", "score"])
    b = _pd_sorted(df_out, ["doc_id", "score"])
    assert len(a) == len(b) > 0
    assert a["doc_id"].equals(b["doc_id"])
    np.testing.assert_allclose(a["score"].astype(float),
                               b["score"].astype(float), rtol=1e-12)


def test_events_funnel_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.events import funnel
    from anofox_forecast_spark.sources import events_table
    ev = (events_table(spark, SF_DIR)
          .filter(F.col("event_type").isin("signup", "click", "purchase"))
          .select("user_id", "ts", "event_type"))
    df_out = funnel(ev, "user_id", "ts", "event_type",
                    ["signup", "click", "purchase"],
                    within_seconds=604800.0, max_events_per_key=25)
    ev.createOrReplaceTempView("funnel_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM events_funnel(TABLE(funnel_sql_t), 'user_id', "
        "'ts', 'event_type', '[\"signup\", \"click\", \"purchase\"]', "
        "604800.0, 25)")
    cols = ["user_id", "steps_completed", "converted",
            "step_1_ts", "step_2_ts", "step_3_ts"]
    a = _pd_sorted(sql_out, cols)
    b = _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    assert a.astype(str).equals(b.astype(str))


# --- r9 registrations: retention / transitions / gopher / c4 / dup_spans
# / hll / skew_report (SQL==DataFrame pins) ---

def test_events_retention_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.events import retention
    from anofox_forecast_spark.sources import events_table
    ev = events_table(spark, SF_DIR).select("user_id", "ts")
    df_out = retention(ev, "user_id", "ts", cohort_grain="week",
                       max_periods=8)
    ev.createOrReplaceTempView("ret_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM events_retention(TABLE(ret_sql_t), 'user_id', "
        "'ts', 'week', 8)")
    cols = ["cohort", "period", "n_active", "cohort_size",
            "retention_rate"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    assert a.astype(str).equals(b.astype(str))


def test_events_transitions_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.events import event_transitions
    from anofox_forecast_spark.sources import events_table
    # unique (user, ts) — duplicate timestamps have unspecified walk
    # order on BOTH paths (documented)
    ev = (events_table(spark, SF_DIR)
          .groupBy("user_id", "ts").agg(F.min("event_type")
                                        .alias("event_type")))
    df_out = event_transitions(ev, "user_id", "ts", "event_type")
    ev.createOrReplaceTempView("trans_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM events_transitions(TABLE(trans_sql_t), "
        "'user_id', 'ts', 'event_type')")
    cols = ["from_type", "to_type", "n_transitions", "probability"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    assert list(a["from_type"]) == list(b["from_type"])
    assert list(a["n_transitions"]) == list(b["n_transitions"])
    np.testing.assert_allclose(a["probability"].astype(float),
                               b["probability"].astype(float), rtol=0)


def test_pipeline_gopher_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.pipeline import gopher_stats
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    df_out = gopher_stats(docs, "doc_id", "text")
    docs.createOrReplaceTempView("gopher_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM pipeline_gopher_stats(TABLE(gopher_sql_t), "
        "'doc_id', 'text')")
    cols = df_out.columns
    assert sql_out.columns == cols
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    for c in cols:
        if a[c].dtype.kind == "f":
            np.testing.assert_allclose(a[c], b[c], rtol=0, err_msg=c)
        else:
            assert a[c].astype(str).equals(b[c].astype(str)), c


def test_pipeline_c4_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.pipeline import c4_stats
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    df_out = c4_stats(docs, "doc_id", "text")
    docs.createOrReplaceTempView("c4_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM pipeline_c4_stats(TABLE(c4_sql_t), "
        "'doc_id', 'text')")
    cols = df_out.columns
    assert sql_out.columns == cols
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    assert a.astype(str).equals(b.astype(str))


def test_pipeline_dup_spans_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.pipeline import dup_spans
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    docs.createOrReplaceTempView("spans_sql_t")
    for kf in (False, True):
        df_out = dup_spans(docs, "doc_id", "text", k=5, min_count=2,
                           keep_first=kf)
        sql_out = spark.sql(
            "SELECT * FROM pipeline_dup_spans(TABLE(spans_sql_t), "
            f"'doc_id', 'text', 5, 2, {str(kf).lower()})")
        cols = ["doc_id", "span_start", "span_end", "span_tokens"]
        a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
        assert len(a) == len(b) > 0, f"keep_first={kf}"
        assert a.equals(b), f"keep_first={kf}"


def test_stats_hll_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.stats import hll_count_distinct
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    docs.createOrReplaceTempView("hll_sql_t")
    # grouped: one exchange on the group col (same plan family as the op)
    df_g = hll_count_distinct(docs, "doc_id", ["lang"], precision_bits=8)
    sql_g = spark.sql(
        "SELECT * FROM stats_hll_distinct(TABLE(hll_sql_t), 'doc_id', "
        "8, 'hll', 'lang')")
    cols = ["lang", "hll_estimate", "n_buckets_used"]
    a, b = _pd_sorted(sql_g, cols), _pd_sorted(df_g, cols)
    assert len(a) == len(b) > 0
    assert list(a["lang"]) == list(b["lang"])
    assert list(a["n_buckets_used"]) == list(b["n_buckets_used"])
    # ln may differ in its last ulp between JVM and libm — everything
    # else in the estimator is bit-pinned
    np.testing.assert_allclose(a["hll_estimate"], b["hll_estimate"],
                               rtol=1e-12)
    # ungrouped single-partition form
    df_u = hll_count_distinct(docs, "doc_id", precision_bits=8).first()
    sql_u = spark.sql(
        "SELECT * FROM stats_hll_distinct(TABLE(hll_sql_t), 'doc_id', "
        "8)").first()
    assert sql_u["n_buckets_used"] == df_u["n_buckets_used"]
    np.testing.assert_allclose(sql_u["hll_estimate"],
                               df_u["hll_estimate"], rtol=1e-12)


def test_stats_skew_report_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.stats import skew_report
    from anofox_forecast_spark.sources import events_table
    ev = events_table(spark, SF_DIR).select("user_id", "event_type")
    df_out = skew_report(ev, ["user_id", "event_type"], top_k=5).first()
    ev.createOrReplaceTempView("skew_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM stats_skew_report(TABLE(skew_sql_t), "
        "'[\"user_id\", \"event_type\"]', 5)").first()
    for c in ("n_keys", "n_rows", "max_per_key", "top_keys"):
        assert sql_out[c] == df_out[c], c
    for c in ("mean_per_key", "p50_per_key", "p99_per_key", "skew_ratio"):
        assert float(sql_out[c]) == float(df_out[c]), c


def test_pipeline_lm_score_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.pipeline import lm_score
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    df_out = lm_score(docs, "doc_id", "text", k=1.0)
    docs.createOrReplaceTempView("lm_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM pipeline_lm_score(TABLE(lm_sql_t), "
        "'doc_id', 'text', 1.0)")
    cols = ["doc_id", "n_bigrams", "mean_logprob", "perplexity"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert list(a["n_bigrams"]) == list(b["n_bigrams"])
    # libm ln/exp vs the JVM's — last-ulp-per-term; everything else is
    # order-pinned
    np.testing.assert_allclose(a["mean_logprob"], b["mean_logprob"],
                               rtol=1e-12)
    np.testing.assert_allclose(a["perplexity"], b["perplexity"],
                               rtol=1e-12)


def test_dedup_keep_best_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.dedup import exact_dedup_keep_best
    docs = (load_table(spark, SF_DIR, "documents")
            .selectExpr("doc_id", "text",
                        "CASE WHEN doc_id % 7 = 0 THEN NULL "
                        "ELSE CAST(length(text) AS DOUBLE) END AS score"))
    df_out = exact_dedup_keep_best(docs, "doc_id", "text", "score")
    docs.createOrReplaceTempView("kb_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM dedup_keep_best(TABLE(kb_sql_t), "
        "'doc_id', 'text', 'score')")
    cols = ["fingerprint", "keep_id", "keep_score", "dup_count"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    assert a.astype(str).equals(b.astype(str))


# --- r9b registrations: pii_redact / bloom_fill / cm_frequency /
# sampled_quantiles (SQL==DataFrame pins) ---

def test_text_pii_redact_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.text import pii_redact
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.concat(F.col("text"),
                           F.lit(" a@b.io 1.2.3.4 555-123-4567"))
        .alias("text"))
    df_out = pii_redact(docs, "text")
    docs.createOrReplaceTempView("pii_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM text_pii_redact(TABLE(pii_sql_t), 'text')")
    cols = ["doc_id", "n_emails", "n_ipv4", "n_phones", "n_pii",
            "text_redacted"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    assert a.astype(str).equals(b.astype(str))


def test_stats_bloom_fill_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.stats import (bloom_registers,
                                                       bloom_stats)
    docs = load_table(spark, SF_DIR, "documents").select(
        F.col("doc_id").cast("string").alias("key"))
    df_out = bloom_stats(
        bloom_registers(docs, "key", m_bits=512, k=3, seed="sq9"),
        m_bits=512, k=3).first()
    docs.createOrReplaceTempView("bloomf_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM stats_bloom_fill(TABLE(bloomf_sql_t), 'key', "
        "512, 3, 'sq9')").first()
    assert sql_out["n_bits_set"] == df_out["n_bits_set"]
    assert float(sql_out["fill_ratio"]) == float(df_out["fill_ratio"])
    np.testing.assert_allclose(
        [sql_out["fp_rate_est"], sql_out["est_n_keys"]],
        [df_out["fp_rate_est"], df_out["est_n_keys"]], rtol=1e-12)


def test_stats_cm_frequency_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.stats import (cm_estimate,
                                                       cm_registers)
    from anofox_forecast_spark.sources import events_table
    ev = events_table(spark, SF_DIR).select(
        F.col("user_id").cast("string").alias("key"))
    regs = cm_registers(ev, "key", width=16, depth=3, seed="c9")
    exact = ev.groupBy("key").agg(F.count(F.lit(1)).alias("n_exact"))
    df_out = cm_estimate(exact, regs, "key", width=16, depth=3,
                         seed="c9").select("key", "n_exact", "cm_est")
    ev.createOrReplaceTempView("cmf_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM stats_cm_frequency(TABLE(cmf_sql_t), 'key', "
        "16, 3, 'c9')")
    cols = ["key", "n_exact", "cm_est"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    assert a.astype(str).equals(b.astype(str))


def test_stats_sampled_quantiles_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.stats import sampled_quantiles
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_extendedprice",
        F.concat_ws("-", F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string")).alias("k"))
    df_out = sampled_quantiles(li, "k", "l_extendedprice",
                               ["l_returnflag"], k=32, seed="q9")
    li.createOrReplaceTempView("sq_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM stats_sampled_quantiles(TABLE(sq_sql_t), 'k', "
        "'l_extendedprice', 'l_returnflag', 32, 'q9')")
    cols = ["l_returnflag", "n", "q_0_25", "q_0_5", "q_0_75", "q_0_95"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    assert list(a["l_returnflag"]) == list(b["l_returnflag"])
    assert list(a["n"]) == list(b["n"])
    for c in cols[2:]:
        np.testing.assert_allclose(a[c], b[c], rtol=1e-12)


# --- r9c registrations: ts_scale / ts_winsorize / dsir_weights ---

def test_ts_scale_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.prep import ts_scale_by
    pan = lineitem_panel(spark, SF_DIR)
    pan.createOrReplaceTempView("scale_sql_t")
    for method in ("zscore", "minmax", "robust"):
        df_out = ts_scale_by(pan, "id", "ds", "y", method)
        sql_out = spark.sql(
            "SELECT * FROM ts_scale(TABLE(scale_sql_t), "
            f"'id', 'ds', 'y', '{method}')")
        cols = ["id", "ds", "y", "scale_loc", "scale_scale", "y_scaled"]
        a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
        assert len(a) == len(b) > 0
        for c in ("id", "ds", "y"):
            assert list(a[c]) == list(b[c])
        for c in ("scale_loc", "scale_scale", "y_scaled"):
            np.testing.assert_allclose(a[c].astype(float),
                                       b[c].astype(float), rtol=1e-12)


def test_ts_winsorize_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.prep import ts_winsorize_by
    pan = lineitem_panel(spark, SF_DIR)
    df_out = ts_winsorize_by(pan, "id", "ds", "y", 0.05, 0.95)
    pan.createOrReplaceTempView("wz_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM ts_winsorize(TABLE(wz_sql_t), "
        "'id', 'ds', 'y', 0.05, 0.95)")
    cols = ["id", "ds", "y", "clip_lo", "clip_hi", "y_winsorized",
            "was_clipped"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    for c in ("id", "ds", "y", "was_clipped"):
        assert list(a[c]) == list(b[c])
    for c in ("clip_lo", "clip_hi", "y_winsorized"):
        np.testing.assert_allclose(a[c].astype(float),
                                   b[c].astype(float), rtol=1e-12)


def test_pipeline_dsir_weights_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.pipeline import dsir_weights
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 5 == 0).alias("is_t"))
    df_out = dsir_weights(docs.select("doc_id", "text"), "doc_id", "text",
                          docs.filter("is_t").select("doc_id", "text"))
    docs.createOrReplaceTempView("dsir_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM pipeline_dsir_weights(TABLE(dsir_sql_t), "
        "'doc_id', 'text', 'is_t')")
    cols = ["doc_id", "n_bigrams", "logprob_target", "logprob_raw",
            "log_weight"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert list(a["n_bigrams"]) == list(b["n_bigrams"])
    for c in ("logprob_target", "logprob_raw", "log_weight"):
        np.testing.assert_allclose(a[c].astype(float),
                                   b[c].astype(float), rtol=1e-12)


def test_ts_detect_anomalies_online_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.detect import (
        ts_detect_anomalies_online_by,
    )
    pan = lineitem_panel(spark, SF_DIR)
    df_out = ts_detect_anomalies_online_by(pan, "id", "ds", "y", 2.5, 30)
    pan.createOrReplaceTempView("zso_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM ts_detect_anomalies_online(TABLE(zso_sql_t), "
        "'id', 'ds', 'y', 2.5, 30)")
    cols = ["id", "ds", "y", "exp_mean", "exp_std", "online_z",
            "is_anomaly"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    for c in ("id", "ds", "y", "is_anomaly"):
        assert list(a[c]) == list(b[c])
    for c in ("exp_mean", "exp_std", "online_z"):
        x = a[c].to_numpy(dtype=float)
        y = b[c].to_numpy(dtype=float)
        assert ((x == y) | (np.isnan(x) & np.isnan(y))).all(), c


def test_pipeline_build_vocab_udtf_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.pipeline import build_vocab
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    df_out = build_vocab(docs, "doc_id", "text")
    docs.createOrReplaceTempView("vocab_sql_t")
    sql_out = spark.sql(
        "SELECT * FROM pipeline_build_vocab(TABLE(vocab_sql_t), "
        "'doc_id', 'text')")
    cols = ["word", "n_occurrences", "n_docs", "rank", "coverage"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    for c in ("word", "n_occurrences", "n_docs", "rank"):
        assert list(a[c]) == list(b[c])
    np.testing.assert_allclose(a["coverage"], b["coverage"], rtol=1e-15)


def test_ts_unscale_scalar_matches_dataframe(spark):
    register_all(spark)
    from anofox_forecast_spark.operators.prep import (ts_scale_by,
                                                      ts_unscale_by)
    scaled = ts_scale_by(lineitem_panel(spark, SF_DIR), "id", "ds", "y",
                         "zscore").withColumn("v", F.col("y_scaled"))
    df_out = ts_unscale_by(scaled, ["v"]) \
        .select("id", "ds", F.col("v").alias("back"))
    scaled.createOrReplaceTempView("unscale_sql_t")
    sql_out = spark.sql(
        "SELECT id, ds, ts_unscale(v, scale_loc, scale_scale) AS back "
        "FROM unscale_sql_t")
    cols = ["id", "ds", "back"]
    a, b = _pd_sorted(sql_out, cols), _pd_sorted(df_out, cols)
    assert len(a) == len(b) > 0
    x = a["back"].to_numpy(dtype=float)
    y = b["back"].to_numpy(dtype=float)
    assert ((x == y) | (np.isnan(x) & np.isnan(y))).all()   # bit-equal


def test_features_config_loaders_on_sql_surface(spark):
    """r10: ts_features_config_from_json/_from_csv registered as
    struct-returning scalar SQL functions (the reference registers them:
    anofox_forecast_extension.cpp:108-110) — SQL result == the
    driver-side parser dict, including override pass-through and the
    drop-unknown-names semantics."""
    import warnings

    from anofox_forecast_spark.operators.features import (
        ts_features_config_from_csv, ts_features_config_from_json)
    register_all(spark)
    js = ('{"features": ["mean", "variance", "nope_not_a_feature"], '
          '"overrides": {"mean": {"w": 2}}}')
    csv = "feature,params_json\nmean,\nvariance,{\"w\": 3}\n"
    row = spark.sql(
        "SELECT ts_features_config_from_json(:j) AS a, "
        "anofox_fcst_ts_features_config_from_csv(:c) AS b, "
        "ts_features_config_from_json(NULL) AS n",
        args={"j": js, "c": csv}).collect()[0]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        dj = ts_features_config_from_json(js)
        dc = ts_features_config_from_csv(csv)
    assert list(row["a"]["feature_names"]) == dj["feature_names"]
    assert "nope_not_a_feature" not in row["a"]["feature_names"]
    assert [(o["feature"], o["params_json"]) for o in row["a"]["overrides"]] \
        == [(o["feature"], o["params_json"]) for o in dj["overrides"]]
    assert list(row["b"]["feature_names"]) == dc["feature_names"] \
        == ["mean", "variance"]
    assert [(o["feature"], o["params_json"]) for o in row["b"]["overrides"]] \
        == [("variance", '{"w": 3}')]
    assert row["n"] is None
    # the parsed name list drives ts_features_by exactly like the kwarg
    from anofox_forecast_spark.operators.features import ts_features_by
    pan = lineitem_panel(spark, SF_DIR)
    sub = ts_features_by(pan, "id", "ds", "y",
                         features=list(row["b"]["feature_names"]))
    assert {"mean", "variance"} <= set(sub.columns)
