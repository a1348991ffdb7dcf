"""The partition policy for per-series stages (``batched.series_partitions``).

Every stage that fits series runs one task per core, whatever the shuffle
conf says and however small the shuffle is (AQE coalesces small keyed
shuffles by bytes, down to one task), and no output depends on how the
input was partitioned.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from anofox_forecast_spark import sources
from anofox_forecast_spark.functions.batched import series_partitions
from anofox_forecast_spark.operators.conformal import (ts_bootstrap_quantiles,
                                                       ts_conformal_by)
from anofox_forecast_spark.operators.cv import (ts_cv_folds_by,
                                                ts_cv_forecast_by)
from anofox_forecast_spark.operators.detect import ts_detect_changepoints_by
from anofox_forecast_spark.operators.features import ts_features_by
from anofox_forecast_spark.operators.forecast import ts_forecast_by
from anofox_forecast_spark.operators.stats import (ts_data_quality,
                                                   ts_stats_by)

_SUPPLIERS, _DAYS = 24, 60


@contextlib.contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="module")
def lineitem_dir(spark, tmp_path_factory):
    """A small ``lineitem`` table: 24 suppliers x 60 days, two rows per
    supplier and day, whole-number quantities."""
    d = tmp_path_factory.mktemp("lineitem_sf")
    per_day = 2 * _SUPPLIERS
    spark.range(_DAYS * per_day).selectExpr(
        f"id % {_SUPPLIERS} AS l_suppkey",
        f"date_add(DATE'2024-01-01', CAST(id DIV {per_day} AS INT)) "
        "AS l_shipdate",
        f"CAST(1 + (id * 7 + (id DIV {per_day}) * 3) % 50 AS DOUBLE) "
        "AS l_quantity",
    ).coalesce(1).write.parquet(str(d / "lineitem.parquet"))
    return str(d)


def _bootstrap(p):
    """Bootstrap quantiles over each series' ds-ordered values as
    residuals, from its last value."""
    resid = F.transform(F.array_sort(F.collect_list(F.struct("ds", "y"))),
                        lambda s: s["y"])
    arrays = p.groupBy("id").agg(resid.alias("resid")).withColumn(
        "fc", F.array_repeat(F.element_at("resid", -1), 3))
    return ts_bootstrap_quantiles(arrays, "id", "resid", "fc", [0.1, 0.9],
                                  n_paths=20)


def _fit_stage_tasks(spark, df, group: str) -> int:
    """Runs ``df`` to a noop sink under a job group and returns the task
    count of its last stage: the one reading the series-keyed exchange,
    where the fit runs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    stages = [s for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    return tracker.getStageInfo(max(stages)).numTasks


_REQUESTS = {
    "theta_python_path": lambda p: ts_forecast_by(
        p, "id", "ds", "y", "Theta", 7, "1d"),
    "ses_sql_path": lambda p: ts_forecast_by(
        p, "id", "ds", "y", "SES", 7, "1d", {"alpha": 0.3}),
    "cv_forecast": lambda p: ts_cv_forecast_by(
        ts_cv_folds_by(p, "id", "ds", "y", 3, 7), "id", "ds", "y", "Naive"),
    "data_quality": lambda p: ts_data_quality(p, "id", "ds", "y"),
    "stats": lambda p: ts_stats_by(p, "id", "ds", "y", "1d"),
    "bootstrap": lambda p: _bootstrap(p),
}


@pytest.mark.parametrize("name", sorted(_REQUESTS))
def test_fit_stage_runs_one_task_per_core(spark, lineitem_dir, name):
    """At a shuffle conf far above the core count, the fit stage over a
    ``lineitem_panel`` still runs ``defaultParallelism`` tasks: neither
    one (AQE coalescing the panel's small shuffle) nor the shuffle conf
    (an operator-level repartition of its own)."""
    cores = spark.sparkContext.defaultParallelism
    assert series_partitions(spark) == cores
    with _conf(spark, "spark.sql.shuffle.partitions", "32"):
        panel = sources.lineitem_panel(spark, lineitem_dir)
        tasks = _fit_stage_tasks(spark, _REQUESTS[name](panel),
                                 f"series-partitions-{name}")
    assert tasks == cores, f"{name}: fit stage ran {tasks} tasks"


# ---------------------------------------------------------------------------
# partition invariance: 1, cores and 32 input partitions, AQE coalescing
# on and off — Python-path outputs bit for bit, SQL-path within 1e-9
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def sweep_panel(spark):
    rng = np.random.default_rng(7)
    rows = []
    for g in range(12):
        level = 20.0 + 5 * g
        for i in range(40):
            y = level + 0.3 * i + 4 * math.sin(2 * math.pi * i / 7) \
                + float(rng.normal(0, 1))
            rows.append((g, dt.date(2024, 1, 1) + dt.timedelta(days=i), y))
    return spark.createDataFrame(rows, "id int, ds date, y double")


def _conformal(p):
    bt = ts_cv_forecast_by(ts_cv_folds_by(p, "id", "ds", "y", 2, 5),
                           "id", "ds", "y", "SES", {"alpha": 0.3})
    return ts_conformal_by(bt, "id", "y", "yhat", "yhat", {"alpha": 0.1})


# name -> (request, sort key columns, exact)
_SWEEP = {
    "forecast_python": (lambda p: ts_forecast_by(
        p, "id", "ds", "y", "Theta", 5, "1d"), ["id", "forecast_step"], True),
    "forecast_sql": (lambda p: ts_forecast_by(
        p, "id", "ds", "y", "SES", 5, "1d", {"alpha": 0.3}),
        ["id", "forecast_step"], False),
    "cv_forecast": (lambda p: ts_cv_forecast_by(
        ts_cv_folds_by(p, "id", "ds", "y", 2, 5), "id", "ds", "y", "Theta"),
        ["id", "fold_id", "ds"], True),
    "stats": (lambda p: ts_stats_by(p, "id", "ds", "y", "1d"), ["id"], True),
    "data_quality": (lambda p: ts_data_quality(p, "id", "ds", "y"),
                     ["unique_id"], True),
    "features": (lambda p: ts_features_by(
        p, "id", "ds", "y", ["mean", "skewness", "autocorrelation_lag1"]),
        ["id"], True),
    "changepoints": (lambda p: ts_detect_changepoints_by(
        p, "id", "ds", "y"), ["id", "ds"], True),
    "conformal": (_conformal, ["id"], False),
    "bootstrap": (_bootstrap, ["id", "quantile"], True),
}


def _flat_rows(df, keys):
    """Rows sorted by ``keys``, each flattened to a list of values
    (array cells spliced in)."""
    out = []
    for r in sorted(df.collect(), key=lambda r: tuple(r[k] for k in keys)):
        vals = []
        for v in r:
            vals.extend(v if isinstance(v, (list, tuple)) else [v])
        out.append(vals)
    return out


def _same(a, b, exact: bool) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        if exact:
            return a.hex() == b.hex()
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


@pytest.mark.parametrize("name", sorted(_SWEEP))
def test_partition_invariance_sweep(spark, sweep_panel, name):
    request, keys, exact = _SWEEP[name]
    cores = spark.sparkContext.defaultParallelism
    ref = None
    for coalesce in ("true", "false"):
        with _conf(spark, "spark.sql.adaptive.coalescePartitions.enabled",
                   coalesce):
            for n in (1, cores, 32):
                got = _flat_rows(request(sweep_panel.repartition(n)), keys)
                if ref is None:
                    ref = got
                    assert ref, name
                    continue
                where = f"{name}: {n} partitions, coalescing {coalesce}"
                assert len(got) == len(ref), where
                for ra, rb in zip(ref, got):
                    assert len(ra) == len(rb) and all(
                        _same(a, b, exact) for a, b in zip(ra, rb)), \
                        f"{where}: {ra} != {rb}"
