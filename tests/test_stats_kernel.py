"""The one statistics kernel, ``stats.series_stats``, behind ``ts_stats_by``
and its SQL form.

- ``dates_us`` gives the same epoch microseconds for every form a ``ds``
  column reaches the kernel in.
- Rows that share a ds are ordered as ``sort_array(struct(ds, y))``
  orders them, whatever order the engine hands them in.
- The DataFrame operator keeps its schema and its NULL-key series, and
  its SQL form returns the same bits.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from anofox_forecast_spark.frequency import parse_frequency
from anofox_forecast_spark.functions.sql import register_all
from anofox_forecast_spark.operators.stats import (STATS_FIELDS, dates_us,
                                                   series_stats, ts_stats_by)


def test_dates_us_is_the_same_for_every_ds_form():
    days = [dt.date(1969, 12, 30), dt.date(2024, 2, 29), dt.date(2024, 3, 1)]
    want = np.array([(d - dt.date(1970, 1, 1)).days * 86_400_000_000
                     for d in days], dtype=np.int64)
    stamps = [dt.datetime(d.year, d.month, d.day) for d in days]
    forms = {
        "datetime64": np.array(stamps[:1] + [None] + stamps[1:],
                               dtype="datetime64[ns]"),
        "date objects": np.array(days[:2] + [None] + days[2:], dtype=object),
        "datetime objects": np.array([None] + stamps, dtype=object),
        "pandas": pd.Series([pd.NaT] + stamps).to_numpy(dtype=object),
    }
    for name, ds in forms.items():
        got = dates_us(ds)
        assert got.dtype == np.int64, name
        assert got.tolist() == want.tolist(), name

    ints = [-3, 5, 9]
    for name, ds in {
            "int64": np.array(ints),
            "int with NULLs (float)": np.array([-3.0, np.nan, 5.0, 9.0]),
            "int objects": np.array([None, -3, 5, 9], dtype=object)}.items():
        got = dates_us(ds)
        assert got.dtype == np.int64 and got.tolist() == ints, name
    assert dates_us(np.array([None, None], dtype=object)).tolist() == []


_D = dt.datetime
_NAN = float("nan")
# one series with NULL-ds rows and rows sharing a ds, in no useful order
_TIED = [
    (_D(2024, 1, 3), 2.0), (None, 0.0), (_D(2024, 1, 1), 0.0),
    (_D(2024, 1, 2), 4.0), (_D(2024, 1, 1), None), (None, -1.0),
    (_D(2024, 1, 2), 4.0), (_D(2024, 1, 3), 0.0), (_D(2024, 1, 1), 0.0),
    (_D(2024, 1, 4), 1.5), (_D(2024, 1, 6), 0.0), (_D(2024, 1, 6), _NAN),
    (_D(2024, 1, 5), 1.5), (_D(2024, 1, 5), 9.0),
]


def _row(cols) -> dict:
    return {n: c[0] for (n, _), c in zip(STATS_FIELDS, cols)}


def test_kernel_orders_tied_rows_itself():
    """Any order of the rows that keeps ds ascending (NULL first) gives
    the same bits."""
    freq = parse_frequency("1d")
    rng = np.random.default_rng(0)
    ds = np.array([d for d, _ in _TIED], dtype="datetime64[ns]")
    y = np.array([_NAN if v is None else v for _, v in _TIED])
    ref = None
    for _ in range(20):
        perm = rng.permutation(len(y))
        keyed = sorted(perm, key=lambda i: (not np.isnat(ds[i]),
                                            ds[i].astype(np.int64)))
        got = _row(series_stats(ds[keyed], y[keyed], freq))
        got = {k: v.hex() if isinstance(v, float) else v
               for k, v in got.items()}
        assert ref is None or got == ref
        ref = got


def test_tied_rows_keep_the_sort_array_order(spark):
    """The order-dependent statistics of the tied series are those of the
    ``sort_array(struct(ds, y))`` order, on any input partitioning, and
    the SQL form returns the same bits."""
    df = spark.createDataFrame([(7, d, y) for d, y in _TIED],
                               "id int, ds timestamp, y double")
    for n in (1, 3):
        r = ts_stats_by(df.repartition(n), "id", "ds", "y", "1d").collect()
        assert len(r) == 1
        r = r[0]
        assert (r["length"], r["n_nulls"]) == (14, 2)
        assert (r["n_zeros_start"], r["n_zeros_end"], r["plateau_size"]) \
            == (0, 1, 3)
        assert r["autocorr_lag1"].hex() == "-0x1.45693c746e75fp-4"
        assert (r["expected_length"], r["n_gaps"]) == (6, 0)

    register_all(spark)
    df.createOrReplaceTempView("stats_tied")
    (sql,) = spark.sql("SELECT * FROM ts_stats_by(TABLE(stats_tied), 'id', "
                       "'ds', 'y', '1d')").collect()
    for name, _ in STATS_FIELDS:
        a, b = sql[name], r[name]
        if isinstance(a, float) and math.isnan(a):
            assert math.isnan(b), name
        else:
            assert a == b and type(a) is type(b), name
            assert not isinstance(a, float) or a.hex() == b.hex(), name


def test_stats_schema_and_null_key(spark):
    """The output schema (``length``, ``n_nulls`` and ``n_nan``
    non-nullable), and a NULL series key is a series of its own, as in
    ``groupBy``."""
    df = spark.createDataFrame(
        [("a", dt.date(2024, 1, 1), 1.0), (None, dt.date(2024, 1, 1), 2.0),
         (None, dt.date(2024, 1, 3), 4.0)], "id string, ds date, y float")
    out = ts_stats_by(df, "id", "ds", "y", "1d")
    got = sorted(((r["id"] or ""), r["length"], r["n_gaps"])
                 for r in out.collect())
    assert got == [("", 2, 1), ("a", 1, 0)]
    schema = out.schema
    assert schema.names == ["id"] + [n for n, _ in STATS_FIELDS]
    assert [f.dataType for f in schema.fields] \
        == [T.StringType()] + [t for _, t in STATS_FIELDS]
    assert [f.name for f in schema.fields if not f.nullable] \
        == ["length", "n_nulls", "n_nan"]
