"""batched_grouped_map must be row-identical to groupBy().applyInPandas.

``one_group(key, cols)`` gets each group's rows as numpy column slices and
returns a tuple of columns (or None to skip the group).

The risky part is the carry buffer: a group whose rows span adjacent Arrow
batches must be stitched back together before the per-group function sees
it. We force pathological batch sizes (smaller than a group, equal to a
group, 1-row) via spark.sql.execution.arrow.maxRecordsPerBatch and compare
against the grouped-map formulation.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anofox_forecast_spark.functions.batched import batched_grouped_map

SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
    T.StructField("first_y", T.DoubleType()),
    T.StructField("last_y", T.DoubleType()),
])


def _make_one_group():
    # defined via factory so cloudpickle serializes it by value (the test
    # module is not importable on Spark workers)
    def one_group(kt, cols):
        # order-sensitive on purpose: first/last prove rows arrive sorted by ds
        y = cols["y"]
        return ([kt[0]], [len(y)], [float(y.sum())], [float(y[0])],
                [float(y[-1])])
    return one_group


def _panel(spark, n_groups=13, n_rows=17):
    rows = [(f"g{g:03d}", i, float(g * 1000 + i))
            for g in range(n_groups) for i in range(n_rows)]
    return spark.createDataFrame(rows, "id string, ds long, y double")


@pytest.fixture()
def tiny_batches(spark):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    yield spark
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


@pytest.mark.parametrize("batch_size", [1, 5, 17, 1000])
def test_batched_matches_grouped_map(tiny_batches, batch_size):
    spark = tiny_batches
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size))
    df = _panel(spark)

    one_group = _make_one_group()
    got = batched_grouped_map(df, ["id"], "ds", SCHEMA, one_group).toPandas()

    def grouped(pdf):
        pdf = pdf.sort_values("ds")
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        return pd.DataFrame(dict(zip(SCHEMA.names,
                                     one_group((pdf["id"].iloc[0],), cols))))

    want = df.groupBy("id").applyInPandas(grouped, SCHEMA).toPandas()

    got = got.sort_values("id").reset_index(drop=True)
    want = want.sort_values("id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    assert (got["n"] == 17).all()
    assert (got["first_y"] == got["id"].str[1:].astype(int) * 1000.0).all()


def test_batched_multi_key_and_skip(tiny_batches):
    spark = tiny_batches
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    rows = [(f"g{g}", f, i, float(i))
            for g in range(4) for f in range(3) for i in range(5)]
    df = spark.createDataFrame(rows, "id string, fold long, ds long, y double")
    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("fold", T.LongType()),
        T.StructField("n", T.LongType()),
    ])

    def fn(kt, cols):
        if kt[1] == 1:  # error-isolation path: skip fold 1 entirely
            return None
        return [kt[0]], [int(kt[1])], [len(cols["ds"])]

    got = batched_grouped_map(df, ["id", "fold"], "ds", schema, fn).toPandas()
    assert len(got) == 8  # 4 ids x folds {0, 2}
    assert set(got["fold"]) == {0, 2}
    assert (got["n"] == 5).all()


def test_batched_unsorted_input(tiny_batches):
    """Input row order must not matter — the path sorts within partitions."""
    spark = tiny_batches
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    rng = np.random.default_rng(7)
    rows = [(f"g{g}", i, float(i)) for g in range(5) for i in range(9)]
    order = rng.permutation(len(rows))
    df = spark.createDataFrame([rows[i] for i in order],
                               "id string, ds long, y double")
    got = batched_grouped_map(df, ["id"], "ds", SCHEMA,
                              _make_one_group()).toPandas()
    got = got.sort_values("id").reset_index(drop=True)
    assert (got["first_y"] == 0.0).all()
    assert (got["last_y"] == 8.0).all()
    assert (got["n"] == 9).all()


def test_batched_all_empty_columnar_yields_nothing(tiny_batches):
    """A return whose columns are ALL zero-length (e.g. horizon 0 for
    every series) emits no empty object-dtype DataFrame, which would lean
    on Arrow's null coercion against the schema."""
    spark = tiny_batches
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    df = _panel(spark, n_groups=3, n_rows=5)

    def fn(kt, cols):
        return ([], [], [], [], [])  # every column empty

    got = batched_grouped_map(df, ["id"], "ds", SCHEMA, fn)
    assert got.count() == 0
    # mixed: one group emits, the rest are empty tuples
    def fn2(kt, cols):
        if kt[0] == "g001":
            return ([kt[0]], [len(cols["y"])], [1.0], [2.0], [3.0])
        return ([], [], [], [], [])

    got2 = batched_grouped_map(df, ["id"], "ds", SCHEMA, fn2).toPandas()
    assert list(got2["id"]) == ["g001"]
    assert list(got2["n"]) == [5]


def test_what_a_kernel_receives(tiny_batches):
    """``one_group`` gets the key boxed as pandas boxes it (int, str,
    ``Timestamp``; a NULL key as NaN, None or NaT) and each column as a
    numpy slice: DOUBLE as float64 with NULL as NaN, TIMESTAMP as
    datetime64, DATE as ``datetime.date`` objects (None for NULL), rows
    sorted by the order column, NULL first."""
    spark = tiny_batches
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    t0, d0 = dt.datetime(2024, 1, 1), dt.date(2024, 1, 1)
    rows = [(k, s, t0 + dt.timedelta(days=k),
             None if i < 0 else d0 + dt.timedelta(days=i),
             None if i == 1 else float(i))
            for k, s in ((1, "a"), (2, "b")) for i in (2, 1, -1, 0)]
    rows.append((None, None, None, None, 5.0))
    df = spark.createDataFrame(
        rows, "k long, s string, t timestamp, d date, y double")
    schema = T.StructType([T.StructField("r", T.StringType())])

    def fn(kt, cols):
        y, t, d = cols["y"], cols["t"], cols["d"]
        return ([repr((type(kt[0]).__name__, str(kt[0]),
                       [type(c).__name__ for c in (y, t, d)],
                       y.dtype.str, t.dtype.kind, d.dtype.kind,
                       [None if math.isnan(v) else v for v in y.tolist()],
                       [type(v).__name__ for v in d]))],)

    def seen(frame, key):
        return sorted(r[0] for r in batched_grouped_map(
            frame, [key], "d", schema, fn).collect())

    def want(box, key, series=True):
        if not series:  # the all-NULL row
            return repr((box, key, ["ndarray"] * 3, "<f8", "M", "O", [5.0],
                         ["NoneType"]))
        return repr((box, key, ["ndarray"] * 3, "<f8", "M", "O",
                     [-1.0, 0.0, None, 2.0], ["NoneType"] + ["date"] * 3))

    # int keys box as int (no NULL key in the batch), a NULL one as NaN
    assert seen(df.where("k IS NOT NULL"), "k") == [want("int", "1"),
                                                     want("int", "2")]
    assert seen(df.where("k IS NULL"), "k") == [want("float", "nan", False)]
    assert seen(df, "s") == sorted([want("NoneType", "None", False),
                                    want("str", "a"), want("str", "b")])
    assert seen(df, "t") == sorted(
        [want("NaTType", "NaT", False)]
        + [want("Timestamp", str(pd.Timestamp(t0 + dt.timedelta(days=k))))
           for k in (1, 2)])
