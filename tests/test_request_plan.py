"""A request plans only the work its output depends on.

- The no-NaN witness (``sources.NO_NAN_METADATA``) survives gap fill and
  constant fill, so a gap-filled forecast skips the null-repair pass.
- ``load_table`` reuses a session's inferred parquet schema while the
  files are unchanged, so a repeated read starts no Spark job.
- Building a gap-filled forecast, or ``ts_stats_by``, costs a bounded
  number of py4j calls.
"""

from __future__ import annotations

import contextlib
import gc

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.java_gateway import GatewayClient

from anofox_forecast_spark import plans as P
from anofox_forecast_spark.operators.forecast import ts_forecast_by
from anofox_forecast_spark.operators.prep import (ts_fill_forward_by,
                                                  ts_fill_gaps_by,
                                                  ts_fill_nulls_const_by)
from anofox_forecast_spark.operators.stats import ts_stats_by
from anofox_forecast_spark.sources import (NO_NAN_METADATA, lineitem_panel,
                                           load_table)
from tests.conftest import SF_DIR

_GROUP = "request-plan-schema-reuse"


def _no_nan(df, col):
    return df.schema[col].metadata.get(NO_NAN_METADATA, False)


def _ses(df):
    return ts_forecast_by(df, "id", "ds", "filled_value", "SES", 7, "1d",
                          {"alpha": 0.3})


def test_gap_filled_forecast_skips_null_repair(spark):
    gaps = ts_fill_gaps_by(lineitem_panel(spark, SF_DIR), "id", "ds", "y",
                           "1d")
    assert _no_nan(gaps, "y") and gaps.schema["y"].nullable
    filled = ts_fill_nulls_const_by(gaps, "id", "ds", "y", 0.0)
    assert _no_nan(filled, "filled_value")
    assert not filled.schema["filled_value"].nullable
    stripped = ts_fill_nulls_const_by(gaps.withMetadata("y", {}),
                                      "id", "ds", "y", 0.0)
    assert not _no_nan(stripped, "filled_value")

    fast, slow = _ses(filled), _ses(stripped)
    assert (P.plan_report(fast)["windows"]
            < P.plan_report(slow)["windows"])
    key = ["id", "forecast_step"]
    assert fast.orderBy(key).collect() == slow.orderBy(key).collect()


def test_witness_only_where_it_holds(spark):
    nan = float("nan")
    raw = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, nan), (1, 3, None), (1, 5, 4.0)],
        "id int, ds int, y double")
    # an input without the witness gets none, before or after gap fill
    assert not _no_nan(ts_fill_nulls_const_by(raw, "id", "ds", "y", 0.0),
                       "filled_value")
    assert not _no_nan(ts_fill_gaps_by(raw, "id", "ds", "y", 1), "y")
    tagged = raw.withMetadata("y", {NO_NAN_METADATA: True})
    for freq in (1, "1d", "1mo"):
        src = tagged if freq == 1 else tagged.selectExpr(
            "id", "date_add(DATE'2024-01-01', ds * 40) AS ds", "y")
        assert _no_nan(ts_fill_gaps_by(src, "id", "ds", "y", freq), "y")
    assert _no_nan(ts_fill_forward_by(tagged, "id", "ds", "y", 9, 1), "y")
    # a NaN fill value puts NaN into filled_value: no witness
    assert not _no_nan(ts_fill_nulls_const_by(tagged, "id", "ds", "y", nan),
                       "filled_value")
    assert _no_nan(ts_fill_nulls_const_by(tagged, "id", "ds", "y", 7.5),
                   "filled_value")


@contextlib.contextmanager
def _jobs(spark):
    """Collects the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(_GROUP, "schema reuse probe")
    before = set(tracker.getJobIdsForGroup(_GROUP))
    started: set = set()
    try:
        yield started
    finally:
        started |= set(tracker.getJobIdsForGroup(_GROUP)) - before
        sc.setLocalProperty("spark.jobGroup.id", None)


def _write(tmp_path, table):
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    pq.write_table(table, d / "orders.parquet")
    return str(d)


def test_load_table_reuses_schema_while_files_unchanged(spark, tmp_path):
    sf = _write(tmp_path, pa.table({"o_custkey": [1, 2, 3],
                                    "o_totalprice": [1.5, 2.5, 3.5]}))
    with _jobs(spark) as first_jobs:
        first = load_table(spark, sf, "orders")
    assert first_jobs, "the first read infers its schema with a job"
    with _jobs(spark) as again_jobs:
        again = load_table(spark, sf, "orders")
    assert not again_jobs, f"reused schema still started jobs {again_jobs}"
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    # a rewrite with another column set is seen
    _write(tmp_path, pa.table({"o_custkey": [7], "o_comment": ["x"]}))
    changed = load_table(spark, sf, "orders")
    assert changed.columns == ["o_custkey", "o_comment"]
    assert changed.collect()[0]["o_comment"] == "x"

    # another session infers for itself
    other = spark.newSession()
    with _jobs(other) as other_jobs:
        load_table(other, sf, "orders")
    assert other_jobs


def test_gap_filled_forecast_build_py4j_budget(spark, monkeypatch):
    """Building lineitem_panel -> gap fill -> const fill -> SES forecast
    takes a bounded number of py4j round trips (about 1,430 when every
    step was built with the Column DSL; about 240 as SQL text)."""
    lineitem_panel(spark, SF_DIR).schema  # the first read infers, uncounted
    calls = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    gc.collect()
    monkeypatch.setattr(GatewayClient, "send_command", counting)
    df = lineitem_panel(spark, SF_DIR)
    df = ts_fill_gaps_by(df, "id", "ds", "y", "1d")
    df = ts_fill_nulls_const_by(df, "id", "ds", "y", 0.0)
    _ses(df).schema
    monkeypatch.undo()
    assert calls[0] <= 400, f"{calls[0]} py4j calls to build the request"


def test_stats_build_py4j_budget(spark, monkeypatch):
    """Building ``ts_stats_by`` over ``lineitem_panel`` takes a bounded
    number of py4j round trips (about 2,400 when 19 of the statistics
    were JVM aggregates built column by column)."""
    lineitem_panel(spark, SF_DIR).schema  # the first read infers, uncounted
    calls = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    gc.collect()
    monkeypatch.setattr(GatewayClient, "send_command", counting)
    ts_stats_by(lineitem_panel(spark, SF_DIR), "id", "ds", "y", "1d").schema
    monkeypatch.undo()
    assert calls[0] <= 300, f"{calls[0]} py4j calls to build ts_stats_by"
