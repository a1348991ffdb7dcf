"""The traced run: each request executed layer by layer, with every
layer's input staged to parquet and a span around each call into the
engine, plus probes for the layers a workload's own requests do not use.

``TARGETS`` records, for each per-layer metric, the end-to-end metric
and workload it should move.
"""

from __future__ import annotations

import os
import re
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import types as T

from anofox_forecast_spark.functions import batched
from anofox_forecast_spark.functions import models as M

import workloads as W
from tracing import Tracer, self_times

ALL = "all workloads"
# interactive and backtest are not in BENCHMARK.json's schedule: name the
# scheduled workload that shows the same effect where there is one
INTERACTIVE = "interactive (scheduled: batch_sql)"
BACKTEST = "backtest (not scheduled; probed in every traced run)"
TARGETS = {
    "session.start_s": ("setup_s", ALL),
    "cfilters.load_s": ("setup_s", ALL),
    "cfilters.loaded": ("setup_s", ALL + "; gates every Python-path number"),
    "plan.build_s": ("req_p50_s", INTERACTIVE),
    "plan.exchanges": ("req_p50_s", INTERACTIVE),
    "spark.jobs": ("req_p50_s", INTERACTIVE),
    "spark.stages": ("req_p50_s", INTERACTIVE),
    "spark.tasks": ("req_p50_s", INTERACTIVE),
    "spark.failed_tasks": ("fail_frac", ALL),
    "sources.panel_s": ("req_p50_s", "batch_sql"),
    "sources.panel_rows": ("req_p50_s", "batch_sql"),
    "prep.fill_gaps_s": ("req_p50_s", "batch_sql"),
    "prep.rows_added_frac": ("req_p50_s", "batch_sql"),
    "forecast.sql_s": ("series_per_s", "batch_sql; not batch_python"),
    "forecast.udf_s": ("series_per_s", "batch_python"),
    "batched.noop_s": ("series_per_s", "batch_python; backtest most"),
    "batched.groups_per_s": ("series_per_s", "batch_python; backtest most"),
    **{f"models.ms_per_series.{m}": ("series_per_s", "batch_python")
       for m in sorted({m for m, _ in W.SQL_MODELS + W.PY_MODELS
                        + W.BT_MODELS} | set(W.INTERACTIVE_PY))},
    "models.fail_frac": ("fail_frac", ALL),
    "models.cpu_share": ("series_per_s", "batch_python"),
    "cv.folds_s": ("req_p50_s, peak_rss_mb", BACKTEST),
    "cv.rows_amplification": ("req_p50_s, peak_rss_mb", BACKTEST),
    "cv.forecast_s": ("req_p50_s, peak_rss_mb", BACKTEST),
    "metrics.exec_s": ("req_p50_s", BACKTEST),
    "conformal.exec_s": ("req_p50_s", BACKTEST),
    "stats.exec_s": ("req_p50_s", "interactive (not scheduled; probed)"),
    "interactive.collect_s": ("req_p50_s",
                              "interactive (not scheduled; probed)"),
    "trace.overhead_frac": ("(none: cost of tracing itself)", ALL),
    "peak_rss_mb": ("(memory; varied > 10% between seeds, so not bounded)",
                    ALL),
}
MODEL_NAMES = [k.rsplit(".", 1)[1] for k in TARGETS
               if k.startswith("models.ms_per_series.")]

# spans whose self time is a per-layer ``<name>_s`` metric
TIMED = ["sources.panel", "prep.fill_gaps", "forecast.sql", "forecast.udf",
         "cv.folds", "cv.forecast", "metrics.exec", "conformal.exec",
         "stats.exec", "interactive.collect", "plan.build"]

_EXCHANGE = re.compile(r"^[\s:+\-*|]*(?:Broadcast|Shuffle)?Exchange\b")


def count_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if _EXCHANGE.match(line))


def parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


class Stager:
    """Runs one layer call inside a span and stages its output to parquet,
    so the next layer's span times that layer alone."""

    def __init__(self, spark, tracer: Tracer, root: str):
        self.spark, self.tracer, self.root = spark, tracer, root

    def __call__(self, name: str, make_df, **attrs):
        path = os.path.join(self.root, name)
        with self.tracer.span(name, **attrs) as sp:
            make_df().write.mode("overwrite").parquet(path)
        sp.attrs["rows"] = parquet_rows(path)
        return self.spark.read.parquet(path), sp.attrs["rows"]


def run_traced(ctx, req: W.Req, rid: str):
    """One request, layer by layer; returns its outputs like the untraced
    request does."""
    spark, wl, panel, tr = ctx.spark, ctx.wl, ctx.panel, ctx.tracer
    sc = spark.sparkContext
    stage = Stager(spark, tr, os.path.join(ctx.work, "stage"))
    sc.setJobGroup(rid, req.kind)
    out: dict = {}
    with tr.span("request", request=rid, kind=req.kind,
                 model=req.model or "") as root:
        with tr.span("plan.build"):
            whole = W.full_df(spark, wl, panel, req)
        root.attrs["exchanges"] = count_exchanges(whole)
        df, n0 = stage("sources.panel", lambda: W.panel_df(spark, panel, req))
        if req.kind == "backtest":
            folds, n1 = stage("cv.folds", lambda: W.cv_folds_df(df))
            root.attrs["amplification"] = n1 / n0
            bt_path = os.path.join(ctx.work, "out")
            with tr.span("cv.forecast"):
                W.cv_forecast_df(folds, req).write.mode("overwrite") \
                    .parquet(bt_path)
            bt = spark.read.parquet(bt_path)
            with tr.span("metrics.exec"):
                out.update(W.error_metrics(bt))
            with tr.span("conformal.exec"):
                out["conf"] = W.conformal_df(bt).toPandas()
            out["bt"] = bt_path
        else:
            if req.kind == "stats":
                last = "stats.exec"
                res, _ = stage(last, lambda: W.stats_df(df))
            else:
                if wl.gap_fill:
                    df, n1 = stage("prep.fill_gaps", lambda: W.fill_gaps(df))
                    root.attrs["rows_added"] = (n1 - n0) / n0
                last = "forecast.sql" if (
                    req.kind == "forecast" and req.model in M.SQL_PATH_MODELS
                ) else "forecast.udf"
                res, _ = stage(last, lambda: W.forecast_df(wl, df, req),
                               series=len(req.series(panel)))
            if wl.collect:
                with tr.span("interactive.collect"):
                    out["out"] = res.toPandas()
            else:
                out["out"] = os.path.join(stage.root, last)
    root.attrs.update(spark_counts(sc, rid))
    return root.duration, out


def spark_counts(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is None:
                continue
            stages += 1
            tasks += si.numTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


# ---------------------------------------------------------------------------
# probes for layers outside the workload's own requests
# ---------------------------------------------------------------------------

PROBE_SERIES = 50


def probe_layers(ctx, missing: set[str]) -> None:
    """Run each missing layer once on a slice of the workload's panel, twice
    over (the first pass warms the plan shapes and is recorded under
    ``probe.warm``)."""
    spark, panel, tr = ctx.spark, ctx.panel, ctx.tracer
    ids = tuple(int(i) for i in panel.ids[:PROBE_SERIES])
    stage = Stager(spark, tr, os.path.join(ctx.work, "probe"))
    sql = W.Req("forecast", "SES", {"alpha": 0.3}, ids)
    udf = W.Req("forecast", "Theta", {"seasonal_period": 7}, ids)
    bt = W.Req("backtest", "Naive", {}, ids)
    gap_wl = W.WORKLOADS["batch_sql"]
    for root in ("probe.warm", "probe"):
        with tr.span(root, request=root):
            df, n0 = stage("sources.panel", lambda: W.panel_df(spark, panel, sql))
            filled, n1 = stage("prep.fill_gaps", lambda: W.fill_gaps(df))
            tr.spans[-1].attrs["rows_added"] = (n1 - n0) / n0
            if "forecast.sql" in missing:
                stage("forecast.sql", lambda: W.forecast_df(gap_wl, filled, sql),
                      series=len(ids))
            if "forecast.udf" in missing:
                stage("forecast.udf", lambda: W.forecast_df(gap_wl, filled, udf),
                      series=len(ids))
            if missing & {"cv.folds", "cv.forecast", "metrics.exec",
                          "conformal.exec"}:
                folds, n2 = stage("cv.folds", lambda: W.cv_folds_df(df))
                tr.spans[-1].attrs["amplification"] = n2 / n0
                res, _ = stage("cv.forecast",
                               lambda: W.cv_forecast_df(folds, bt))
                with tr.span("metrics.exec"):
                    W.error_metrics(res)
                with tr.span("conformal.exec"):
                    W.conformal_df(res).toPandas()
            if "stats.exec" in missing:
                stage("stats.exec", lambda: W.stats_df(df))
            if "interactive.collect" in missing:
                with tr.span("interactive.collect"):
                    filled.toPandas()


def probe_batched(ctx, repeats: int = 2) -> tuple[float, float]:
    """Framework cost of ``batched_grouped_map`` alone: a ``one_group``
    that does no math, over the workload's whole panel."""
    spark, panel, tr = ctx.spark, ctx.panel, ctx.tracer
    path = os.path.join(ctx.work, "probe", "whole_panel")
    W.panel_df(spark, panel, W.Req("forecast")).write.mode("overwrite") \
        .parquet(path)
    df = spark.read.parquet(path)
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("n", T.LongType())])

    def one_group(key, pdf):
        return ([key[0]], [len(pdf)])

    times = []
    for i in range(repeats + 1):
        with tr.span("batched.noop", request="probe") as sp:
            batched.batched_grouped_map(df, ["id"], "ds", schema, one_group) \
                .write.format("noop").mode("overwrite").save()
        if i:
            times.append(sp.duration)
    t = statistics.median(times)
    return t, len(panel.ids) / t


def probe_models(ctx, rng: np.random.Generator, n: int = 24):
    """In-process, single-threaded ms per series of every model, on the
    workload's own arrays."""
    panel = ctx.panel
    pick = rng.choice(len(panel.ids), min(n, len(panel.ids)), replace=False)
    ys = [panel.dense[i] for i in pick]
    params = dict(W.SQL_MODELS + W.PY_MODELS + W.BT_MODELS)
    ms, fails, tries = {}, 0, 0
    for m in MODEL_NAMES:
        p = params.get(m, {"seasonal_period": 7})
        season = int(p.get("seasonal_period", 0) or 0)
        t0 = time.perf_counter()
        for y in ys:
            tries += 1
            try:
                M.forecast(y, W.H, m, season_length=season, params=p)
            except Exception:  # noqa: BLE001 — counted as the engine's error isolation would
                fails += 1
        ms[m] = (time.perf_counter() - t0) * 1000.0 / len(ys)
    return ms, fails / tries


# ---------------------------------------------------------------------------
# per-layer metrics from the spans
# ---------------------------------------------------------------------------

def layer_metrics(tracer: Tracer, setup: dict, ms: dict, model_fail: float,
                  noop: tuple[float, float], cores: int, overhead: float,
                  loaded: bool) -> dict:
    spans = tracer.spans
    selft = self_times(spans)
    by_id = {s.id: s for s in spans}

    def root_of(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s.name

    req_spans = [s for s in spans if s.name == "request"]
    measured = [s for s in spans if root_of(s) in ("request", "probe")]

    def med(vals, default=0.0):
        vals = [v for v in vals if v is not None]
        return statistics.median(vals) if vals else default

    def layer(name):
        own = [selft[s.id] for s in measured
               if s.name == name and root_of(s) == "request"]
        return med(own or [selft[s.id] for s in measured if s.name == name])

    def attr(span_name, key):
        own = [s.attrs.get(key) for s in measured if s.name == span_name
               and root_of(s) == "request" and key in s.attrs]
        return med(own or [s.attrs.get(key) for s in measured
                           if s.name == span_name and key in s.attrs])

    def req_attr(key):
        return med([s.attrs.get(key) for s in req_spans])

    def share(s):
        model = by_id[s.parent].attrs.get("model")
        model = model if model in ms else ("SES" if s.name == "forecast.sql"
                                           else "Theta")
        return ms[model] * s.attrs["series"] / 1000.0 / cores / selft[s.id]

    fc = [s for s in measured if s.name in ("forecast.sql", "forecast.udf")]
    shares = [share(s) for s in fc if root_of(s) == "request"] \
        or [share(s) for s in fc]
    out = {
        "session.start_s": (setup["session"], "s"),
        "cfilters.load_s": (setup["cfilters"], "s"),
        "cfilters.loaded": (1 if loaded else 0, "flag"),
        "plan.build_s": (layer("plan.build"), "s"),
        "plan.exchanges": (req_attr("exchanges"), "count"),
        "spark.jobs": (req_attr("jobs"), "count"),
        "spark.stages": (req_attr("stages"), "count"),
        "spark.tasks": (req_attr("tasks"), "count"),
        "spark.failed_tasks": (sum(s.attrs.get("failed_tasks", 0)
                                   for s in req_spans), "count"),
        "sources.panel_s": (layer("sources.panel"), "s"),
        "sources.panel_rows": (attr("sources.panel", "rows"), "count"),
        "prep.fill_gaps_s": (layer("prep.fill_gaps"), "s"),
        "prep.rows_added_frac": (
            med([s.attrs.get("rows_added") for s in req_spans])
            if any("rows_added" in s.attrs for s in req_spans)
            else attr("prep.fill_gaps", "rows_added"), "ratio"),
        "forecast.sql_s": (layer("forecast.sql"), "s"),
        "forecast.udf_s": (layer("forecast.udf"), "s"),
        "batched.noop_s": (noop[0], "s"),
        "batched.groups_per_s": (noop[1], "1/s"),
        **{f"models.ms_per_series.{m}": (ms[m], "ms") for m in MODEL_NAMES},
        "models.fail_frac": (model_fail, "ratio"),
        "models.cpu_share": (med(shares), "ratio"),
        "cv.folds_s": (layer("cv.folds"), "s"),
        "cv.rows_amplification": (
            med([s.attrs.get("amplification") for s in req_spans])
            if any("amplification" in s.attrs for s in req_spans)
            else attr("cv.folds", "amplification"), "ratio"),
        "cv.forecast_s": (layer("cv.forecast"), "s"),
        "metrics.exec_s": (layer("metrics.exec"), "s"),
        "conformal.exec_s": (layer("conformal.exec"), "s"),
        "stats.exec_s": (layer("stats.exec"), "s"),
        "interactive.collect_s": (layer("interactive.collect"), "s"),
        "trace.overhead_frac": (overhead, "ratio"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()}

