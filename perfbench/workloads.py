"""The four workloads: their inputs, request mix and request code.

Every request enters the engine through ``sources.lineitem_panel`` and
reaches it only through its public operators.  Each workload is a closed
loop with one client; a request mix repeats in whole cycles, so every
seed sees the same multiset of request shapes in a seeded order.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from anofox_forecast_spark import sources
from anofox_forecast_spark.operators import conformal, cv, forecast, prep, stats
from anofox_forecast_spark.functions import metrics

from gen import Panel, PanelSpec

H = 14                       # forecast horizon of every forecast request
BT_H, BT_FOLDS = 7, 3        # backtest horizon and fold count

SQL_MODELS = [("Naive", {}), ("SeasonalNaive", {"seasonal_period": 7}),
              ("SMA", {"window": 5}), ("SES", {"alpha": 0.3}),
              ("CrostonClassic", {}), ("TSB", {})]
PY_MODELS = [(m, {"seasonal_period": 7})
             for m in ("AutoETS", "AutoARIMA", "OptimizedTheta", "HoltWinters")]
BT_MODELS = [("Naive", {}), ("SES", {"alpha": 0.3})]
INTERACTIVE_PY = ("Theta", "AutoETS")
INTERACTIVE_MAX_SLICE = 50


@dataclass(frozen=True)
class Req:
    """One request: what to run and on which series (None = all)."""
    kind: str                          # forecast | stats | single | backtest
    model: str | None = None
    params: dict = field(default_factory=dict)
    ids: tuple[int, ...] | None = None

    @property
    def shape(self) -> str:
        """Requests with the same shape run the same Spark plan and the
        same model code."""
        return f"{self.kind}/{self.model}"

    def series(self, panel: Panel) -> list[int]:
        return list(self.ids) if self.ids is not None else panel.ids.tolist()


@dataclass(frozen=True)
class Workload:
    name: str
    spec: PanelSpec
    gap_fill: bool       # run prep's gap fill before forecasting
    collect: bool        # fetch results with toPandas (else write parquet)
    why: str

    def cycle(self, rng: np.random.Generator,
              panel: Panel) -> list[tuple[Req, ...]]:
        """One seeded cycle of the request mix over ``panel``.  A request
        is a tuple of steps run back to back; only ``batch_python`` has
        more than one: a model comparison that fits every candidate model
        to the panel.  (One model per request made its median jump between
        the cheap and the costly models from seed to seed.)"""
        if self.name == "interactive":
            return [(r,) for r in _interactive_cycle(rng, panel)]
        if self.name == "backtest":
            reqs = [Req("backtest", m, p) for m, p in BT_MODELS]
        elif self.name == "batch_python":
            reqs = [Req("forecast", m, p) for m, p in PY_MODELS]
            return [tuple(reqs[i] for i in rng.permutation(len(reqs)))]
        else:
            reqs = [Req("forecast", m, p) for m, p in SQL_MODELS]
        return [(reqs[i],) for i in rng.permutation(len(reqs))]


def _interactive_cycle(rng: np.random.Generator, panel: Panel) -> list[Req]:
    n = len(panel.ids)

    def pick(k: int) -> tuple[int, ...]:
        return tuple(sorted(int(x) for x in rng.choice(panel.ids, min(k, n),
                                                       replace=False)))

    def size() -> int:
        return int(rng.integers(1, INTERACTIVE_MAX_SLICE + 1))

    reqs = [Req("forecast", "SES", {"alpha": 0.3}, pick(size()))]
    reqs += [Req("forecast", m, {"seasonal_period": 7}, pick(size()))
             for m in INTERACTIVE_PY]
    reqs += [
        Req("stats", ids=pick(size())),
        Req("single", "Theta", {"seasonal_period": 7}, pick(1)),
    ]
    return [reqs[i] for i in rng.permutation(len(reqs))]


BATCH_SQL = PanelSpec(1000, 180, gap_rate=0.10, intermittent=0.2, trend=0.3,
                      season_amp=0.3)
WORKLOADS = {w.name: w for w in [
    Workload("batch_sql", BATCH_SQL, gap_fill=True, collect=False,
             why="cheap models on a gappy, partly intermittent panel: "
                 "sources, prep and the Catalyst fast path, no Python"),
    Workload("batch_python",
             PanelSpec(300, 365, trend=0.4, season_amp=0.3),
             gap_fill=False, collect=False,
             why="optimizing models on long positive seasonal series: "
                 "the batched Python path and the model library"),
    Workload("backtest", PanelSpec(300, 100, trend=0.3, season_amp=0.3),
             gap_fill=False, collect=False,
             why="many tiny (series, fold) groups with trivial math: "
                 "per-group cost of the batched layer, cv, metrics, conformal"),
    Workload("interactive", BATCH_SQL, gap_fill=True, collect=True,
             why="small slices fetched with toPandas: the fixed per-request "
                 "cost of planning, scheduling and worker handoff"),
]}


# ---------------------------------------------------------------------------
# request code: the lazy pipeline of each request, layer by layer
# ---------------------------------------------------------------------------

def panel_df(spark, panel: Panel, req: Req):
    df = sources.lineitem_panel(spark, panel.path)
    if req.ids is not None:
        df = df.where(F.col("id").isin(list(req.ids)))
    return df


def fill_gaps(df):
    df = prep.ts_fill_gaps_by(df, "id", "ds", "y", "1d")
    return prep.ts_fill_nulls_const_by(df, "id", "ds", "y", 0.0)


def y_col(wl: Workload) -> str:
    return "filled_value" if wl.gap_fill else "y"


def forecast_df(wl: Workload, df, req: Req):
    if req.kind == "single":
        return forecast.ts_forecast(df, "ds", y_col(wl), req.model, H,
                                    req.params)
    return forecast.ts_forecast_by(df, "id", "ds", y_col(wl), req.model, H,
                                   "1d", req.params)


def stats_df(df):
    return stats.ts_stats_by(df, "id", "ds", "y", "1d")


def cv_folds_df(df):
    return cv.ts_cv_folds_by(df, "id", "ds", "y", BT_FOLDS, BT_H)


def cv_forecast_df(folds, req: Req):
    """``ts_backtest_auto_by``'s forecast and error step over staged folds."""
    fc = cv.ts_cv_forecast_by(folds, "id", "ds", "y", req.model, req.params)
    return fc.select(
        "fold_id", "id", "ds", F.col("yhat"), F.col("y").alias("actual"),
        (F.col("y") - F.col("yhat")).alias("error"),
        F.abs(F.col("y") - F.col("yhat")).alias("abs_error"),
        "yhat_lower", "yhat_upper", "model_name")


def backtest_df(df, req: Req):
    return cv.ts_backtest_auto_by(df, "id", "ds", "y", req.model, BT_H,
                                  BT_FOLDS, req.params)


def error_metrics(bt) -> dict:
    """Error metrics per (series, fold) of a backtest, collected."""
    ev = bt.select("id", "fold_id", "ds", "actual", "yhat")
    return {"mae": metrics.ts_mae_by(ev, "ds", "actual", "yhat").toPandas(),
            "smape": metrics.ts_smape_by(ev, "ds", "actual", "yhat").toPandas()}


def conformal_df(bt):
    """Split-conformal intervals per series of a backtest."""
    return conformal.ts_conformal_by(bt, "id", "actual", "yhat", "yhat",
                                     {"alpha": 0.1})


def full_df(spark, wl: Workload, panel: Panel, req: Req):
    """The whole request as one lazy plan, as a user would write it."""
    df = panel_df(spark, panel, req)
    if req.kind == "stats":
        return stats_df(df)
    if req.kind == "backtest":
        return backtest_df(df, req)
    if wl.gap_fill:
        df = fill_gaps(df)
    return forecast_df(wl, df, req)
