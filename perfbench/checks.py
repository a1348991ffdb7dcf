"""Output checks run on every request.

Each check returns a list of problems (empty = correct).  Model outputs
are replayed in-process with ``functions.models.forecast`` on a seeded
sample of each request's series: Python-path models must match bit for
bit, SQL-path models within ``REL_TOL`` relative.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from anofox_forecast_spark.functions import models as M

from gen import Panel
from workloads import BT_FOLDS, BT_H, H, Req

REL_TOL = 1e-9
N_REF = 20      # series replayed in-process per request
LEVEL = 0.90    # the operators' default confidence level


def ref_forecast(y: np.ndarray, h: int, req: Req):
    season = int(req.params.get("seasonal_period", 0) or 0)
    return M.forecast(y, h, req.model, season_length=season, level=LEVEL,
                      params=req.params)


def same(got, want, exact: bool) -> bool:
    a = np.asarray(got, dtype=float)
    b = np.asarray(want, dtype=float)
    if a.shape != b.shape:
        return False
    if exact:
        return a.tobytes() == b.tobytes()
    tol = REL_TOL * np.maximum(np.abs(a), np.abs(b))
    return bool(np.all(np.abs(a - b) <= np.maximum(tol, 1e-12)))


def _sample(rng: np.random.Generator, ids: list[int]) -> list[int]:
    return [int(i) for i in rng.choice(ids, min(N_REF, len(ids)),
                                       replace=False)]


def _intervals(lo, mid, up) -> list[str]:
    lo, mid, up = (np.asarray(x, dtype=float) for x in (lo, mid, up))
    errs = []
    if np.isnan(mid).any():
        errs.append("NULL or NaN yhat")
    if not np.all((lo <= mid) & (mid <= up)):
        errs.append("yhat outside [yhat_lower, yhat_upper]")
    return errs


def check_forecast(pdf: pd.DataFrame, req: Req, panel: Panel,
                   rng: np.random.Generator) -> list[str]:
    # every series of these panels has >= 3 valid points once gap-filled
    ids = req.series(panel)
    errs = []
    if len(pdf) != H * len(ids):
        errs.append(f"rows {len(pdf)} != {H} x {len(ids)} series")
    counts = pdf.groupby("id").size()
    if set(counts.index) != set(ids) or (counts != H).any():
        errs.append("series or steps per series differ from the input")
    errs += _intervals(pdf["yhat_lower"], pdf["yhat"], pdf["yhat_upper"])
    if errs:
        return errs
    exact = req.model not in M.SQL_PATH_MODELS
    by_id = {k: g.sort_values("forecast_step")
             for k, g in pdf.groupby("id")}
    for sid in _sample(rng, ids):
        r = ref_forecast(panel.dense[panel.series_of(sid)], H, req)
        g = by_id[sid]
        for col, want in (("yhat", r.point), ("yhat_lower", r.lower),
                          ("yhat_upper", r.upper)):
            if not same(g[col], want, exact):
                errs.append(f"series {sid}: {col} differs from in-process "
                            f"{req.model}")
                break
    return errs


def check_single(pdf: pd.DataFrame, req: Req, panel: Panel) -> list[str]:
    if len(pdf) != 1:
        return [f"single-series forecast returned {len(pdf)} rows"]
    row = pdf.iloc[0]
    errs = _intervals(row["lower"], row["point_forecasts"], row["upper"])
    r = ref_forecast(panel.dense[panel.series_of(req.ids[0])], H, req)
    if not same(row["point_forecasts"], r.point, exact=True):
        errs.append("single-series forecast differs from in-process")
    return errs


def check_stats(pdf: pd.DataFrame, req: Req, panel: Panel,
                rng: np.random.Generator) -> list[str]:
    ids = req.series(panel)
    if sorted(pdf["id"].tolist()) != sorted(ids):
        return ["stats rows differ from the requested series"]
    by_id = pdf.set_index("id")
    errs = []
    for sid in _sample(rng, ids):
        obs = panel.observed[panel.series_of(sid)]
        row = by_id.loc[sid]
        got = (row["length"], row["sum"], row["min"], row["max"])
        if got != (len(obs), obs.sum(), obs.min(), obs.max()):
            errs.append(f"series {sid}: length/sum/min/max differ")
    return errs


def check_backtest(bt: pd.DataFrame, ev: dict, req: Req, panel: Panel,
                   rng: np.random.Generator) -> list[str]:
    ids = req.series(panel)
    errs = []
    if len(bt) != BT_FOLDS * BT_H * len(ids):
        errs.append(f"rows {len(bt)} != {BT_FOLDS} x {BT_H} x {len(ids)}")
    err = np.abs(bt["actual"].to_numpy(float) - bt["yhat"].to_numpy(float))
    if not same(bt["abs_error"], err, exact=True):
        errs.append("abs_error != |actual - yhat|")
    errs += _intervals(bt["yhat_lower"], bt["yhat"], bt["yhat_upper"])
    for name in ("mae", "smape"):
        if len(ev[name]) != BT_FOLDS * len(ids):
            errs.append(f"{name}: {len(ev[name])} rows")
    if len(ev["conf"]) != len(ids):
        errs.append(f"conformal: {len(ev['conf'])} rows")
    if errs:
        return errs
    folds = {k: g.sort_values("ds") for k, g in bt.groupby(["id", "fold_id"])}
    mae = ev["mae"].set_index(["id", "fold_id"])["metric_value"]
    conf = ev["conf"].set_index("id")
    for sid in _sample(rng, ids):
        y = panel.dense[panel.series_of(sid)]
        init = len(y) - BT_H * BT_FOLDS
        for k in range(BT_FOLDS):
            cut = init + k * BT_H
            g = folds[(sid, k)]
            r = ref_forecast(y[:cut], BT_H, req)
            if not (same(g["actual"], y[cut:cut + BT_H], exact=True)
                    and same(g["yhat"], r.point, exact=True)):
                errs.append(f"series {sid} fold {k}: differs from in-process")
            want = np.mean(np.abs(y[cut:cut + BT_H] - r.point))
            if not same([mae[(sid, k)]], [want], exact=False):
                errs.append(f"series {sid} fold {k}: mae differs")
        c = conf.loc[sid]
        point = np.sort(np.concatenate([folds[(sid, k)]["yhat"].to_numpy()
                                        for k in range(BT_FOLDS)]))
        if not same(c["point"], point, exact=True):
            errs.append(f"series {sid}: conformal points differ")
        errs += _intervals(c["lower"], c["point"], c["upper"])
    return errs


def perturb(out: dict) -> dict:
    """Add 1 to the model output of one series (the self-test's planted
    fault); the checks must catch it."""
    out = dict(out)
    key = "bt" if "bt" in out else "out"
    pdf = out[key].copy()
    col = next(c for c in ("yhat", "point_forecasts", "sum") if c in pdf)
    first = pdf["id"] == pdf["id"].iloc[0] if "id" in pdf else pdf.index == 0
    if col == "point_forecasts":
        pdf[col] = [list(np.asarray(v) + 1.0) if f else v
                    for v, f in zip(pdf[col], first)]
    else:
        pdf.loc[first, col] = pdf.loc[first, col] + 1.0
    out[key] = pdf
    return out
