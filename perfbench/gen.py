"""Seeded input generator: writes ``lineitem``-shaped parquet panels.

Each workload's input is a table with the three columns
``sources.lineitem_panel`` reads (``l_suppkey``, ``l_shipdate``,
``l_quantity``), so every request enters the engine the way a user's
lineitem table does.  Quantities are whole numbers: the panel's per-day
``sum`` is exact in any order, which lets the output checks replay the
models in-process on the very arrays the engine sees.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START = dt.date(2020, 1, 1)
SEASON = 7


@dataclass(frozen=True)
class PanelSpec:
    """What a workload's input panel looks like."""
    series: int
    days: int
    gap_rate: float = 0.0        # share of interior days with no rows
    intermittent: float = 0.0    # share of series with sparse demand
    trend: float = 0.0           # max slope, as a share of level per 100 days
    season_amp: float = 0.0      # max weekly amplitude, as a share of level

    def scaled(self, scale: float) -> "PanelSpec":
        return PanelSpec(max(4, int(round(self.series * scale))), self.days,
                         self.gap_rate, self.intermittent, self.trend,
                         self.season_amp)


@dataclass
class Panel:
    """A generated panel: where its parquet is, and the dense arrays the
    engine should derive from it (gap days filled with 0)."""
    path: str
    ids: np.ndarray                 # int64 series keys, ascending
    dense: list[np.ndarray]         # gap-filled y per series
    observed: list[np.ndarray]      # observed y per series (no gap days)
    content_hash: str

    def series_of(self, sid: int) -> int:
        return int(np.searchsorted(self.ids, sid))


def _series(rng: np.random.Generator, spec: PanelSpec, intermittent: bool):
    n = spec.days
    t = np.arange(n, dtype=float)
    if intermittent:
        p = rng.uniform(0.2, 0.4)
        y = np.where(rng.random(n) < p, rng.integers(1, 11, n), 0).astype(float)
        y[0] = max(y[0], 1.0)
        y[-1] = max(y[-1], 1.0)
        return y, y > 0
    level = rng.uniform(20.0, 200.0)
    slope = rng.uniform(-0.2, 1.0) * spec.trend * level / 100.0
    profile = rng.normal(0.0, 1.0, SEASON)
    profile /= max(np.abs(profile).max(), 1e-9)
    amp = rng.uniform(0.3, 1.0) * spec.season_amp * level
    noise = rng.normal(0.0, 0.08 * level, n)
    y = np.maximum(np.round(level + slope * t + amp * profile[np.arange(n) % SEASON]
                            + noise), 1.0)
    keep = rng.random(n) >= spec.gap_rate
    keep[0] = keep[-1] = True
    return np.where(keep, y, 0.0), keep


def generate(spec: PanelSpec, seed: int, out_dir: str) -> Panel:
    """Write ``out_dir/lineitem.parquet`` for ``spec`` and ``seed``.
    The same arguments give the same rows and the same content hash."""
    rng = np.random.default_rng(seed)
    n_int = int(round(spec.series * spec.intermittent))
    ids = np.arange(1, spec.series + 1, dtype=np.int64)
    # series start on staggered days so panels are not one aligned block
    first_day = rng.integers(0, SEASON, spec.series)
    keys, days, qty = [], [], []
    dense, observed = [], []
    for i in range(spec.series):
        y, keep = _series(rng, spec, intermittent=i < n_int)
        dense.append(y)
        observed.append(y[keep])
        d = np.nonzero(keep)[0]
        v = y[keep]
        # a third of the days arrive as two line items summing to the day
        split = rng.random(len(d)) < 0.3
        part = np.floor(v[split] * rng.uniform(0.2, 0.8, split.sum()))
        keys.append(np.full(len(d) + split.sum(), ids[i]))
        days.append(np.concatenate([d, d[split]]) + first_day[i])
        first = v.copy()
        first[split] = v[split] - part
        qty.append(np.concatenate([first, part]))
    key = np.concatenate(keys)
    day = np.concatenate(days).astype(np.int32)
    q = np.concatenate(qty)
    # rows land in random order, as in a real fact table
    perm = rng.permutation(len(key))
    key, day, q = key[perm], day[perm], q[perm]
    h = hashlib.sha256()
    for arr in (key, day, q):
        h.update(np.ascontiguousarray(arr).tobytes())
    epoch = (START - dt.date(1970, 1, 1)).days
    table = pa.table({
        "l_suppkey": pa.array(key, pa.int64()),
        "l_shipdate": pa.array(day + epoch, pa.int32()).cast(pa.date32()),
        "l_quantity": pa.array(q, pa.float64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "lineitem.parquet")
    pq.write_table(table, path, row_group_size=1 << 20)
    return Panel(out_dir, ids, dense, observed, h.hexdigest()[:16])
