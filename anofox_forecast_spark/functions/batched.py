"""Batched grouped-map execution.

``groupBy(key).applyInPandas`` crosses the JVM↔Python boundary once per
GROUP; with millions of small series the per-crossing overhead (Arrow
framing, worker dispatch, pandas construction) dominates the actual math.
This helper provides the same per-group semantics at one crossing per Arrow
BATCH: ``repartition(keys) + sortWithinPartitions(keys, order) +
mapInPandas`` with carry-buffer stitching for groups that span adjacent
batches (the sort guarantees each group is contiguous within its partition).

Used by every per-series UDF operator (forecast, stats, data quality,
features, detect, cv-forecast, bootstrap). Results are byte-identical to
the grouped-map formulation — same rows per group — only the batching
changes.

The module is also the one home of the partition policy for per-series
stages (``series_partitions``): one task per core, with an explicit
count that AQE cannot coalesce, shared by the source panels so that the
operator's repartition over a source panel costs no exchange.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _same(kv: np.ndarray) -> np.ndarray:
    """``kv[i + 1]`` equals ``kv[i]``, a NULL key (None, NaN, NaT) equal
    to another NULL key: one group per key, NULL included, as
    ``groupBy`` makes them."""
    a, b = kv[1:], kv[:-1]
    eq = np.asarray(a == b, dtype=bool)
    return eq | (pd.isna(a) & pd.isna(b))


def series_partitions(spark: SparkSession) -> int:
    """The partition count for every stage that places series by key:
    the source panels, the source cache, ``batched_grouped_map`` and the
    fold aggregates of the SQL fast path all ask here.

    It is the cluster's core count (``defaultParallelism``). Per-series
    work is CPU-bound and tiny in bytes, so the byte-sized shuffle
    defaults starve it: ``spark.sql.shuffle.partitions`` is tuned for
    relational shuffles, and AQE coalesces a small shuffle down to ONE
    task. An explicit ``repartition(n, key)`` is never coalesced by
    AQE, and because the source and every operator use the same ``n``,
    Spark drops an operator's repartition over an already-placed panel
    as redundant — no exchange is added.

    Spark Connect has no SparkContext: there the shuffle conf is used,
    and 0 when that is unreadable (e.g. ``"auto"``), which callers take
    as "no explicit count"."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 — Spark Connect has no sparkContext
        try:
            return int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            return 0


def repartition_series(df: DataFrame, *keys) -> DataFrame:
    """``df.repartition(series_partitions(...), *keys)``; with no count
    available, keyed ``repartition(*keys)`` (or ``df`` itself when there
    are no keys either)."""
    n = series_partitions(df.sparkSession)
    if n:
        return df.repartition(n, *keys)
    return df.repartition(*keys) if keys else df


def batched_grouped_map(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    schema: T.StructType,
    one_group: Callable[[tuple, pd.DataFrame], pd.DataFrame | None],
) -> DataFrame:
    """Apply ``one_group(key_tuple, sorted_pdf)`` to every distinct
    ``key_cols`` group of ``df``; ``None`` skips the group (error
    isolation). Rows inside each group arrive sorted by ``order_col``.
    The groups of a batch are its runs of equal keys, found with numpy
    (no ``DataFrame.groupby``); NULL keys form one group, as in
    ``groupBy``.

    ``one_group`` may return either a ``pd.DataFrame`` or — the cheap
    columnar form (r13) — a tuple of per-column sequences in ``schema``
    field order. With the tuple form ONE pandas DataFrame is assembled
    per Arrow batch instead of one per series, which removes the
    dominant per-series overhead of the Python path (a 14-row DataFrame
    construction costs ~0.3 ms — 3x a whole SES fit after the C-twin
    work). Row content is identical either way: the legacy path
    ``pd.concat``-ed the same per-series pieces in the same order."""
    keys = list(key_cols)
    names = [f.name for f in schema.fields]

    def assemble(parts: list[tuple]) -> pd.DataFrame:
        cols = {}
        for i, nm in enumerate(names):
            pieces = [p[i] for p in parts]
            if all(isinstance(x, np.ndarray) for x in pieces):
                cols[nm] = pieces[0] if len(pieces) == 1 \
                    else np.concatenate(pieces)
            else:
                flat = []
                for x in pieces:
                    flat.extend(x)
                cols[nm] = flat
        return pd.DataFrame(cols)

    def emit(pdf: pd.DataFrame, starts: list[int]) -> Iterator[pd.DataFrame]:
        """``one_group`` over the key runs of ``pdf`` that begin at
        ``starts``, the last one ending at the frame's end."""
        # keys boxed as pandas' groupby boxes them (int, str, Timestamp)
        kts = zip(*[pdf[k].iloc[starts].tolist() for k in keys])
        out = []
        tup = []
        for kt, s, e in zip(kts, starts, starts[1:] + [len(pdf)]):
            r = one_group(kt, pdf.iloc[s:e])
            if r is None:
                continue
            if isinstance(r, tuple):
                tup.append(r)
            elif len(r):
                out.append(r)
        if tup:
            # skip all-empty assemblies (e.g. every group returned
            # zero-length columns at h=0) — the legacy DataFrame
            # path's len(r) guard never yielded empties, and an
            # empty object-dtype frame would lean on Arrow's
            # null-array coercion against the typed schema
            adf = assemble(tup)
            if len(adf):
                yield adf
        if out:
            yield pd.concat(out, ignore_index=True)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                carry = None
                continue
            new = np.zeros(len(pdf), dtype=bool)
            new[0] = True
            for k in keys:
                new[1:] |= ~_same(pdf[k].to_numpy())
            starts = np.flatnonzero(new).tolist()
            # hold back the trailing run — it may continue in the next batch
            carry = pdf.iloc[starts[-1]:]
            if len(starts) > 1:
                yield from emit(pdf.iloc[:starts[-1]], starts[:-1])
        if carry is not None and len(carry):
            yield from emit(carry, [0])

    # one task per core (see series_partitions); results are
    # partitioning-invariant (pinned by tests)
    parts = repartition_series(df, *keys).sortWithinPartitions(*keys,
                                                               order_col)
    return parts.mapInPandas(fn, schema)
