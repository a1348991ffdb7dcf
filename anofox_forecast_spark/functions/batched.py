"""Batched grouped-map execution, and the one DataFrame runner of a
per-series operator.

``groupBy(key).applyInPandas`` crosses the JVM↔Python boundary once per
GROUP; with millions of small series the per-crossing overhead (Arrow
framing, worker dispatch, pandas construction) dominates the actual math.
``batched_grouped_map`` provides the same per-group semantics at one
crossing per Arrow BATCH: ``repartition(keys) + sortWithinPartitions(keys,
order) + mapInPandas`` with carry-buffer stitching for groups that span
adjacent batches (the sort guarantees each group is contiguous within its
partition). Each column is converted to numpy once per batch; a group
reaches its function as numpy slices of those arrays and returns its
output as columns, which become one pandas DataFrame per batch. Results
are row-identical to the grouped-map formulation; only the batching
changes.

A per-series operator is a :class:`SeriesOp` (output fields + one kernel
over a series' ``ds`` and ``y`` arrays). It has one runner per surface:
:func:`series_map` here for the DataFrame operators (stats, data quality,
features, detection, the model-library forecast), and
``functions/sql.py::_series_udtf`` for their SQL table functions. CV,
conformal, bootstrap, inspect and explain call ``batched_grouped_map``
directly.

The module is also the one home of the partition policy for per-series
stages (``series_partitions``): one task per core, with an explicit
count that AQE cannot coalesce, shared by the source panels so that the
operator's repartition over a source panel costs no exchange.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

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
    one_group: Callable[[tuple, dict], tuple | None],
) -> DataFrame:
    """Apply ``one_group(key_tuple, cols)`` to every distinct ``key_cols``
    group of ``df``, its rows sorted by ``order_col``.

    ``cols`` maps each column of ``df`` to the group's slice of a numpy
    array: every column is converted to numpy once per Arrow batch, and
    a group costs a slice (a view), no pandas object. The groups of a
    batch are its runs of equal keys, found with numpy; NULL keys form
    one group, as in ``groupBy``. Key values are boxed as pandas boxes
    them (int, str, ``Timestamp``; a NULL key as None, NaN or NaT).

    ``one_group`` returns the group's output as a tuple of columns in
    ``schema`` field order (sequences of one length), or ``None`` to skip
    the group (error isolation). The columns of a batch's groups become
    ONE pandas DataFrame per Arrow batch."""
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

    def emit(cols: dict, starts: list[int], end: int) -> Iterator[pd.DataFrame]:
        """``one_group`` over the key runs of ``cols`` that begin at
        ``starts``, the last one ending at ``end``."""
        kts = zip(*[pd.Series(cols[k][starts]).tolist() for k in keys])
        parts = []
        for kt, s, e in zip(kts, starts, starts[1:] + [end]):
            r = one_group(kt, {c: a[s:e] for c, a in cols.items()})
            if r is not None:
                parts.append(r)
        if parts:
            # groups that all returned zero-length columns (e.g. h=0)
            # yield nothing: an empty object-dtype frame would lean on
            # Arrow's null-array coercion against the typed schema
            adf = assemble(parts)
            if len(adf):
                yield adf

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: dict | None = None
        for pdf in batches:
            cols = {c: pdf[c].to_numpy() for c in pdf.columns}
            if carry is not None:
                cols = {c: np.concatenate([carry[c], a])
                        for c, a in cols.items()}
            n = len(cols[keys[0]])
            if not n:
                carry = None
                continue
            new = np.zeros(n, dtype=bool)
            new[0] = True
            for k in keys:
                new[1:] |= ~_same(cols[k])
            starts = np.flatnonzero(new).tolist()
            # hold back the trailing run — it may continue in the next batch
            carry = {c: a[starts[-1]:] for c, a in cols.items()}
            if len(starts) > 1:
                yield from emit(cols, starts[:-1], starts[-1])
        if carry is not None:
            yield from emit(carry, [0], len(carry[keys[0]]))

    # one task per core (see series_partitions); results are
    # partitioning-invariant (pinned by tests)
    parts = repartition_series(df, *keys).sortWithinPartitions(*keys,
                                                               order_col)
    return parts.mapInPandas(fn, schema)


@dataclass(frozen=True)
class SeriesOp:
    """A per-series operator: ONE computation over a ds-sorted series
    that both surfaces run — the DataFrame operators through
    :func:`series_map`, the SQL table functions through
    ``functions/sql.py::_series_udtf``.

    ``fields(ds_name, ds_type, y_name, *args)`` lists its output fields
    after the group column. ``kernel(ds, y, *args)`` returns those
    columns for one series, in field order, or ``None`` to skip the
    series. ``ds`` holds the dates, NULL first (datetime64 or integers on
    the DataFrame side; objects for DATE and on the SQL side), and ``y``
    the values as float64 with NULL as NaN. With ``int_ds`` the kernel takes one more argument,
    whether the ds column has an integer type (its dates are ordinals)."""

    fields: Callable[..., list]
    kernel: Callable[..., tuple | None]
    int_ds: bool = False

    def kernel_args(self, ds_type: T.DataType, args: tuple) -> tuple:
        """The kernel's arguments after ``(ds, y)`` over a ds column of
        ``ds_type``."""
        if not self.int_ds:
            return args
        return (*args, isinstance(ds_type, (T.IntegerType, T.LongType)))


def series_map(df: DataFrame, group_col: str, ds_col: str, y_col: str,
               op: SeriesOp, *args, lead: T.StructField | None = None
               ) -> DataFrame:
    """Run ``op`` over every ``group_col`` series of ``df``, the one
    DataFrame runner of a :class:`SeriesOp`: ``y`` is cast to DOUBLE, and
    the output is the group column then ``op.fields``. ``lead``, when
    given, is the group column's output field (its name, type and
    nullability)."""
    ds_type = df.schema[ds_col].dataType
    if lead is None:
        lead = T.StructField(group_col, df.schema[group_col].dataType)
    schema = T.StructType([lead] + op.fields(ds_col, ds_type, y_col, *args))
    kargs = op.kernel_args(ds_type, args)
    g, d, y = (f"`{c.replace('`', '``')}`" for c in (group_col, ds_col,
                                                      y_col))
    base = df.selectExpr(g, d, f"CAST({y} AS DOUBLE) AS {y}")

    def one(kt, cols):
        out = op.kernel(cols[ds_col], cols[y_col], *kargs)
        return None if out is None else ([kt[0]] * len(out[0]), *out)

    return batched_grouped_map(base, [group_col], ds_col, schema, one)
