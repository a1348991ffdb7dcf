"""Cross-validation / backtesting operators (SURVEY.md §2.7).

Parity targets: ``ts_cv_folds_by`` (macro ``ts_macros.cpp:1364-1408`` →
``ts_cv_folds_native.cpp``), ``ts_cv_split_by`` family
(``ts_macros.cpp:1121-1318``), ``ts_cv_forecast_by``
(``ts_macros.cpp:731-755``), the backtest wrapper
(``ts_backtest_native.cpp``), and ``ts_cv_hydrate_by``
(``ts_macros.cpp:1409-1452``).

Fold semantics are **position-based** per group, exactly the reference's
``ComputeFoldBoundaries`` (``ts_backtest_native.cpp:614-700``):

- ``init_train = initial_train_size or max(n - horizon*n_folds, 1)``
- fold k: ``train_end = init_train - 1 + k*skip``;
  ``test_start = train_end + 1 + gap``; ``test_end = test_start + horizon - 1``
  (clipped to ``n-1`` when ``clip_horizon``)
- ``train_start = 0`` (expanding) or ``max(train_end + 1 - min_train_size, 0)``
  (fixed/sliding), pushed past the previous fold's test end + embargo.

Everything except ``ts_cv_forecast_by`` is pure Spark SQL: a row_number
window, a per-group fold-spec frame (one row per (group, fold)), and a
range-condition join — fully Catalyst-planned, one shuffle on the group key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..frequency import parse_frequency
from ..functions.batched import batched_grouped_map
from .forecast import fit_one, forecast_spec


def _fold_params(params: dict | None) -> dict:
    p = dict(params or {})
    return {
        "gap": int(p.get("gap", 0)),
        "embargo": int(p.get("embargo", 0)),
        "window_type": str(p.get("window_type", "expanding")),
        "min_train_size": int(p.get("min_train_size", 1)),
        "initial_train_size": int(p.get("initial_train_size", 0)),
        "skip_length": int(p.get("skip_length", 0)),
        "clip_horizon": bool(p.get("clip_horizon", False)),
    }


def _fold_bounds(n_folds: int, horizon: int, p: dict):
    """Fold boundary expressions over ``__n`` (group length) and
    ``fold_id`` columns, mirroring ComputeFoldBoundaries. Returns
    ``(train_start, train_end, test_start, test_end, valid)``."""
    h = int(horizon)
    skip = p["skip_length"] if p["skip_length"] > 0 else h
    gap, embargo, min_train = p["gap"], p["embargo"], p["min_train_size"]
    n = F.col("__n")
    f = F.col("fold_id")
    if p["initial_train_size"] > 0:
        init = F.lit(p["initial_train_size"])
    else:
        init = F.greatest(n - F.lit(h * int(n_folds)), F.lit(1))
    train_end = init - 1 + f * skip
    test_start = train_end + 1 + gap
    test_end_raw = test_start + h - 1
    if p["clip_horizon"]:
        test_end = F.least(test_end_raw, n - 1)
        valid = test_start < n
    else:
        test_end = test_end_raw
        valid = test_end_raw < n
    if p["window_type"] == "expanding":
        train_start = F.lit(0)
    else:
        train_start = F.greatest(train_end + 1 - min_train, F.lit(0))
    if embargo > 0:
        prev_test_end = init - 1 + (f - 1) * skip + gap + h
        if p["clip_horizon"]:
            prev_test_end = F.least(prev_test_end, n - 1)
        train_start = F.when(f > 0, F.greatest(train_start, prev_test_end + 1 + embargo)) \
                       .otherwise(train_start)
    return train_start, train_end, test_start, test_end, valid


def ts_cv_folds_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                   n_folds: int, horizon: int,
                   params: dict | None = None) -> DataFrame:
    """Rows tagged (``fold_id``, ``split`` 'train'|'test'); input rows are
    repeated per fold they participate in. Output
    ``(<group>, <ds>, <y>, fold_id, split)``.

    Physical shape (r13): the per-group length rides a second window over
    the SAME partitioning as the position window (one exchange + sort
    computes both), and the fold boundaries are evaluated per (row, fold)
    directly on the explode — the old per-group spec frame cost a second
    evaluation of the whole upstream panel (its groupBy count) plus a
    join back onto the rows (two more exchanges at bench scale). Row
    multiset is identical: the boundary math is per-(group-length,
    fold_id) either way, and the valid/split filters are the same
    conjunctions.
    """
    p = _fold_params(params)
    base = df.select(group_col, ds_col, y_col)
    w = Window.partitionBy(group_col).orderBy(ds_col)
    wn = Window.partitionBy(group_col)
    rows = (base.withColumn("__pos", F.row_number().over(w) - 1)
                .withColumn("__n", F.count(F.lit(1)).over(wn)))
    train_start, train_end, test_start, test_end, valid = \
        _fold_bounds(n_folds, horizon, p)
    joined = (rows.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(int(n_folds) - 1)))
              .alias("fold_id"))
        .withColumn("__train_start", train_start)
        .withColumn("__train_end", train_end)
        .withColumn("__test_start", test_start)
        .withColumn("__test_end", test_end)
        .filter(valid)
        .filter(F.col("__train_end") >= F.col("__train_start")))
    pos = F.col("__pos")
    split = (F.when((pos >= F.col("__train_start")) & (pos <= F.col("__train_end")),
                    F.lit("train"))
              .when((pos >= F.col("__test_start")) & (pos <= F.col("__test_end")),
                    F.lit("test")))
    return (joined.withColumn("split", split)
            .filter(F.col("split").isNotNull())
            .select(group_col, ds_col, y_col,
                    F.col("fold_id").cast("long").alias("fold_id"), "split"))


def ts_cv_split_folds_by(df: DataFrame, group_col: str, ds_col: str,
                         training_end_times: list, horizon: int, frequency,
                         params: dict | None = None) -> DataFrame:
    """Explicit-cutoff fold boundaries: one row per fold
    ``(fold_id, train_start, train_end, test_start, test_end, horizon, gap,
    embargo)`` — ref macro ``ts_macros.cpp:1121+``."""
    p = dict(params or {})
    gap = int(p.get("gap", 0))
    embargo = int(p.get("embargo", 0))
    freq = parse_frequency(frequency)
    spark = df.sparkSession
    cuts = spark.createDataFrame(
        [(i, str(t)) for i, t in enumerate(sorted(training_end_times))],
        ["fold_id", "__cut_raw"],
    ).select("fold_id", F.col("__cut_raw").cast("timestamp").alias("train_end"))
    # 1-row global-min frame, broadcast-crossJoined below — NO driver-side
    # collect(): collecting here would force a full scan + driver round-trip
    # before the real job (at 100 TB that doubles the scan)
    gmin = df.groupBy().agg(
        F.min(F.col(ds_col).cast("timestamp")).alias("train_start"))
    h = int(horizon)
    if freq.kind == "month":
        test_start = F.add_months(F.col("train_end"), (gap + 1) * freq.n).cast("timestamp")
        test_end = F.add_months(F.col("train_end"), (gap + h) * freq.n).cast("timestamp")
    else:
        sec = freq.n if freq.kind == "fixed" else 86400
        test_start = F.timestamp_add("SECOND", F.lit((gap + 1) * sec), F.col("train_end"))
        test_end = F.timestamp_add("SECOND", F.lit((gap + h) * sec), F.col("train_end"))
    return cuts.crossJoin(F.broadcast(gmin)).select(
        F.col("fold_id").cast("long"),
        F.col("train_start"),
        F.col("train_end"),
        test_start.alias("test_start"),
        test_end.alias("test_end"),
        F.lit(h).cast("long").alias("horizon"),
        F.lit(gap).cast("long").alias("gap"),
        F.lit(embargo).cast("long").alias("embargo"),
    )


def ts_cv_split_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                   training_end_times: list, horizon: int, frequency="1d",
                   params: dict | None = None) -> DataFrame:
    """Rows tagged by explicit cutoff folds: train = ds ≤ cutoff,
    test = the ``horizon`` grid points after cutoff (+gap)."""
    folds = ts_cv_split_folds_by(df, group_col, ds_col, training_end_times,
                                 horizon, frequency, params)
    base = df.select(group_col, ds_col, y_col) \
             .withColumn("__dt", F.col(ds_col).cast("timestamp"))
    j = base.crossJoin(F.broadcast(folds))
    split = (F.when(F.col("__dt") <= F.col("train_end"), F.lit("train"))
              .when((F.col("__dt") >= F.col("test_start"))
                    & (F.col("__dt") <= F.col("test_end")), F.lit("test")))
    return (j.withColumn("split", split)
             .filter(F.col("split").isNotNull())
             .select(group_col, ds_col, y_col, "fold_id", "split"))


def ts_cv_split_index_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                         training_end_indices: list[int], horizon: int,
                         params: dict | None = None) -> DataFrame:
    """Position-index variant of explicit-cutoff splits."""
    p = dict(params or {})
    gap = int(p.get("gap", 0))
    h = int(horizon)
    base = df.select(group_col, ds_col, y_col)
    w = Window.partitionBy(group_col).orderBy(ds_col)
    rows = base.withColumn("__pos", F.row_number().over(w) - 1)
    spark = df.sparkSession
    spec = spark.createDataFrame(
        [(i, int(ix)) for i, ix in enumerate(sorted(training_end_indices))],
        ["fold_id", "__train_end"])
    j = rows.crossJoin(F.broadcast(spec))
    pos = F.col("__pos")
    te = F.col("__train_end")
    split = (F.when(pos <= te, F.lit("train"))
              .when((pos >= te + 1 + gap) & (pos <= te + gap + h), F.lit("test")))
    return (j.withColumn("split", split).filter(F.col("split").isNotNull())
             .select(group_col, ds_col, y_col,
                     F.col("fold_id").cast("long").alias("fold_id"), "split"))


def ts_cv_forecast_by(folds_df: DataFrame, group_col: str, ds_col: str,
                      y_col: str, method: str,
                      params: dict | None = None) -> DataFrame:
    """Fit ``method`` on each (group, fold) train slice, predict the test
    rows. Output ``(fold_id, <group>, <ds>, <y>, split='test', yhat,
    yhat_lower, yhat_upper, model_name)`` — ref
    ``ts_cv_forecast_native.cpp:461-485``."""
    spec = forecast_spec(method, params=params)
    gtype = folds_df.schema[group_col].dataType
    ds_type = folds_df.schema[ds_col].dataType
    schema = T.StructType([
        T.StructField("fold_id", T.LongType()),
        T.StructField(group_col, gtype),
        T.StructField(ds_col, ds_type),
        T.StructField(y_col, T.DoubleType()),
        T.StructField("split", T.StringType()),
        T.StructField("yhat", T.DoubleType()),
        T.StructField("yhat_lower", T.DoubleType()),
        T.StructField("yhat_upper", T.DoubleType()),
        T.StructField("model_name", T.StringType()),
    ])

    def fn(key: tuple, cols: dict):
        gval, fold = key
        train, test = cols["split"] == "train", cols["split"] == "test"
        h = int(test.sum())
        if h == 0 or train.sum() < 3:
            return None
        y = cols[y_col].astype(float)
        r = fit_one(spec, y[train], h)
        if r is None:
            return None
        return ([fold] * h, [gval] * h, cols[ds_col][test], y[test],
                ["test"] * h, r.point, r.lower, r.upper, [r.model_name] * h)

    return batched_grouped_map(folds_df, [group_col, "fold_id"], ds_col,
                               schema, fn)


def ts_backtest_auto_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                        method: str, horizon: int, n_folds: int,
                        params: dict | None = None) -> DataFrame:
    """One-shot backtest = folds + per-fold forecast + error columns.
    Output ``(fold_id, <group>, <ds>, yhat, actual, error, abs_error,
    yhat_lower, yhat_upper, model_name)`` — ref ``ts_backtest_native.cpp``."""
    folds = ts_cv_folds_by(df, group_col, ds_col, y_col, n_folds, horizon, params)
    fc = ts_cv_forecast_by(folds, group_col, ds_col, y_col, method, params)
    return fc.select(
        "fold_id", group_col, ds_col,
        F.col("yhat"),
        F.col(y_col).alias("actual"),
        (F.col(y_col) - F.col("yhat")).alias("error"),
        F.abs(F.col(y_col) - F.col("yhat")).alias("abs_error"),
        "yhat_lower", "yhat_upper", "model_name",
    )


def ts_cv_hydrate_by(cv_df: DataFrame, source_df: DataFrame, group_col: str,
                     ds_col: str, unknown_features: list[str],
                     params: dict | None = None) -> DataFrame:
    """Join the fold skeleton with feature columns, masking 'unknown' features
    in test rows by strategy ``last_value|null|default`` — leakage prevention
    for ML regressors (ref macro ``ts_macros.cpp:1409-1452``)."""
    p = dict(params or {})
    strategy = p.get("strategy", "last_value")
    fill_value = float(p.get("fill_value", 0.0))
    feat_cols = [c for c in source_df.columns if c not in (group_col, ds_col)]
    joined = cv_df.join(source_df, on=[group_col, ds_col], how="left")
    w = (Window.partitionBy(group_col, "fold_id").orderBy(ds_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = joined
    for c in unknown_features:
        if c not in feat_cols:
            raise ValueError(f"unknown_feature {c!r} not in source columns")
        is_test = F.col("split") == "test"
        if strategy == "null":
            masked = F.when(is_test, F.lit(None)).otherwise(F.col(c))
        elif strategy == "default":
            masked = F.when(is_test, F.lit(fill_value)).otherwise(F.col(c))
        elif strategy == "last_value":
            masked = F.when(
                is_test,
                F.last(F.when(F.col("split") == "train", F.col(c)),
                       ignorenulls=True).over(w)).otherwise(F.col(c))
        else:
            raise ValueError(f"unknown strategy {strategy!r}")
        out = out.withColumn(c, masked)
    return out


def ts_hydrate_features_by(cv_df: DataFrame, source_df: DataFrame,
                           group_col: str, ds_col: str,
                           params: dict | None = None) -> DataFrame:
    """Join CV fold assignments back onto the full-width source table — the
    leakage-safe starting point for regression backtests (ref
    ``test/sql/ts_hydrate_features.test``; companion of ``ts_cv_split_by``).

    Output contract (the reference's literal names): ``fold_id, split,
    group_col, date_col, target_col, _is_test, _train_cutoff`` followed by
    every source column except the join keys and the target.
    ``_train_cutoff`` is the fold's max train date — the one value needed
    for downstream unknown-feature masking/filling. The target column is
    inferred from the cv frame (its single non-key data column) or passed
    via ``params={'target_col': ...}``.

    Scale: one shuffle join on (group, date); the per-fold cutoffs reduce
    to a k-row aggregate broadcast back — never a window over ``fold_id``,
    which would funnel each fold's rows through one task."""
    p = dict(params or {})
    known = {group_col, ds_col, "fold_id", "split"}
    cands = [c for c in cv_df.columns if c not in known]
    target = p.get("target_col") or (cands[0] if len(cands) == 1 else None)
    if target is None:
        raise ValueError(
            "ts_hydrate_features_by: ambiguous cv columns "
            f"{cv_df.columns}; pass params={{'target_col': ...}}")
    cuts = (cv_df.filter(F.col("split") == "train")
            .groupBy("fold_id")
            .agg(F.max(F.col(ds_col).cast("timestamp"))
                 .alias("_train_cutoff")))
    feats = [c for c in source_df.columns
             if c not in (group_col, ds_col, target)]
    src = source_df.select(group_col, ds_col, *feats)
    return (cv_df.join(src, on=[group_col, ds_col], how="inner")
            .join(F.broadcast(cuts), on="fold_id", how="left")
            .select(F.col("fold_id"), F.col("split"),
                    F.col(group_col).alias("group_col"),
                    F.col(ds_col).alias("date_col"),
                    F.col(target).alias("target_col"),
                    (F.col("split") == "test").alias("_is_test"),
                    F.col("_train_cutoff"), *feats))


def ts_prepare_regression_input_by(cv_df: DataFrame, source_df: DataFrame,
                                   group_col: str, ds_col: str, y_col: str,
                                   params: dict | None = None) -> DataFrame:
    """Adapter feeding fit-predict regression backtests (ref
    ``test/sql/ts_prepare_regression_input.test``): each source row joined
    to its CV fold assignments with the target forced NULL on test rows,
    so a downstream fit-predict treats them as prediction rows; gap/embargo
    rows drop out because the cv frame only carries train/test.

    Output: ``fold_id, split, group_col, date_col, masked_target,
    _is_test`` then every source column except the join keys — the raw
    target INCLUDED, as in the reference (its backtest examples select it
    back as the actual for metric computation).

    Scale: a single shuffle join on (group, date); per-fold row
    multiplication is bounded by the fold count."""
    feats = [c for c in source_df.columns if c not in (group_col, ds_col)]
    j = (cv_df.select(group_col, ds_col, "fold_id", "split")
         .join(source_df, on=[group_col, ds_col], how="inner"))
    masked = (F.when(F.col("split") == "test", F.lit(None))
              .otherwise(F.col(y_col).cast("double")))
    return j.select("fold_id", "split",
                    F.col(group_col).alias("group_col"),
                    F.col(ds_col).alias("date_col"),
                    masked.alias("masked_target"),
                    (F.col("split") == "test").alias("_is_test"),
                    *feats)


def ts_estimate_backtest_memory(n_series: int, length: int, folds: int,
                                horizon: int) -> dict:
    """Planning helper (ref ``metrics.cpp:1081-1111``): rough bytes needed.
    In Spark the relevant number is per-task group size, not global."""
    per_group = length * 16 * (folds + 1)
    return {
        "bytes_per_group": per_group,
        "total_bytes": per_group * n_series,
        "note": "Spark holds one group per task in memory; size executors so "
                "bytes_per_group * concurrent tasks fits in executor memory.",
    }
