"""Source readers and panel derivations over the driver testdata.

The engine's universal input shape is the long-format panel
``(id, ds, y)`` (SURVEY.md §1.1). These helpers load the TPC-H-ish
parquet tables and derive deterministic panels from them, matching the
derivations documented in FIXTURES.md ("Driver testdata mapping").

Every table is read through ``load_table``, a ``spark.read.parquet`` that
supplies the schema Spark inferred for the same files before (see
``_read_parquet``), so predicate pushdown and column pruning reach the
scan as before and the read starts no schema-inference job.
``lineitem_panel``, the panel every forecast benchmark enters through, is
built as SQL text (``selectExpr``/``F.expr``): the same Catalyst operators
as the Column DSL, for far fewer py4j round trips.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.batched import repartition_series

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Column-metadata key carrying a producer's no-NaN witness. A FLOAT
#: column tagged with this (truthfully — make it true BY CONSTRUCTION,
#: e.g. ``coalesce(nanvl(x, NULL), 0.0)`` which maps any NaN to 0.0
#: before the tag is attached) lets ``interpolate_nulls_df`` keep its
#: non-nullable short-circuit under the forecast path's
#: NaN-is-missing semantics: non-nullable rules out NULL, the witness
#: rules out NaN, so no row can need repair and the two in-partition
#: sorts + seven window columns of the null-repair pass are skipped.
#: Columns without the witness take the safe path. Producers:
#:
#: - ``lineitem_panel``'s ``y`` (its ``coalesce(nanvl(sum, NULL), 0.0)``);
#: - ``prep.ts_fill_gaps_by`` / ``ts_fill_forward_by`` keep the input
#:   ``y``'s metadata: the rows they insert are NULL, never NaN;
#: - ``prep.ts_fill_nulls_const_by`` tags ``filled_value`` when its input
#:   ``y`` carries the witness and the fill value is a number, not NaN.
#:
#: So a gap-filled, const-filled panel forecasts without the repair pass.
NO_NAN_METADATA = "anofox_no_nan"

# Opt-in panel cache: repeated queries over one input all re-derive the same
# scan+groupBy panel; persisting it once removes the repeated input stage.
# Off by default — the correctness driver hands us fresh sessions and must
# never see a DataFrame bound to an older one; perfbench switches it off
# explicitly so every request pays its own scan.
_CACHE: dict[tuple, DataFrame] = {}
_CACHE_ENABLED = False


def enable_source_cache(enabled: bool = True) -> None:
    global _CACHE_ENABLED
    _CACHE_ENABLED = enabled
    if not enabled:
        for df in _CACHE.values():
            try:
                df.unpersist()
            except Exception:
                pass
        _CACHE.clear()


def _cached(key: tuple, build, spread: bool = False,
            partition_on: str | None = None):
    if not _CACHE_ENABLED:
        return build()
    if key not in _CACHE:
        from pyspark import StorageLevel
        df = build()
        if partition_on is not None:
            # persist hash-partitioned on the series key: the cached scan
            # then already satisfies every downstream window / groupBy
            # ClusteredDistribution on that key, so repeated per-series
            # queries run shuffle-free off the cache — the in-memory
            # analogue of bucketing the panel table at 100 TB
            df = repartition_series(df, partition_on)
        elif spread:
            # one small parquet file scans as ONE partition; when persisting
            # for repeated reuse, spread it across the executors first (at
            # real scale many input files provide this parallelism natively)
            df = repartition_series(df)
        _CACHE[key] = df.persist(StorageLevel.MEMORY_AND_DISK)
    return _CACHE[key]


# session -> {path: (stamp, schema)}: the schema Spark inferred for a
# parquet path, while the stamp (the path's file listing and the confs that
# change inferred types) is unchanged. None for a session whose bare paths
# do not name local files. Weak keys: an entry lives exactly as long as its
# session object, and a new session never sees another's entry.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

#: session confs that change the types Spark infers from parquet footers
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def _session_schemas(spark: SparkSession) -> dict | None:
    """This session's schema entries; None when a bare path names no local
    file here (a non-local default file system, or Spark Connect)."""
    if spark not in _SCHEMAS:
        try:
            fs = spark.sparkContext._jsc.hadoopConfiguration().get(
                "fs.defaultFS", "file:///")
        except Exception:  # noqa: BLE001 — Spark Connect has no sparkContext
            fs = ""
        _SCHEMAS[spark] = {} if fs.startswith("file:") else None
    return _SCHEMAS[spark]


def _files_stamp(path: str) -> tuple | None:
    """``(name, st_mtime_ns, st_size)`` of every file at ``path`` (a file,
    or a directory walked recursively), or None when ``path`` cannot be
    ``stat``-ed (e.g. a URI)."""
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_mtime_ns, st.st_size),)
    files = []
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for n in sorted(names):
            f = os.path.join(root, n)
            try:
                fs = os.stat(f)
            except OSError:
                return None
            files.append((os.path.relpath(f, path), fs.st_mtime_ns,
                          fs.st_size))
    return tuple(files)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that reuses this session's inferred
    schema of ``path`` while the stamp matches. Schema inference runs a
    Spark job (``SchemaMergeUtils.mergeSchemasInParallel``) on every
    inferring read, ~0.1-0.15 s; with the schema supplied the read plans
    in the driver alone. The stamp is taken before the inferring read, so
    files that change during it are seen by the next call."""
    seen = _session_schemas(spark)
    files = None if seen is None else _files_stamp(path)
    if files is None:
        return spark.read.parquet(path)
    stamp = (files, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    hit = seen.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    seen[path] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}")
    # The events table stores TIMESTAMP(NANOS), which vanilla Spark sessions
    # refuse to read (PARQUET_TYPE_ILLEGAL). nanosAsLong is a runtime-settable
    # SQL conf, so set it here rather than relying on the session factory —
    # callers hand us arbitrary sessions (e.g. the correctness driver's).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    if name in ("documents", "embeddings"):
        # small dimension-like tables reread by every LLM-pipeline query
        return _cached((name, sf_dir), lambda: _read_parquet(spark, path),
                       spread=True)
    return _read_parquet(spark, path)


def lineitem_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-series daily panel: (id=l_suppkey, ds=day(l_shipdate), y=sum qty).

    The aggregate's exchange is keyed on hash(id) ALONE, with the
    series partition count (``batched.series_partitions``: one task per
    core, a count AQE never coalesces). HashPartitioning(id) satisfies
    the (id, ds) grouping's clustered distribution, and every downstream
    per-series stage groups, windows or repartitions by id with that same
    count — so the fold aggregates and the batched Python stage run with
    NO second exchange, one task per core. Value identity does NOT rest
    on float luck: l_quantity is integer-valued (TPC-H quantities 1..50),
    so every per-group sum is exact in ANY accumulation order — the same
    property the DuckDB-oracle hash match has always relied on. The
    orders panel keeps the default keying (o_totalprice is fractional;
    its sum order is observable at the last ulp)."""
    def build():
        li = load_table(spark, sf_dir, "lineitem")
        return (
            li.selectExpr("l_suppkey AS id",
                          "date_trunc('day', l_shipdate) AS ds", "l_quantity")
            .transform(repartition_series, "id")
            .groupBy("id", "ds")
            # sum over a non-empty group is never NULL; the coalesce is a
            # no-op at runtime but marks y non-nullable in the schema, and
            # the nanvl step maps a (never-occurring) NaN sum to NULL ->
            # 0.0, making the attached no-NaN witness true BY CONSTRUCTION
            # — together they let interpolate_nulls_df skip its
            # null-repair window passes entirely under BOTH missing-value
            # semantics (see NO_NAN_METADATA)
            .agg(F.expr("coalesce(nanvl(sum(l_quantity), "
                        "CAST(NULL AS DOUBLE)), 0.0D)")
                  .alias("y", metadata={NO_NAN_METADATA: True}))
        )
    return _cached(("lineitem_panel", sf_dir), build, partition_on="id")


def orders_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse intermittent-like panel: (o_custkey, day(o_orderdate), sum price)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("o_custkey").alias("id"),
            F.date_trunc("day", F.col("o_orderdate")).alias("ds"),
            F.col("o_totalprice"),
        )
        .groupBy("id", "ds")
        .agg(F.sum("o_totalprice").alias("y"))
    )


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with ``ts`` as a true microsecond timestamp.

    The parquet stores TIMESTAMP(NANOS) (read as long via nanosAsLong);
    the conversion uses integer ``div 1000`` — exact, and identical to
    DuckDB's nanos->micros truncation. (``events_panel``'s float ``/1000``
    is fine for its day-truncated use but can be off by ~256 ns at 2^60
    magnitudes, which matters for as-of joins and session gaps.)"""
    from pyspark.sql import types as T
    e = load_table(spark, sf_dir, "events")
    if isinstance(e.schema["ts"].dataType, T.LongType):
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return e


def events_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular panel: (user_id, day(ts), count(*)).

    The events table stores TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a long that we
    convert to a microsecond timestamp here.
    """
    from pyspark.sql import types as T
    e = load_table(spark, sf_dir, "events")
    ts = F.col("ts")
    if isinstance(e.schema["ts"].dataType, T.LongType):
        ts = F.timestamp_micros((F.col("ts") / 1000).cast("long"))
    return (
        e.select(F.col("user_id").alias("id"), F.date_trunc("day", ts).alias("ds"))
        # hash(id)-keyed exchange shared with the per-series stages (see
        # lineitem_panel); counts are exact integers, order-free
        .transform(repartition_series, "id")
        .groupBy("id", "ds")
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )


# DuckDB-SQL equivalents of the panel derivations, for oracle queries.
LINEITEM_PANEL_SQL = (
    "SELECT l_suppkey AS id, date_trunc('day', l_shipdate) AS ds, "
    "SUM(l_quantity) AS y FROM lineitem GROUP BY 1, 2"
)
ORDERS_PANEL_SQL = (
    "SELECT o_custkey AS id, date_trunc('day', o_orderdate) AS ds, "
    "SUM(o_totalprice) AS y FROM orders GROUP BY 1, 2"
)
EVENTS_PANEL_SQL = (
    "SELECT user_id AS id, date_trunc('day', ts) AS ds, "
    "CAST(COUNT(*) AS DOUBLE) AS y FROM events GROUP BY 1, 2"
)
