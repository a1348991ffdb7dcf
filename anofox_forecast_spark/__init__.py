"""anofox_forecast_spark — PySpark-native time-series analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of the
DuckDB extension DataZooDE/anofox-forecast (reference at /root/reference),
expressed as idiomatic Spark: DataFrame/SQL plans for everything relational,
Arrow-backed pandas UDFs for per-series model math.

Public API convention (SURVEY.md §7): every operator is
``f(df, group_col, ds_col, y_col, ...) -> DataFrame`` with the reference's
documented output schema, preserving caller column names/types.
"""

from pyspark import TaskContext as _TaskContext

from .frequency import Frequency, parse_frequency  # noqa: F401
from .session import get_spark  # noqa: F401

# In a Python worker the package is imported when an engine UDF is
# unpickled, with the task's context already set: install the worker's
# importer once per process there (see worker.py). The Spark driver,
# which has no task context, skips it.
if _TaskContext.get() is not None:
    from .worker import install_zip_importer
    install_zip_importer()
