"""The Python worker's stat-checked zip importer (``worker.py``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; a plain ``zipimporter`` answers by re-reading its archive. The
engine's importer re-reads only an archive that changed, is installed in
every worker that imports the package, and never outside a task.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from anofox_forecast_spark import worker
from anofox_forecast_spark.operators.forecast import ts_forecast

_ENGINE_CLASS = "anofox_forecast_spark.worker.StatCheckedZipImporter"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"_zi_probe_a": "VALUE = 1\n"})
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    monkeypatch.setattr(sys, "path", [archive] + sys.path)
    # a plain importer created before the install is replaced, and the
    # hook is swapped so later importers are the engine's too
    sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
    worker.install_zip_importer()
    assert zipimport.zipimporter not in sys.path_hooks
    assert worker.StatCheckedZipImporter in sys.path_hooks
    assert type(sys.path_importer_cache[archive]) \
        is worker.StatCheckedZipImporter

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("_zi_probe_a").VALUE == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []  # unchanged archive: a stat, no read

        # a second module changes the archive's size
        _write_zip(archive, {"_zi_probe_a": "VALUE = 1\n",
                             "_zi_probe_b": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module("_zi_probe_b").VALUE == 2
        importlib.invalidate_caches()
        assert len(reads) == 1
    finally:
        sys.modules.pop("_zi_probe_a", None)
        sys.modules.pop("_zi_probe_b", None)


def test_later_importers_reuse_the_stamped_read(tmp_path, monkeypatch):
    """An importer made later over the same archive (by the path hook,
    for a package inside it) takes the archive's stamp and reads
    nothing."""
    archive = str(tmp_path / "fresh.zip")
    _write_zip(archive, {"_zi_probe_c": "VALUE = 3\n"})
    imp = worker.StatCheckedZipImporter(archive)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real_read(p))
    imp.invalidate_caches()
    sibling = worker.StatCheckedZipImporter(archive)
    sibling.invalidate_caches()
    assert reads == []
    assert imp.find_spec("_zi_probe_c") is not None


def test_import_outside_a_task_leaves_importers_alone(tmp_path):
    """Outside a task (no TaskContext, as on the Spark driver) importing
    the package installs nothing: a zip on the path keeps its plain
    ``zipimporter``."""
    archive = str(tmp_path / "no_task.zip")
    _write_zip(archive, {"_zi_probe_d": "VALUE = 4\n"})
    code = (
        "import sys\n"
        "import _zi_probe_d, pyspark\n"
        "before = {k: type(v) for k, v in sys.path_importer_cache.items()}\n"
        "hooks = list(sys.path_hooks)\n"
        "import anofox_forecast_spark\n"
        "after = {k: type(v) for k, v in sys.path_importer_cache.items()}\n"
        f"assert after[{archive!r}].__name__ == 'zipimporter', after\n"
        "assert all(after[k] is t for k, t in before.items())\n"
        "assert sys.path_hooks == hooks\n"
        "assert 'anofox_forecast_spark.worker' not in sys.modules\n"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [archive, _REPO] + [p for p in [os.environ.get("PYTHONPATH")] if p]))
    subprocess.run([sys.executable, "-c", code], env=env, check=True)


def _make_probe():
    # defined via factory so cloudpickle serializes it by value (the test
    # module is not importable on Spark workers)
    def probe(batches):
        """Reports, per task: the worker's pid, whether the package was
        imported before this task, and the class of every zip entry in
        the worker's importer cache."""
        import os
        import sys
        import zipimport

        import pandas as pd
        for _ in batches:
            pass
        zips = sorted({f"{type(v).__module__}.{type(v).__qualname__}"
                       for v in sys.path_importer_cache.values()
                       if isinstance(v, zipimport.zipimporter)})
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "engine_imported": ["anofox_forecast_spark" in sys.modules],
            "classes": [",".join(zips)],
        })
    return probe


def test_workers_run_the_engine_importer(spark):
    """After a non-batched engine entry point (the single-series
    ``ts_forecast``, a grouped ``applyInPandas``) has run, every worker
    that imported the package holds only the engine's importer over its
    zip entries."""
    series = spark.createDataFrame(
        [(i, 10.0 + (i % 7) + 0.1 * i) for i in range(30)], "ds int, y double")
    ts_forecast(series, "ds", "y", "Theta", 3).write.format("noop") \
        .mode("overwrite").save()

    n = spark.sparkContext.defaultParallelism
    rows = (spark.range(4 * n).repartition(4 * n)
            .mapInPandas(_make_probe(),
                         "pid long, engine_imported boolean, classes string")
            .collect())
    if not any(r.classes for r in rows):
        pytest.skip("the Python workers have no zip on their path")
    seen = {r.pid: r for r in rows if r.engine_imported}
    assert seen, "no probed worker had imported the package"
    for r in seen.values():
        assert r.classes == _ENGINE_CLASS, (r.pid, r.classes)
