"""Per-process set-up of a Python worker.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, and CPython's ``zipimporter`` (before 3.13) answers by
re-reading its whole archive directory. A reused worker holds a dozen of
them over ``pyspark.zip``, the py4j zip and the spark-core jar, so every
task re-parses ~27k directory entries (~0.3-0.4 s) before the user
function runs. ``install_zip_importer`` swaps in an importer that re-reads
only when the archive's ``(st_mtime_ns, st_size)`` changed since its last
read, so a changed or new archive is still seen.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive -> (st_mtime_ns, st_size) taken just before the last refresh of
# its entry in zipimport's directory cache, which is per process too
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatCheckedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches`` is a ``stat`` unless
    the archive changed since this importer's last refresh."""

    def __init__(self, path):
        super().__init__(path)
        # the directory it took from zipimport's cache is at least as new
        # as the archive's stamp there
        self._stamp = _read_at.get(self.archive)
        if self._stamp is None:
            # a cache entry with no stamp may be of any age: refresh it
            self.invalidate_caches()

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self._stamp:
            self._stamp = _read_at[self.archive] = stamp
            super().invalidate_caches()


def install_zip_importer() -> None:
    """Replace every plain ``zipimporter`` in ``sys.path_importer_cache``
    and in ``sys.path_hooks`` with ``StatCheckedZipImporter``. Idempotent."""
    sys.path_hooks[:] = [StatCheckedZipImporter
                         if h is zipimport.zipimporter else h
                         for h in sys.path_hooks]
    for path, imp in list(sys.path_importer_cache.items()):
        if type(imp) is zipimport.zipimporter:
            try:
                sys.path_importer_cache[path] = StatCheckedZipImporter(path)
            except zipimport.ZipImportError:
                pass
