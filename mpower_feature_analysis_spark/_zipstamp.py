"""Zip-archive importers that re-read their archive only when it changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark.worker_util.setup_spark_files``).  On Python 3.11
that re-reads the central directory of every zip on the worker's path, once
per ``sys.path_importer_cache`` entry: ~13 ``pyspark.zip`` sub-package
entries at ~3.6 ms and 2 spark-core jar entries at ~16 ms, ~76 ms a task
on 4 vCPU.  :func:`install` makes each of those importers re-read its
archive only when the archive's ``(st_mtime_ns, st_size)`` moved, so a
changed archive is re-read exactly as before and an unchanged one is not.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StampedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches`` is a no-op while its
    archive's stamp is unchanged."""

    def invalidate_caches(self) -> None:
        # stat before the read: an archive rewritten during it is re-read
        # next time; a missing archive (None) always takes the base path
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_stamp", None):
            super().invalidate_caches()
            self._stamp = stamp


def install() -> None:
    """Swap the class of the zip importers already cached and the
    ``zipimporter`` path hook (new paths, e.g. ``addPyFile`` archives, get
    stamped importers; their first invalidation reads their archive).  The
    cached ones are stamped now: in a worker the package is imported while
    a task unpickles its function, just after that task's
    ``setup_spark_files`` re-read every archive.  Idempotent."""
    sys.path_hooks[:] = [StampedZipImporter if h is zipimport.zipimporter else h
                         for h in sys.path_hooks]
    for imp in list(sys.path_importer_cache.values()):
        if type(imp) is zipimport.zipimporter:
            imp.__class__ = StampedZipImporter
            imp._stamp = _stamp(imp.archive)
