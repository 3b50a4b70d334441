"""Spark's Python worker daemon, with zip archives re-read only when changed.

``get_spark`` names this module in ``spark.python.daemon.module`` for local
sessions, so Spark starts it as ``python -m qsvspark.workerd pyspark.worker``
in place of ``pyspark.daemon``. Every Python task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython < 3.13 that makes each ``zipimporter`` re-read its archive's whole
directory: a worker holds ~16 of them over the spark-core jar, pyspark.zip
and py4j's zip, 0.15-0.45 s per task. CPython 3.13 only drops the cached
directory instead. Here an importer re-reads its archive only when the
file's ``(st_mtime_ns, st_size)`` differs from what it last read, so an
archive that was rewritten is still picked up. Starting the daemon imports
the qsvspark package (with pandas and pyarrow) once; forked workers begin
with those modules loaded.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive`` unless it is unchanged since the last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and getattr(self, "_qsvspark_read", None) == stamp:
        return
    _reread(self)
    self._qsvspark_read = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # stamp the daemon's importers once; forked workers inherit them
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
