"""Spark's Python worker daemon, with zip directories read once.

``session.get_spark`` names this module as ``spark.python.daemon.module``.
Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On CPython < 3.13 that makes
each ``zipimporter`` re-read its archive's whole directory: 14 or more
importers into the 1,328-entry ``pyspark.zip`` once ``pyspark.worker``
is imported, about 0.15 s of CPU per call. Here an importer re-reads
only when the archive's modification time or size changed since it
last read it.
"""

import importlib
import os
import sys
import zipimport

_read_zip_directory = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_directory_stamp", None):
        _read_zip_directory(self)
        self._directory_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    importlib.invalidate_caches()  # stamp the importers forked workers inherit
    daemon.manager()
