"""Per-task import-cache reset in PySpark's Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On Python < 3.13,
``zipimporter.invalidate_caches`` re-parses its archive's central
directory on the spot, once per importer: a warm worker holds 14-16
importers over ``pyspark.zip`` (1,328 entries), so each task spends
110 ms or more of CPU re-reading an archive that has not changed. Python 3.13
made the reset lazy, and there ``install()`` does nothing.

``install()`` replaces the method with one that re-reads an archive only
when its ``(st_ino, st_size, st_mtime_ns)`` differs from the last read
and otherwise reuses ``zipimport._zip_directory_cache``, so one re-read
serves every importer over the same archive. A changed or removed
archive is still seen at the next import.
"""

import functools
import os
import sys
import zipimport


def install():
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    stock = cls.invalidate_caches
    if hasattr(stock, "__wrapped__"):
        return
    read_at = {}  # archive path -> stat key when its directory was cached

    @functools.wraps(stock)
    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            return stock(self)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and read_at.get(archive) == key:
            self._files = files
            return
        stock(self)
        read_at[archive] = key

    cls.invalidate_caches = invalidate_caches
