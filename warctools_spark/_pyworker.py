"""Per-task costs in PySpark's Python workers, and what ``install()`` does
about each.

Every Python worker that unpickles an engine function imports this
package and so runs ``install()`` once. Two fixed costs recur on every
task a reused worker runs; neither depends on the task's data.

1. The import-cache reset. The worker calls ``importlib.invalidate_caches()``
   at the start of every task (``pyspark.worker_util.setup_spark_files``).
   On Python < 3.13, ``zipimporter.invalidate_caches`` re-parses its
   archive's central directory on the spot, once per importer: a warm
   worker holds 14-16 importers over ``pyspark.zip`` (1,328 entries), so
   each task spends 110 ms or more of CPU re-reading an archive that has
   not changed. Python 3.13 made the reset lazy. ``install()`` replaces
   the method with one that re-reads an archive only when its
   ``(st_ino, st_size, st_mtime_ns)`` differs from the last read and
   otherwise reuses ``zipimport._zip_directory_cache``, so one re-read
   serves every importer over the same archive. A changed or removed
   archive is still seen at the next import. On 3.13+ this part does
   nothing.

2. The between-task collection. With worker reuse on (Spark's default),
   the forked daemon worker runs a full ``gc.collect()`` after every task
   (``pyspark/daemon.py``, in its ``SPARK_REUSE_WORKER`` loop). A warm
   worker tracks about 73,000 objects -- modules, UDF code, pandas and
   pyarrow state -- so each task spends 28-50 ms of CPU rescanning a heap
   that did not change. In a reusing daemon worker only, ``install()``
   registers a ``gc.callbacks`` hook that calls ``gc.freeze()`` when a
   generation-2 collection ends while no task is running
   (``TaskContext.get() is None``; the worker clears the context before
   the daemon collects). That collection has already freed the finished
   task's garbage, so only what survives between tasks is frozen, never
   a task's own objects, and each later collection scans only what the
   next task created (about 100 objects). A collection during a task
   never freezes. The hook runs on every Python version; with reuse off
   the daemon never collects and a worker runs one task, so there is
   nothing to hook. The driver process is never touched.
"""

import functools
import gc
import os
import sys
import zipimport


def install():
    if sys.version_info < (3, 13):
        _install_zip_reset()
    _install_gc_freeze()


def _install_gc_freeze():
    spec = getattr(sys.modules.get("__main__"), "__spec__", None)
    if getattr(spec, "name", None) != "pyspark.daemon" or not os.environ.get("SPARK_REUSE_WORKER"):
        return
    from pyspark.taskcontext import TaskContext

    def freeze_between_tasks(phase, info):
        if phase == "stop" and info["generation"] == 2 and TaskContext.get() is None:
            gc.freeze()

    gc.callbacks.append(freeze_between_tasks)


def _install_zip_reset():
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
