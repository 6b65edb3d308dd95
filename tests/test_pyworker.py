"""The two per-task worker fixes in warctools_spark._pyworker.

PySpark's worker resets the import caches at the start of every task;
on Python < 3.13 the stock zipimporter re-parses its whole archive on
each reset. The replacement re-reads only archives whose stat changed.

A reused worker also runs a full ``gc.collect()`` after every task. The
gc hook freezes what survives between tasks, so that collection scans
only the last task's objects, and never freezes a task's own garbage.
"""

import gc
import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from warctools_spark import _pyworker

zip_reset = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter reset is lazy on 3.13+"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def _count_reads(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "pw_mods.zip")
    _write_zip(archive, {"pw_mod_a": 1})
    sys.path.insert(0, archive)
    _pyworker.install()
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in ("pw_mod_a", "pw_mod_b"):
        sys.modules.pop(name, None)


def _importer(archive):
    importlib.import_module("pw_mod_a")
    imp = sys.path_importer_cache[archive]
    assert isinstance(imp, zipimport.zipimporter)
    return imp


@zip_reset
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    _importer(zip_on_path)
    importlib.invalidate_caches()  # the first reset after install may read once
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []


@zip_reset
def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    _importer(zip_on_path)
    importlib.invalidate_caches()
    _write_zip(zip_on_path, {"pw_mod_a": 1, "pw_mod_b": 2})
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls.count(zip_on_path) == 1
    assert importlib.import_module("pw_mod_b").VALUE == 2


@zip_reset
def test_deleted_archive_behaves_like_stock(zip_on_path):
    imp = _importer(zip_on_path)
    twin = zipimport.zipimporter(zip_on_path)
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()  # must not raise
    zipimport.zipimporter.invalidate_caches.__wrapped__(twin)
    assert imp._files == twin._files == {}
    assert zip_on_path not in zipimport._zip_directory_cache
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("pw_mod_b")


@zip_reset
def test_install_is_idempotent():
    _pyworker.install()
    patched = zipimport.zipimporter.invalidate_caches
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is patched
    assert not hasattr(patched.__wrapped__, "__wrapped__")


@zip_reset
def test_spark_worker_reset_reads_no_archive(spark, record_property):
    """On a Spark Python worker, after the engine is imported, a task's
    import-cache reset reads each zip archive at most once (the first
    reset after install) and then none at all."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import warctools_spark  # noqa: F401

        for _ in batches:
            pass
        archives = {
            imp.archive
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        }
        calls = []
        read = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(calls)
            importlib.invalidate_caches()
            second = len(calls) - first
        finally:
            zipimport._read_directory = read
        yield pd.DataFrame(
            {
                "first": [first],
                "second": [second],
                "archives": [len(archives)],
                "pyspark_from_zip": [".zip" in (sys.modules["pyspark"].__file__ or "")],
            }
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(
            probe,
            "first long, second long, archives long, pyspark_from_zip boolean",
        )
        .collect()[0]
    )
    record_property("pyspark_from_zip", row.pyspark_from_zip)
    print(f"worker imported pyspark from a zip: {row.pyspark_from_zip}")
    assert row.second == 0
    assert row.first <= row.archives


def _rows_of_one_worker(spark, probe, schema, tasks, max_jobs=64):
    """Run ``probe`` as a 1-partition ``mapInPandas`` job until one Python
    worker (pid) has run it ``tasks`` times; return that worker's rows in
    task order. Idle workers are reused in turn, so the jobs may cycle
    through several pids first."""
    by_pid = {}
    for _ in range(max_jobs):
        row = spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect()[0]
        rows = by_pid.setdefault(row.pid, [])
        rows.append(row)
        if len(rows) == tasks:
            return rows
    pytest.fail(f"no worker ran {tasks} of {max_jobs} tasks: {sorted(map(len, by_pid.values()))}")


def test_driver_registers_no_gc_hook():
    """Only a reusing PySpark daemon worker gets the hook: in this process
    neither the package import nor ``install()`` registers it, and a full
    collection freezes nothing."""
    callbacks, frozen = list(gc.callbacks), gc.get_freeze_count()
    _pyworker.install()
    gc.collect()
    assert gc.callbacks == callbacks
    assert not [cb for cb in gc.callbacks if getattr(cb, "__module__", None) == _pyworker.__name__]
    assert gc.get_freeze_count() == frozen


def test_spark_worker_collection_scans_only_task_objects(spark):
    """After a worker's first task with the engine imported, the objects
    the collector still tracks at the start of a task are only what that
    task has made so far (a warm worker holds ~73,000 without the hook),
    and identical tasks add nothing more to the frozen heap."""

    def probe(batches):
        import gc
        import os

        import pandas as pd

        import warctools_spark  # noqa: F401

        tracked, frozen = len(gc.get_objects()), gc.get_freeze_count()
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "tracked": [tracked], "frozen": [frozen]})

    rows = _rows_of_one_worker(spark, probe, "pid long, tracked long, frozen long", 4)
    print("tracked at task start:", [r.tracked for r in rows], "frozen:", [r.frozen for r in rows])
    assert all(r.tracked <= 5000 for r in rows[1:])
    assert rows[-1].frozen == rows[-2].frozen > 0


def test_spark_worker_collects_task_garbage(spark):
    """A reference cycle a task leaves behind is collected after the task,
    even when a full collection ran while the cycle was still alive: the
    hook freezes nothing mid-task, so task garbage is never frozen."""

    def probe(batches):
        import gc
        import os
        import sys
        import weakref

        import pandas as pd

        import warctools_spark  # noqa: F401

        made, finalized = vars(sys).setdefault("_pyworker_test_cycles", ([], set()))
        pending = len(made) - len(finalized)
        for _ in batches:
            pass

        class Node:
            pass

        a, b = Node(), Node()
        a.peer, b.peer = b, a
        made.append(len(made))
        weakref.finalize(a, finalized.add, made[-1])
        gc.collect()  # a full collection during the task, with the cycle alive
        del a, b
        yield pd.DataFrame({"pid": [os.getpid()], "pending": [pending]})

    rows = _rows_of_one_worker(spark, probe, "pid long, pending long", 2)
    assert rows[1].pending == 0
