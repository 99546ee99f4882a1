"""The engine's Python worker daemon (segment_rtree_spark.worker_daemon):
the stat-guarded zip re-read, the start-up failure when PySpark's
worker entry point is missing, and, on the shared Spark session, that
workers run the guard and freeze the import heap after their first
task."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark import daemon

from segment_rtree_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_zip_guard_sees_a_rewritten_archive_and_skips_an_unchanged_one(
        tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_directories", {})
    archive = str(tmp_path / "mods.zip")
    pkg = {"wd_pkg/__init__": "", "wd_pkg/mod": "Z = 3\n"}
    _write_zip(archive, {"wd_mod_a": "X = 1\n", **pkg})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_mod_a").X == 1
        assert importlib.import_module("wd_pkg.mod").Z == 3
        # rewritten in place: the importers must re-read the directory
        _write_zip(archive,
                   {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 22\n", **pkg})
        importlib.invalidate_caches()
        assert importlib.import_module("wd_mod_b").Y == 22
        # the archive's two importers hold one directory between them
        top = sys.path_importer_cache[archive]
        sub = sys.path_importer_cache[os.path.join(archive, "wd_pkg")]
        assert top._files is sub._files

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        assert reads == []
    finally:
        for name in ("wd_mod_a", "wd_mod_b", "wd_pkg", "wd_pkg.mod"):
            sys.modules.pop(name, None)
        for path in (archive, os.path.join(archive, "wd_pkg")):
            sys.path_importer_cache.pop(path, None)


def test_daemon_fails_at_start_without_worker_main(monkeypatch):
    monkeypatch.delattr(daemon, "worker_main")
    with pytest.raises(AttributeError):
        worker_daemon.manager()


def test_spark_workers_run_the_engine_daemon(spark):
    """Two one-task jobs in a row: the second task runs on a worker
    that has finished a task before, so its heap is frozen."""

    def worker_state(batches):
        import gc

        import pyarrow as pa

        for _ in batches:
            pass
        guard = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict({
            "guard_file": [guard.__code__.co_filename],
            "frozen": [gc.get_freeze_count()],
        })

    one_task = spark.range(1, numPartitions=1).mapInArrow(
        worker_state, "guard_file string, frozen long")
    first, second = [one_task.collect()[0] for _ in range(2)]
    engine_file = os.path.realpath(worker_daemon.__file__)
    assert os.path.realpath(first.guard_file) == engine_file
    assert os.path.realpath(second.guard_file) == engine_file
    assert second.frozen > 0
