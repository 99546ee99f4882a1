"""The engine's PySpark worker daemon: ``pyspark.daemon`` without two
fixed costs it pays on every Python task of a reused worker.

``session.get_spark`` runs it through ``spark.python.daemon.module``.
It changes two things, then hands over to ``pyspark.daemon.manager()``:

- Zip re-reads. Each task's setup calls ``importlib.invalidate_caches()``,
  and on CPython 3.11 and 3.12 every ``zipimporter`` then re-reads its
  archive's whole central directory: ``pyspark.zip``, the py4j zip and
  the 5,359-entry spark-core jar, about 200 ms per task. Here an
  archive is re-read only when the file's ``(st_mtime_ns, st_size)``
  changed since its directory was last read, so an archive that
  changes is still seen, and an unchanged one costs one ``stat``.
  This targets the eager ``zipimporter`` of CPython 3.11 and 3.12,
  which holds each directory in ``_files``.
- Per-task GC. The daemon runs a full ``gc.collect()`` after every task
  (40-70 ms over the numpy/pandas/pyarrow import heap). After a worker's
  first task the heap is collected once and frozen (``gc.freeze``), so
  later collections skip it.

Nothing heavy is imported here: a module imported before the fork is
counted in every forked worker's peak RSS.
"""

import gc
import os
import sys
import zipimport

from pyspark import daemon

_reread = zipimport.zipimporter.invalidate_caches
_directories = {}  # archive -> (stamp, the directory read at that stamp)


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed since its directory was last read here. Every
    importer of one archive then holds that one directory, not a copy
    each (16 importers share three archives in a worker)."""
    stamp = _stamp(self.archive)  # taken first: a change mid-read shows next time
    seen = _directories.get(self.archive)
    if seen is None or seen[0] != stamp:
        _reread(self)
        seen = _directories[self.archive] = (stamp, self._files)
    self._files = seen[1]


def _freeze_after_first_task(worker_main):
    frozen = False

    def main(infile, outfile):
        nonlocal frozen
        worker_main(infile, outfile)
        if not frozen:
            frozen = True
            outfile.flush()  # the JVM has the task's end before the collection
            gc.collect()
            gc.freeze()

    return main


def manager():
    daemon.worker_main = _freeze_after_first_task(daemon.worker_main)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp the importers the daemon holds now, so no forked worker
    # re-reads them on its first task
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    manager()
