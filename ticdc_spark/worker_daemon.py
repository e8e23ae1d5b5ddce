"""The engine's PySpark worker daemon (``spark.python.daemon.module``).

PySpark forks every Python worker of an executor from one daemon process,
``pyspark.daemon.manager()``. ``session.get_spark`` names this module as
that daemon. It prepares the process once, before the first fork, so
every worker inherits the result, then hands over to ``manager()``:

1. **Zip archives are re-read only when they changed.** PySpark calls
   ``importlib.invalidate_caches()`` at the start of every task
   (``pyspark.worker_util.setup_spark_files``). Before Python 3.13 every
   ``zipimport.zipimporter`` then re-parses its archive's central
   directory: one per package path on ``pyspark.zip``, the spark-core jar
   and py4j, about 27k directory entries per task, which is most of a
   reused worker's per-task CPU. ``install_lazy_zip_invalidation`` makes
   it re-read an archive only when its ``(st_mtime_ns, st_size)`` differs
   from its last read; a missing archive takes the original path. Python
   3.13 defers the re-read itself and keeps its own method.
2. **What every mount worker imports is imported here.** ``pyspark.worker``,
   the Arrow serializers, pandas and pyarrow are loaded once, so a newly
   forked worker starts warm instead of importing them itself. Then every
   object of the daemon is frozen (``gc.freeze``): PySpark's daemon runs
   ``gc.collect()`` in a reused worker after each task, which otherwise
   walks every pandas and pyarrow object each time. The imports start
   native threads (OpenBLAS's pool, jemalloc's background thread); both
   libraries register fork handlers, so forking after them is supported.
3. **The daemon stays light.** It imports nothing of the engine beyond
   this module (``ticdc_spark/__init__.py`` loads ``session`` lazily).

The mount UDF's closure holds plain data only, so workers never import
the engine either (``functions/mount.py``).
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

#: archive directories read by the wrapped ``invalidate_caches`` in this
#: process (a forked worker starts from the daemon's count)
archive_reads = 0

PRELOAD = ("pyspark.worker", "pyspark.sql.pandas.serializers", "pandas", "pyarrow")


def install_lazy_zip_invalidation() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` to re-read an archive only
    when its ``(st_mtime_ns, st_size)`` changed since its last read.
    Returns whether the wrapper is installed; never on Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    read_at: dict = {}  # archive path -> (st_mtime_ns, st_size) at its last read

    def invalidate_caches(self):
        global archive_reads
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == stamp:
            self._files = files  # another importer of this archive re-read it
            return None
        # stat before the read: a rewrite during the read re-reads next time
        original(self)
        read_at[self.archive] = stamp
        archive_reads += 1
        return None

    cls.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    install_lazy_zip_invalidation()
    for name in PRELOAD:
        importlib.import_module(name)
    # read every archive once here, so forked workers start with none due
    importlib.invalidate_caches()
    from pyspark import daemon

    # the daemon's objects live as long as it does: out of every collection,
    # so a worker's gc.collect() after each task scans only its own objects
    # (and touches no page it shares with the daemon)
    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    # run as ``python -m``: hand over to the importable copy, so workers
    # find this module's state under its own name
    from ticdc_spark import worker_daemon

    worker_daemon.main()
