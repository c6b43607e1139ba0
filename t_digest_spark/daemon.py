"""Preloading PySpark worker daemon.

Each Spark task forks a fresh Python worker from the daemon process.
The stock daemon (pyspark/daemon.py) imports almost nothing, so every
forked worker re-imports numpy/pandas/pyarrow at task start (~0.7 s wall
each in this sandbox — syscall-heavy imports are expensive in microVMs,
and at 100-1000 tasks/stage this serializes the whole Python exchange).

This drop-in daemon imports the heavy modules *before* forking, so
workers inherit them copy-on-write for free.

Its second job, on Python < 3.13 only, is a stat-validated zip directory
cache.  Every task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``; before 3.13,
``zipimport.zipimporter.invalidate_caches`` rereads the archive's whole
central directory once per cached importer.  A worker holds 16 of them
(one per package directory inside ``pyspark.zip``, plus the py4j zip and
the spark-core jar on the worker PYTHONPATH), and on a 4-core host the
rereads cost 0.14-0.54 s per task, nearly all of ``pyspark.worker.main``
for an identity ``mapInArrow``.  ``install_zip_directory_cache`` keeps
the ``(st_mtime_ns, st_size, st_ino)`` of each archive at its last read
and skips the reread while that stamp is unchanged: the call falls to
~0.2 ms, and the median ``pyspark.worker.main`` from 278 ms to 24 ms
per task.  An archive that changes on disk is still reread.  The daemon
installs it only when run as ``__main__``, before forking, and reads no
archive itself: the first task of each worker reads each archive once.
Python 3.13 only drops the cache entry there, so the install is a no-op.

Enable with:
    spark.python.daemon.module = t_digest_spark.daemon

(The library itself is imported too, so the cloudpickled closures in
operators/ deserialize instantly.)
"""

import importlib
import os
import sys
import zipimport

for _m in (
        "numpy",
        "pandas",
        "pyarrow",
        "pyarrow.pandas_compat",
        "pyspark.serializers",
        "pyspark.sql.pandas.serializers",
        "pyspark.sql.pandas.types",
        "pyspark.worker",
        "t_digest_spark.core",
):
    try:
        importlib.import_module(_m)
    except Exception:  # noqa: BLE001 — preloading is best-effort
        pass

from pyspark.daemon import manager  # noqa: E402


def install_zip_directory_cache() -> None:
    """Replace ``zipimporter.invalidate_caches`` with a version that
    rereads an archive only when its stat stamp changed (Python < 3.13;
    a no-op on later versions and when already installed)."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(original, "stat_validated",
                                              False):
        return
    # archive path -> (st_mtime_ns, st_size, st_ino) when its directory
    # was last read into zipimport._zip_directory_cache
    stamps = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None \
                and stamps.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    invalidate_caches.stat_validated = True
    cls.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install_zip_directory_cache()
    manager()
