"""Zip-directory re-reads only when the archive changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark/worker_util.py`` ``setup_spark_files``).  On
CPython 3.10+ that makes every cached ``zipimport.zipimporter`` re-parse
its archive's whole central directory.  A PySpark 4.1 worker holds 16 of
them (12 over ``pyspark.zip``, 2 over py4j's zip, 2 over the spark-core
jar), and the re-read costs 0.17–0.23 s per task before the UDF starts
(CPython 3.11.7).

``install()`` wraps ``zipimporter.invalidate_caches``: when the archive's
``(st_mtime_ns, st_size, st_ino)`` equals its stat at the last read, the
importer keeps the cached directory; when the archive changed or is gone,
the stock method runs, re-reading or clearing exactly as CPython does.
It also records the stat of every zipimporter already in
``sys.path_importer_cache``, whose directory PySpark read at the start of
the task that imports this package.  Workers are reused, and unpickling
any UDF that names a ``vldt_spark`` global imports the package there, so
a worker pays the re-read in its first Python task only.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path → its ``_stat_key`` when ``zipimport._zip_directory_cache``
#: last read it
_read_stats: dict[str, tuple] = {}


def _stat_key(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _guarded(stock):
    def invalidate_caches(self):
        """Reload the archive's file data if the archive changed."""
        archive = self.archive
        key = _stat_key(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if key is not None and files is not None and _read_stats.get(archive) == key:
            self._files = files
            return
        # the stat is taken before the read: an archive rewritten in
        # between reads as changed next time, never as unchanged
        stock(self)
        if key is not None and archive in zipimport._zip_directory_cache:
            _read_stats[archive] = key
        else:
            _read_stats.pop(archive, None)

    invalidate_caches.stock = stock
    return invalidate_caches


def install() -> None:
    """Guard ``zipimporter.invalidate_caches``; idempotent, and a no-op
    where the method does not exist."""
    cls = zipimport.zipimporter
    stock = getattr(cls, "invalidate_caches", None)
    if stock is None or hasattr(stock, "stock"):
        return
    cls.invalidate_caches = _guarded(stock)
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls) and finder.archive in zipimport._zip_directory_cache:
            key = _stat_key(finder.archive)
            if key is not None:
                _read_stats.setdefault(finder.archive, key)
