"""Spark Python workers: re-read a zip archive's directory only when the
archive changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``).  Before
Python 3.13 that makes every cached ``zipimporter`` re-parse its archive's
whole central directory in pure Python.  A worker holds one importer per
imported package directory of ``pyspark.zip``, plus the py4j zip and the
spark-core jar: ~27k directory entries, ~0.2 CPU-s per task before the
UDF body runs.

``install()`` wraps ``zipimporter.invalidate_caches`` so that a call
re-reads the archive only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the stat this process took when it last read it; otherwise
the importer is re-pointed at the shared ``zipimport._zip_directory_cache``
entry.  A changed archive is re-read exactly as before.  Installed once
per process, only in a PySpark worker (``pyspark.worker`` imported) and
only before Python 3.13, whose ``invalidate_caches`` is already lazy.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path → its stat when this process last read its directory
_read_stat: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _stat_checked(read):
    @functools.wraps(read)
    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and _read_stat.get(self.archive) == key:
            self._files = files
            return
        # the stat is taken before the read: a change during the read
        # leaves a stale key, so the next call reads again
        read(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read_stat[self.archive] = key
        else:
            _read_stat.pop(self.archive, None)

    return invalidate_caches


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` in this process if it is a
    PySpark worker on Python < 3.13 and not wrapped yet; True if it did."""
    zi = zipimport.zipimporter
    read = getattr(zi, "invalidate_caches", None)
    if (
        sys.version_info >= (3, 13)
        or "pyspark.worker" not in sys.modules
        or read is None
        or hasattr(read, "__wrapped__")
    ):
        return False
    zi.invalidate_caches = _stat_checked(read)
    return True
