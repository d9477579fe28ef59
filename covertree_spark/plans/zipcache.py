"""Re-read a zip archive's directory only when the archive has changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark/worker_util.py::setup_spark_files``). On CPython
3.10-3.11 that makes each of a worker's ~22 zipimporters (over
``pyspark.zip``, the spark-core jar, py4j, the ``--py-files`` zip)
re-parse its archive's directory: 175-225 ms per task. The hook keeps a
directory while the archive's ``(st_mtime_ns, st_size, st_ino)`` match
the read that produced it; a changed, missing or unreadable archive
takes the stock method. Installed only on 3.10-3.11: 3.12 made the
invalidation lazy, and before 3.10 the method does not exist.
"""

import os
import sys


def _signature(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def apply_zip_directory_reuse() -> bool:
    """Install the hook in THIS process. Idempotent. Returns True when
    the hook is installed."""
    if not (3, 10) <= sys.version_info < (3, 12):
        return False
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_reuses_directory", False):
        return True
    read_directory = zipimport._read_directory
    read_as: dict = {}  # archive -> signature seen just before its last read

    def _read_directory(archive):
        sig = _signature(archive)
        files = read_directory(archive)
        read_as[archive] = sig
        return files

    def invalidate_caches(self):
        sig = _signature(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is None or files is None or read_as.get(self.archive) != sig:
            return stock(self)
        self._files = files

    invalidate_caches._reuses_directory = True
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
