"""Python-worker set-up: skip PySpark's per-task re-read of unchanged zips.

Before every task the PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes each
cached ``zipimport.zipimporter`` re-read its archive's central directory:
``pyspark.zip`` once per package prefix, the spark-core jar, py4j and the
``addPyFile`` zip, about 0.2 s of CPU per task on a 4-vCPU host whatever
the task computes. Inside a worker the re-read is skipped while the archive's
``(st_ino, st_size, st_mtime_ns)`` is the one seen at its last read; a
changed or unreadable archive takes the stock path. The driver is untouched.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read_at: dict = {}  # archive path -> stat signature of its last read


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        sig = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        sig = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _read_at.get(self.archive) == sig:
        self._files = files  # another importer of this archive may have re-read it
        return
    _stock_invalidate(self)
    if sig is not None and self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = sig


def install() -> None:
    """Idempotent; a no-op when ``zipimport`` lacks the internals used here."""
    if hasattr(zipimport, "_zip_directory_cache") and hasattr(zipimport, "_read_directory"):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def install_in_worker() -> None:
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        install()
