"""Stat-checked zip directory re-reads inside a PySpark Python worker.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). On CPython
3.11 that makes every cached ``zipimporter`` re-read its archive's
central directory — about a dozen importers over ``pyspark.zip`` and
two over the Spark jar — which costs ~250 ms per task on a reused
worker before the UDF runs. The wrapper below re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the value seen at its
last read, so a changed or new zip is still picked up and an unchanged
one costs one ``stat``.
"""

from __future__ import annotations

import os
import zipimport

_original = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)  # taken before the read: a race re-reads
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        self._files = files  # another importer of this archive may have re-read it
        return
    _original(self)
    if stamp is not None:  # a failed read leaves no cache entry: re-read next time
        _read_at[self.archive] = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches``; safe to call repeatedly."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
