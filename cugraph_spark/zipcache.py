"""Zip-archive directory reads only when the archive has changed.

Every Python task pyspark runs calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``). Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` answers that by re-reading
the whole central directory of its archive, once per zipimporter: a
worker with ``pyspark.zip`` (1,328 entries) on its path holds 16 of
them, and the re-reads took 86-99 ms of CPU per task on a 4-vCPU host —
89 % of a trivial task's worker time under cProfile. 3.13 only drops
the cache there.

:func:`install` (run on ``import cugraph_spark``, so in every worker
that unpickles one of the package's functions) wraps the method so
that each zipimporter re-reads its archive only when the archive's
``(size, mtime_ns)`` differs from the last time that importer read
it; a rewritten archive is read again, so new modules stay
importable.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def install() -> None:
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or getattr(cls.invalidate_caches, "_stamped", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and self.__dict__.get("_read_stamp") == stamp:
            return
        reread(self)
        self._read_stamp = stamp

    invalidate_caches._stamped = True
    cls.invalidate_caches = invalidate_caches
