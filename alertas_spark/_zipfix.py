"""Skip CPython 3.11's zip-archive re-read when the archive has not changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``).  Before Python 3.12 every
``zipimport.zipimporter.invalidate_caches()`` re-reads its archive's whole
central directory (gh-103200, fixed in 3.12).  A worker that imports pyspark
from ``pyspark.zip`` holds one zipimporter per package directory it imported
from: a kernel worker holds 12 over pyspark.zip (1,328 entries), 2 over
py4j's zip and 2 over the spark-core jar (5,359 entries), so that call costs
73–75 ms of CPU per task, most of a trivial Python task.

``install()`` replaces the method with one that re-reads only when the
archive's ``(st_ino, st_size, st_mtime_ns)`` differs from the stat this
importer recorded at its last guarded re-read, or when ``os.stat`` fails.  A
changed or vanished archive therefore behaves exactly as before.  Importers are
not stamped at install time: whether their directory is still current cannot
be known, so each importer's first guarded call re-reads once.

The package ``__init__`` calls ``install()``, so a worker gets the guard the
first time it unpickles a kernel that references an ``alertas_spark`` function.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def install() -> None:
    """Guard ``zipimporter.invalidate_caches``; idempotent, a no-op on 3.12+."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or getattr(cls.invalidate_caches, "stat_guarded", False):
        return
    reread = cls.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.stat_guarded = True
    cls.invalidate_caches = invalidate_caches
