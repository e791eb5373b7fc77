"""Spark Python worker start-up: skip re-reading unchanged zip archives.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Since Python 3.10 that makes every ``zipimporter`` on ``sys.path`` re-read
its archive's central directory: pyspark.zip, the py4j zip and the
spark-core jar Spark puts there (thousands of entries, no Python in it),
0.14-0.35 s per task on a 4-vCPU host.  The guard re-reads an archive only
when its ``(st_ino, st_size, st_mtime_ns)`` changed -- the rule
``FileFinder`` applies to directories -- so a rewritten archive is still
picked up.  It is installed at class level, so importers created later
(a ``--py-files`` zip) are covered too, and only inside a Spark task.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def zip_guard_installed() -> bool:
    return hasattr(getattr(zipimport.zipimporter, "invalidate_caches", None), "__wrapped__")


def install_zip_guard() -> None:
    """Guard ``zipimporter.invalidate_caches`` in a Spark Python worker
    (a no-op on the driver, before Python 3.10, or when already done)."""
    tc = sys.modules.get("pyspark.taskcontext")
    reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if tc is None or tc.TaskContext.get() is None or reread is None or zip_guard_installed():
        return

    @functools.wraps(reread)
    def invalidate_caches(self):
        # stat before reading, so a write during the read shows next time
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
