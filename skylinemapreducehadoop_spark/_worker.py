"""Process-level fix-up applied by every process that imports the engine.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``). On
CPython 3.10 and 3.11, ``zipimport.zipimporter.invalidate_caches``
eagerly re-reads its archive's whole central directory, and a worker
holds one zipimporter per package directory it imported from
``pyspark.zip``: on pyspark 4.1 that is 14-16 re-reads of a
1,328-entry directory, about 0.9 s of every task. CPython 3.12 made
the method lazy (gh-103200), so the fix applies below 3.12 only.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def install_zipimport_hook() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the archive changed.

    Each importer remembers the ``(st_mtime_ns, st_size, st_ino)`` of
    its archive as of its last re-read; the original method runs only
    when that key differs or was never recorded, so a rewritten or
    replaced zip is still re-read. An archive that cannot be stat'ed
    always goes to the original method, which handles a missing file.
    Idempotent; a no-op on Python 3.12+ and where the method is absent.
    """
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if sys.version_info >= (3, 12) or original is None or hasattr(original, "__wrapped__"):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is not None and key == getattr(self, "_archive_stat_key", None):
            return
        # stat before the read: a write racing the read leaves a stale
        # key, so the next call reads again
        original(self)
        self._archive_stat_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches
