"""Python-worker hook: re-read a zip archive on the path only when it changed.

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. Before Python
3.13 that makes each ``zipimport.zipimporter`` re-read its whole archive
directory at once (``pyspark.zip`` alone has over a thousand entries), which
costs a reused worker about 0.2 s of CPU per task before the kernel sees a
row. 3.13 only drops the cache and re-reads lazily, so the hook is off there.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` reload an archive only when its
    ``(st_mtime_ns, st_size)`` differs from what that importer last read.

    Acts once per process, and only inside a PySpark Python worker on
    Python < 3.13: the worker flag is read through ``sys.modules`` so a
    driver imports nothing and stays unpatched. The task that installs it
    has just re-read every archive, so the importers present now are
    recorded as current. Returns whether it installed the hook.
    """
    files = sys.modules.get("pyspark.core.files")
    reload = zipimport.zipimporter.invalidate_caches
    if (
        sys.version_info >= (3, 13)
        or files is None
        or not files.SparkFiles._is_running_on_worker
        or getattr(reload, "_reloads_changed_only", False)
    ):
        return False

    def invalidate_caches(self):
        stat = _stat(self.archive)
        if stat is None or stat != getattr(self, "_read_stat", None):
            reload(self)
            self._read_stat = stat

    invalidate_caches._reloads_changed_only = True
    for importer in sys.path_importer_cache.values():
        if isinstance(importer, zipimport.zipimporter):
            importer._read_stat = _stat(importer.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
