"""Python worker daemon: ``pyspark.daemon`` with a stat-checked zip cache.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Under Python 3.11 that makes
each ``zipimporter`` on the worker's path re-read its archive's directory:
about 16 importers over the 1,328-entry ``pyspark.zip``, nearly all of a
task's set-up time in a profile of one worker.  Here an importer re-reads
its archive only when the archive's stat changed since its last read
(Python 3.12 made the same call lazy).  ``session.get_spark`` starts
Spark's workers through this module (``spark.python.daemon.module``);
the forked workers inherit the patch and the daemon's warm importers.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stat(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    stat = _stat(self.archive)
    if stat is not None and stat == getattr(self, "_archive_stat", None):
        return
    _reread(self)
    self._archive_stat = stat


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and read every importer's
    archive once, here, so forked workers start with the stats recorded."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark.daemon import manager  # imports the worker's modules first

    install()
    manager()
