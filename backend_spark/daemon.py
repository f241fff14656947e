"""PySpark's worker daemon with a cheaper per-task import-cache reset.

``session.get_session`` names this module in ``spark.python.daemon.module``,
so Python workers fork from it instead of ``pyspark.daemon``; like the
engine's pandas UDFs, it needs ``backend_spark`` importable by the worker.

Before every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  Before CPython 3.13 that makes every
``zipimporter`` re-read its archive's whole directory, and a forked worker
inherits about 16 of them over ``pyspark.zip``: 0.13-0.25 s per task.
Here an archive is re-read only when its size or mtime differs from its
last read, so a rewritten archive is still seen.  CPython 3.13 made the
invalidation lazy, so there the daemon runs unpatched.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its (size, mtime) changed.  Importers over one archive share the
    directory of its last read."""
    read: dict[str, tuple] = {}  # archive -> (stamp, directory) of its last read
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        last = read.get(self.archive)
        if stamp is not None and last is not None and last[0] == stamp:
            self._files = last[1]
            return
        reread(self)
        read[self.archive] = (stamp, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        install()
    from pyspark.daemon import manager

    # read each archive once, after the worker's own imports: every
    # forked worker inherits that read
    importlib.invalidate_caches()
    manager()
