"""Python worker daemon: PySpark's own daemon, except that a zip archive
on ``sys.path`` is re-read only when it changed.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython 3.11 that makes every ``zipimport.zipimporter`` re-read and
re-parse its archive's whole central directory in pure Python (3.12
made it lazy, gh-103200). The JVM puts pyspark.zip, the py4j zip and
the spark-core jar on every worker's path, so each task, in a reused
worker too, re-parses tens of thousands of directory entries before its
first row.

``invalidate_unless_unchanged`` keeps, per importer, the archive's
``(st_mtime_ns, st_size)`` taken just before its last re-read and skips
the re-read while the archive still has that stamp. An importer without
a stamp, an archive whose stamp moved, and an archive ``os.stat``
cannot read all go through the original re-read.

``session.configure`` names this module as ``spark.python.daemon.module``.
Importing it changes nothing; running it as ``__main__`` installs the
memo and runs ``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_unless_unchanged(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while
    the archive's stat stamp equals the one taken before the last."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop("_archive_stamp", None)
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    if self.__dict__.get("_archive_stamp") != stamp:
        _reread(self)
        self._archive_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_unless_unchanged

    from pyspark.daemon import manager

    manager()
