"""Python daemon for Spark's workers: ``pyspark.daemon`` with a zip-cache guard.

Every Python task calls ``importlib.invalidate_caches()`` after it puts the
task's ``addPyFile`` archives on ``sys.path`` (pyspark ``worker_util``).
On CPython 3.11 that makes every cached ``zipimporter`` re-read its whole
archive directory: for ``pyspark.zip`` (~1,300 entries) that is one read
per cached sub-package importer, about 0.2 s of every task in a reused
worker. The guard below skips the re-read of an archive whose file has
not changed since it was last read, so a changed or new archive (the case
Spark invalidates for) is still read again.

``session.get_spark`` names this module in ``spark.python.daemon.module``;
Spark starts it as ``python -m kafka_stream_aggregator_spark._pyworker``.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def unchanged_archive_guard():
    """A replacement for ``zipimporter.invalidate_caches`` that re-reads an
    archive only when its ``(st_ino, st_mtime_ns, st_size)`` differs from
    the last read this guard made (or it has made none)."""
    reread = zipimport.zipimporter.invalidate_caches
    read_as: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            read_as.pop(self.archive, None)
            reread(self)
            return
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_as.get(self.archive) == key:
            # another importer of this archive may hold an older read
            self._files = files
            return
        # stat before the read: a write racing the read leaves a key that
        # the next call sees as changed
        reread(self)
        read_as[self.archive] = key

    return invalidate_caches


def main() -> None:
    from pyspark.daemon import manager  # imports the worker module too

    zipimport.zipimporter.invalidate_caches = unchanged_archive_guard()
    # One guarded pass before the daemon forks: records each archive it has
    # imported from, so every forked worker starts with a warm guard.
    importlib.invalidate_caches()
    manager()


if __name__ == "__main__":
    main()
