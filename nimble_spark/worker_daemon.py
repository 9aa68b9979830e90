"""Spark's Python worker daemon (``pyspark.daemon``) with a cheap
per-task import-cache reset on CPython < 3.12.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.12
(gh-103200) a ``zipimporter`` answers that by re-reading its whole
archive directory, and a worker caches one importer per package it
imported from pyspark.zip, the py4j zip and the spark-core jar on its
path: 150-290 ms of every task, most of a small task's time.

``guard_zip_rereads`` makes each importer re-read its archive only
when the archive's (mtime, size, inode) stamp changed since the
directory was last read, so a rewritten archive is still picked up.
``get_spark`` points ``spark.python.daemon.module`` here; the daemon
installs the guard once, and every worker it forks inherits it."""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def guard_zip_rereads() -> None:
    """Replace ``zipimport.zipimporter.invalidate_caches`` with one that
    re-reads an archive's directory only when its stamp changed, and
    read each archive already imported from once, stamped, so the
    first task of a worker reads none. The stamp is taken before the
    read: an archive rewritten during a read re-reads on the next
    call."""
    stamps: dict = {}

    def invalidate_caches(self) -> None:
        cache = zipimport._zip_directory_cache
        stamp = _stamp(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp and self.archive in cache:
            self._files = cache[self.archive]
            return
        try:
            self._files = cache[self.archive] = zipimport._read_directory(self.archive)
            stamps[self.archive] = stamp
        except zipimport.ZipImportError:
            cache.pop(self.archive, None)
            stamps.pop(self.archive, None)
            self._files = {}

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    seen = set()
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive not in seen:
            seen.add(finder.archive)
            finder.invalidate_caches()


def main() -> None:
    from pyspark.daemon import manager

    if sys.version_info < (3, 12):
        guard_zip_rereads()
    manager()


if __name__ == "__main__":
    # re-import by name, so the guard's functions report this module
    from nimble_spark.worker_daemon import main as _main

    _main()
