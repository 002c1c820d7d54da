"""PySpark worker daemon with a stat-guarded zip-import cache.

Run as ``spark.python.daemon.module`` (set by :func:`session.get_spark` for
local masters when this package is loaded from a directory). Every Python
task's set-up calls ``importlib.invalidate_caches()``; before CPython 3.13
``zipimporter.invalidate_caches`` re-reads the whole archive directory, once
per cached importer: ~0.2 s per task for the 14 importers into
``pyspark.zip``. :func:`install` makes it re-read an archive only when the
archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the last read.
The daemon installs it and primes the cache before it forks, so workers
inherit both and otherwise run stock ``pyspark.daemon``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
_read: dict[str, tuple[tuple[int, int, int], dict]] = {}  # archive -> (stat, directory)


def _guarded_invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    seen = _read.get(self.archive)
    if key is not None and seen is not None and seen[0] == key:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _stock(self)  # stat taken before the read: a rewrite during it re-reads next call
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _read[self.archive] = (key, self._files)
    else:
        _read.pop(self.archive, None)


_guarded_invalidate_caches.stock = _stock


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (idempotent; a no-op on
    CPython 3.13+, where it is already lazy)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    importlib.invalidate_caches()  # one read per archive, inherited by every fork
    daemon.manager()
