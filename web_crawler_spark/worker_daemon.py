"""PySpark worker daemon that re-reads a zip archive's directory only when the
archive changed.

Every Python task calls ``importlib.invalidate_caches()`` while it sets up its
import path, and before CPython 3.13 that makes every ``zipimporter`` re-read
its archive's whole central directory — once per importer, and a worker holds
one importer per package it imported from ``pyspark.zip``. That re-read was
most of the fixed cost of a small Python task. Here it is skipped while the
archive's ``(st_mtime_ns, st_size)`` equals the one seen at its last read, so
a changed archive is still re-read and the invalidation keeps its meaning.

Spark starts this module instead of ``pyspark.daemon`` through
``spark.python.daemon.module`` (set by ``session.get_spark``); executors must
be able to import it before any task runs.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self, _read=zipimport.zipimporter.invalidate_caches) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _read(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
    else:
        _read(self)  # stamped before the read: a change during it shows next time
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (a no-op on CPython >= 3.13,
    whose zipimport already checks the archive's mtime and size)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    import importlib

    from pyspark.daemon import manager

    # import by package name, so the patch reports this module, not __main__
    from web_crawler_spark.worker_daemon import install as _install

    _install()
    importlib.invalidate_caches()  # read each archive once; forked workers start warm
    manager()
