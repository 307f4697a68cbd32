"""Spark's Python-worker daemon, minus the per-task re-read of pyspark.zip.

Every Python task (pandas UDFs, ``applyInPandasWithState``,
``mapInPandas``) starts with pyspark's ``worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On CPython 3.10-3.12
that call makes every cached ``zipimporter`` re-read its archive's
central directory eagerly. A worker holds about 16 of them for Spark's
``pyspark.zip`` (3.5 MB, 1,328 entries), so a task that does no row work
still spends ~0.5 s of its ~0.6 s re-parsing an archive that has not
changed. The engine's stateful streaming stages run one such task per
state partition per micro-batch, so this fixed cost was most of a
micro-batch.

This module replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` differs from the last read, then runs the stock
``pyspark.daemon.manager()``; the workers it forks inherit the patch.
Directory finders are still invalidated (files added to a task's working
directory are still found), and a rewritten archive is still re-read.
On other interpreter versions ``invalidate_caches`` is already lazy or
absent, and the stock daemon runs unchanged.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
"""

from __future__ import annotations

import os
import sys
import zipimport

# Interpreters whose zipimporter.invalidate_caches re-reads the archive
# eagerly (added in 3.10; 3.13 made it drop the cache and read lazily).
PATCHABLE = (3, 10) <= sys.version_info[:2] <= (3, 12)

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> its (st_mtime_ns, st_size, st_ino) when last read
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _file_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    The stamp is taken before the read, so an archive rewritten during
    the read keeps an old stamp and is read again on the next call.
    """
    stamp = _file_stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _read_stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _stock_invalidate_caches(self)
    if stamp is None:
        _read_stamps.pop(self.archive, None)
    else:
        _read_stamps[self.archive] = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` on interpreters that need
    it; returns whether the patch is in place."""
    if PATCHABLE:
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    return PATCHABLE


def main() -> None:
    install()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
