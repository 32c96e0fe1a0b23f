"""Python worker daemon for the engine's sessions (``get_spark`` sets
``spark.python.daemon.module`` to this module).

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark/worker_util.py``). On CPython < 3.13 every
``zipimporter`` on the worker path answers that by re-parsing its
archive's whole central directory, and the worker path holds
``pyspark.zip``, the py4j zip and the Spark core jar through one
importer per imported package: 120-200 ms before each task's first
batch. This daemon makes an importer re-read its archive only when the
archive's ``(st_mtime_ns, st_size)`` stamp has changed, then runs the
stock ``pyspark.daemon.manager()``. Workers fork from the daemon and
inherit the patched importers. CPython 3.13 only drops the cache on
invalidation, so the patch is not installed there.
"""
from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) of the directory in
# zipimport._zip_directory_cache
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """zipimporter.invalidate_caches that re-reads the archive only
    when its stamp differs from the one taken at the last read."""
    archive = self.archive
    cache = zipimport._zip_directory_cache
    stamp = _stamp(archive)
    if stamp is not None and _stamps.get(archive) == stamp and archive in cache:
        self._files = cache[archive]
        return
    # stamp before reading: a write racing the read leaves a stale
    # stamp, which forces another read next time, never a stale directory
    try:
        self._files = zipimport._read_directory(archive)
        cache[archive] = self._files
        if stamp is not None:
            _stamps[archive] = stamp
    except zipimport.ZipImportError:
        cache.pop(archive, None)
        _stamps.pop(archive, None)
        self._files = {}


def install_zip_stamps() -> bool:
    """Patch zipimporter.invalidate_caches on CPython < 3.13; returns
    whether it patched."""
    if sys.version_info[:2] >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    install_zip_stamps()
    from pyspark import daemon

    # one read per archive here stamps every importer the daemon
    # created, so forked workers start with a warm, stamped cache
    importlib.invalidate_caches()
    daemon.manager()
