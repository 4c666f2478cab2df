"""Once-per-process tuning for Spark Python workers, imported for its side
effects by parquet4seastar_spark (so every engine UDF gets it when it is
unpickled in a worker; each Python worker is a fresh process).

Two fixed costs are removed here.

1. Allocator.  glibc malloc serves allocations above MMAP_THRESHOLD
   (128 KiB default) with fresh mmap regions and returns them to the kernel
   on free.  Every multi-MB numpy temporary then pays page-fault + zeroing
   cost: on this class of host a single masked-copy pass over 75 MB
   measured ~640 ms cold vs ~44 ms with heap reuse -- a 14x penalty on
   every vectorized pass.  Raising M_MMAP_THRESHOLD keeps large blocks on
   the heap so freed temporaries are reused.  Safe to call multiple times;
   silently does nothing on non-glibc platforms.

2. Per-task zip directory re-read.  pyspark's worker calls
   ``importlib.invalidate_caches()`` at the start of EVERY task
   (``pyspark/worker_util.py:setup_spark_files``).  Before CPython 3.13
   that makes every ``zipimporter`` on ``sys.path_importer_cache`` re-read
   the central directory of its archive -- one zipimporter per package
   directory imported from ``pyspark.zip`` (1,328 entries) or the py4j zip,
   16 of them in an encode worker.  A cProfile of the worker's ``main`` put
   0.53 of its 0.60 s there, paid by every task of a reused worker.
   :func:`install_zip_cache_hook` makes the re-read conditional on the
   archive having changed ((st_mtime_ns, st_size) differs from the last
   read); an unchanged archive takes its already-parsed directory from
   ``zipimport._zip_directory_cache``.  The first task of each worker still
   pays one re-read (``setup_spark_files`` runs before the UDF, and so this
   module, is unpickled); every later task in that worker pays none.
   CPython 3.13+ invalidates lazily by itself, so the hook is not installed
   there.
"""

from __future__ import annotations

import ctypes
import os
import sys
import zipimport

_M_TRIM_THRESHOLD = -1
_M_TOP_PAD = -2
_M_MMAP_THRESHOLD = -3

_applied = False


def tune_allocator() -> bool:
    global _applied
    if _applied:
        return True
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(_M_MMAP_THRESHOLD, 1 << 30)  # big blocks on the heap
        libc.mallopt(_M_TRIM_THRESHOLD, 1 << 30)  # don't give them back on free
        libc.mallopt(_M_TOP_PAD, 1 << 26)
        _applied = True
    except OSError:
        return False
    return True


# archive path -> (st_mtime_ns, st_size) of the file its cached directory
# was read from
_zip_stats: dict[str, tuple[int, int]] = {}


def _zip_stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install_zip_cache_hook() -> bool:
    """Replace ``zipimport.zipimporter.invalidate_caches`` with a version
    that re-reads an archive's directory only when the archive changed.

    Returns True when the hook is (already) installed, False on CPython
    3.13+, where the stock method no longer re-reads eagerly.  The stats of
    every archive already in the directory cache are recorded at install
    time.  The stat is taken BEFORE a re-read, so an archive rewritten
    during the read is recorded with its old stat and re-read next time.
    """
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_p4s_hook", False):
        return True
    reread = cls.invalidate_caches
    cache = zipimport._zip_directory_cache

    def invalidate_caches(self):
        archive = self.archive
        stat = _zip_stat(archive)
        files = cache.get(archive)
        if stat is not None and files is not None and _zip_stats.get(archive) == stat:
            self._files = files
            return
        reread(self)
        if stat is not None and archive in cache:
            _zip_stats[archive] = stat
        else:
            _zip_stats.pop(archive, None)

    invalidate_caches._p4s_hook = True
    for archive in list(cache):
        stat = _zip_stat(archive)
        if stat is not None:
            _zip_stats[archive] = stat
    cls.invalidate_caches = invalidate_caches
    return True


tune_allocator()
install_zip_cache_hook()
