"""Stat-checked ``zipimport`` directory cache for Python workers.

PySpark starts every Python task with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory on every call, and a worker holds one importer per package
directory it imported from a zip: 17-19 once it has run an
``rdfa_spark`` kernel, most of them over ``pyspark.zip`` (1,328
entries), at 5-13 ms per read on a 4-core VM, so every task paid
about 0.2 s of CPU before its first row. CPython 3.13 made the
invalidation lazy (drop the cached directory, re-read it on the next
lookup), and the version gate below leaves such interpreters
untouched.

The replacement re-reads an archive only when its ``(st_mtime_ns,
st_size, st_ino)`` stamp differs from the stamp taken at the last read
made here, or when ``zipimport._zip_directory_cache`` holds no entry
for it; otherwise the importer re-attaches the shared cached
directory. That is at most one read per changed archive per
invalidation. An archive that cannot be stat'ed goes through the
stdlib method, so a deleted archive behaves as before.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int, int]] = {}


def _stat_checked(stdlib):
    @functools.wraps(stdlib)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stdlib(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        stdlib(self)
        _stamps[self.archive] = stamp

    return invalidate_caches


# CPython 3.13+ invalidates lazily, so nothing is installed there;
# once every supported interpreter is 3.13+, delete this module.
if sys.version_info < (3, 13):
    _current = zipimport.zipimporter.invalidate_caches
    # a re-executed module wraps the stdlib method, not its own wrapper
    zipimport.zipimporter.invalidate_caches = _stat_checked(
        getattr(_current, "__wrapped__", _current))
