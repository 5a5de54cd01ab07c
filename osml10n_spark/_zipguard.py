"""Skip re-reading an unchanged zip archive on ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before
every task (``pyspark/worker_util.py``, ``setup_spark_files``).  On
CPython 3.11 every ``zipimporter`` then re-reads its archive's whole
central directory (``zipimport.py``, ``zipimporter.invalidate_caches``).
A worker that imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
holds ~16 importers on that archive (1,328 entries, ~10 ms each), so
every Python-UDF task paid ~0.2 s before it read its first row.

The wrapper installed here re-reads only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp taken at this
importer's last re-read, or when ``stat`` fails.  A rewritten archive is
still re-read, and new ``sys.path`` entries still get new importers.
It relies on the documented ``archive`` attribute only.  Importing
``osml10n_spark`` installs it, so a Python worker runs with it from the
first task that unpickles an engine UDF onwards.
"""
from __future__ import annotations

import os
import weakref
import zipimport

# importer -> archive stamp at its last re-read through the wrapper
_STAMPS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Re-read the archive's file data when the archive changed."""
    stamp = _archive_stamp(self.archive)
    if stamp is not None and _STAMPS.get(self) == stamp:
        return
    # stamp taken before the read: a write racing the read shows up as a
    # new stamp on the next call and is re-read then
    _original(self)
    if stamp is None:
        _STAMPS.pop(self, None)
    else:
        _STAMPS[self] = stamp


_original = zipimport.zipimporter.invalidate_caches
zipimport.zipimporter.invalidate_caches = invalidate_caches
