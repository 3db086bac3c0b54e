"""Stop Python workers from re-reading unchanged zip archives per task.

Before each task, ``pyspark.worker`` calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). Before CPython 3.13 that makes every
cached ``zipimport.zipimporter`` re-read its archive's whole central
directory in pure Python: the workers import pyspark from ``pyspark.zip``
(1,328 entries, ~10 ms per cached importer) and also have the spark-core
jar (5,359 entries, ~40 ms) on their path. Measured in a task at local[4]
(4 vCPUs) on CPython 3.11.7, with 16 cached zip importers, the call took
112–272 ms; under the guard below, 37–73 ms on a worker's first guarded
call (one read per archive) and 0.1–0.3 ms on every later one.

``install`` replaces ``zipimporter.invalidate_caches`` with a stat guard.
An archive is re-read only when its ``(st_mtime_ns, st_size)`` differs
from its last read, so a new or changed archive (an ``addPyFile`` zip) is
still re-read, and an unchanged one keeps the directory read at that
stamp. Reads are kept per archive, so the importers of one archive (one
per package prefix) share one read. CPython 3.13 made the invalidation
lazy; there ``install`` patches nothing.

The package's ``__init__`` calls ``install`` when it is imported inside a
task, which is when a worker unpickles its first engine UDF. Workers are
reused across tasks, so from a worker's second task on, its invalidation
skips every archive it has read (the first guarded call reads each
archive once). Nothing needs the package before a task runs, so a
package shipped with ``--py-files`` works as before, and the driver's own
``zipimporter`` is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original_invalidate_caches = zipimport.zipimporter.invalidate_caches
#: archive path -> ((st_mtime_ns, st_size), directory read at that stamp);
#: process-wide, like zipimport's own directory cache it guards
_last_read: dict = {}


def guarded_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:  # a deleted archive: the original empties the directory
        stamp = None
    seen = _last_read.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _original_invalidate_caches(self)
    _last_read[self.archive] = (stamp, self._files)


def install() -> bool:
    """Patch ``zipimporter`` where its invalidation is eager; True if patched."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
    return True
