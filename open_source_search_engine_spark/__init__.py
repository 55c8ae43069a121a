"""PySpark-native inverted-index + BM25 query engine.

Importing the package inside a Spark Python worker installs one guard
(`_guard_zip_directory_reads`): every engine UDF imports the package
when its closure is unpickled, so each reused worker has it from its
first task on.
"""

from __future__ import annotations

import sys


def _guard_zip_directory_reads() -> bool:
    """Make `zipimporter.invalidate_caches` re-read an archive's central
    directory only when the archive changed. Returns whether it is on.

    Before every task the PySpark worker calls
    `importlib.invalidate_caches()`. On CPython < 3.13 each zipimporter
    then re-reads its archive's directory eagerly, and a worker holds
    one importer per imported pyspark sub-package (pyspark.zip has
    1,328 entries): about 16 directory reads, 0.1-0.3 s, per task.
    CPython 3.13 re-reads lazily, so the guard is a no-op there.

    An archive is re-read when its (st_mtime_ns, st_size, st_ino) stamp
    differs from the one recorded at its last read, or when
    `zipimport._zip_directory_cache` no longer holds it; otherwise the
    importer is re-pointed at the cached directory. A new path gets a
    fresh importer and a rewritten zip a new stamp, so `addPyFile` and
    `addArchive` keep working.
    """
    if sys.version_info >= (3, 13):
        return False
    import functools
    import os
    import zipimport

    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return True
    reread = cls.invalidate_caches
    stamps: dict[str, tuple[int, int, int] | None] = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and stamps.get(self.archive) == stamp):
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    cls.invalidate_caches = invalidate_caches
    return True


_taskcontext = sys.modules.get("pyspark.taskcontext")
if _taskcontext is not None and _taskcontext.TaskContext.get() is not None:
    _guard_zip_directory_reads()
del _taskcontext
