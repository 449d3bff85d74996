"""Stat-guarded ``zipimporter.invalidate_caches`` for PySpark workers.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before CPython 3.13 each
live zipimporter answers by re-parsing its archive's whole central
directory, so a reused worker re-reads pyspark.zip and the py4j zip
(about 21k entries) once per task. The guarded version re-reads only on
an importer's first invalidation, when the archive's
(inode, size, mtime) changed, or when it cannot be stat-ed: a rewritten
or deleted archive is still re-read, exactly as before. Installed only
in a reused worker process, which every UDF closure of the package
imports it into; on 3.13+ (lazy invalidation) this module does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches


def guarded_invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        self._archive_key = None  # re-read a restored archive, whatever its key
        return _original(self)
    key = (st.st_ino, st.st_size, st.st_mtime_ns)
    if getattr(self, "_archive_key", None) != key:
        _original(self)
        self._archive_key = key  # stat taken before the read: never newer


if sys.version_info < (3, 13) and "SPARK_REUSE_WORKER" in os.environ:
    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
