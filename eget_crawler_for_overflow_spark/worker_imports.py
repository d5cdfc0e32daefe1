"""Cheap ``importlib.invalidate_caches()`` for zip imports on Python 3.10–3.12.

Cause. Before running each task, PySpark's Python worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py::
setup_spark_files``). Under Python 3.10–3.12 that calls
``zipimport.zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``, and each call eagerly re-reads its archive's
whole central directory. A worker holds about 16 of them: ``pyspark.zip``
and one per sub-package imported from it, the py4j zip, and the spark-core
jar twice (5,359 entries). On a 4-vCPU VM this cost 213-271 ms per task
before the task touched a row, on every ``mapInPandas`` and pandas UDF task.

Upstream fix. CPython 3.13's ``zipimport.py`` makes the call lazy:
``zipimporter.invalidate_caches`` only pops the archive's entry from
``_zip_directory_cache``, and ``zipimporter._get_files`` re-reads the
directory on the next lookup that needs it.

Backport. On 3.10–3.12, importing this module (the package ``__init__``
does) wraps ``zipimport._read_directory`` to record the archive's
``(st_mtime_ns, st_size)`` taken just before each read, and replaces
``zipimporter.invalidate_caches`` with one that re-reads an archive only
when that stamp has changed. Archives read before the install are stamped
at install time: in a worker that is the current task's own set-up read,
and PySpark never rewrites the archives it ships while an application
runs. Every engine UDF's pickled function refers to engine modules, so a
worker imports this package while unpickling its first engine task; a
reused worker is patched from its second task on. On any other
interpreter this module does nothing.

Delete this module once the minimum supported Python is 3.13.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) seen just before its last directory
# read; process-wide, like zipimport's own _zip_directory_cache it qualifies
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _wrap_read_directory(read_directory):
    def _read_directory(archive):
        # stat BEFORE reading: a rewrite during the read leaves a stamp
        # older than the archive, so the next invalidation re-reads it
        stamp = _stamp(archive)
        files = read_directory(archive)
        _stamps[archive] = stamp
        return files

    return _read_directory


def _wrap_invalidate_caches(invalidate_caches):
    def _invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        seen = _stamps.get(self.archive)
        if files is None or seen is None or seen != _stamp(self.archive):
            invalidate_caches(self)
            return
        # unchanged archive: adopt the shared directory, which another
        # importer of the same archive may have re-read since this one
        self._files = files

    return _invalidate_caches


if (3, 10) <= sys.version_info[:2] < (3, 13):
    for _archive in list(zipimport._zip_directory_cache):
        _stamps[_archive] = _stamp(_archive)
    zipimport._read_directory = _wrap_read_directory(zipimport._read_directory)
    zipimport.zipimporter.invalidate_caches = _wrap_invalidate_caches(
        zipimport.zipimporter.invalidate_caches
    )
