"""Python-worker runtime fix: stat-checked ``zipimporter.invalidate_caches``.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``setup_spark_files`` in ``pyspark/worker_util.py``). On CPython < 3.12
that makes every ``zipimporter`` in ``sys.path_importer_cache`` re-parse its
archive's central directory at once. With Spark 4.1.2 on CPython 3.11.7
that is twelve importers on ``pyspark.zip``, two on the spark-core jar and
two on py4j: 0.1-0.25 s of CPU per task on a 4-vCPU VM before the UDF
runs. CPython 3.12 made the method lazy.

:func:`install` replaces the method with one that stats the archive first
and re-reads only if ``(st_ino, st_size, st_mtime_ns)`` differs from the
stat taken before the last read of that archive. An archive rewritten in
place or replaced by a new file is still re-read, so a module added to it
stays importable after ``invalidate_caches()``; an unchanged archive costs
one ``stat`` per importer. Every library UDF imports ``qfilter_spark`` when
it is unpickled, so a reused worker installs this during its first library
task and skips the re-reads from its next task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (stat key taken before the read, directory dict read)
_read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    """Reload the archive's file data if the archive changed on disk."""
    # stat BEFORE reading: a change that lands between the two is seen as
    # a change next time, never recorded as already read
    key = _stat_key(self.archive)
    seen = _read_at.get(self.archive)
    if key is not None and seen is not None and seen[0] == key:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _eager_invalidate(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is None or files is None:
        _read_at.pop(self.archive, None)
    else:
        _read_at[self.archive] = (key, files)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` where it re-reads eagerly.

    Importers that exist now are taken as current: in a worker they were
    read by the ``invalidate_caches()`` that opened the running task.
    Idempotent; does nothing on Python 3.12 or later.
    """
    if sys.version_info >= (3, 12) or \
            zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            key = _stat_key(imp.archive)
            files = zipimport._zip_directory_cache.get(imp.archive)
            if key is not None and files is not None:
                _read_at.setdefault(imp.archive, (key, files))
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
