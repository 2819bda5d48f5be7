"""Python-worker hooks: cut the fixed CPU cost of every task in a reused worker.

Two costs are paid between tasks, outside any UDF body.

**Zip re-reads.** A PySpark worker starts every task with
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. From Python 3.10 on that call reaches
``zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``, and each one re-reads its archive's whole
central directory: about 16 importers over ``pyspark.zip`` (1,328 entries,
one importer per imported sub-package) plus the engine's own shipped zip.
In a warm, reused worker that is ~225 ms of CPU per task (4-core Xeon VM,
Python 3.11, PySpark 4.1), more than the NumPy work of a small tile task.
:func:`install` wraps the method so that an archive is re-read only when
its ``(st_mtime_ns, st_size, st_ino)`` differs from the last read: a
changed, replaced or newly added archive still goes through the original
re-read. Importers that share an archive take the shared directory from
``zipimport._zip_directory_cache``, which the original keeps current.
On Python < 3.10 there is no re-read and nothing to wrap.

**Per-task garbage collection.** When a worker is reused
(``SPARK_REUSE_WORKER`` set, the default ``spark.python.worker.reuse``),
PySpark's daemon runs a full ``gc.collect()`` after every task. Each one
walks every tracked object, and ~73,000 of them date from import time
(pyspark, pandas, pyarrow, NumPy): 20-35 ms of CPU per task on the same
VM. The automatic gen-2 collections inside task bodies walk the same
heap. :func:`install` runs, once per process and only in a reused worker,
:func:`freeze_heap`: import NumPy, pandas and pyarrow, collect, then
``gc.freeze()``. Every later collection walks only objects made after the
freeze (~600-1,300 in a later task). On perfbench's ``tile_chain`` (16
Python tasks per pass) the worker CPU spent between task bodies fell
from 0.53 s to 0.06 s per pass. A worker that runs one task and exits,
and the driver, gain nothing from it and freeze nothing. What can leak
is bounded: reference counting still frees frozen objects, so only
reference cycles among the objects alive at freeze time, made garbage
later, are never collected.

The package ``__init__`` calls :func:`install` once per process, and only
inside a PySpark worker.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

# archive path -> stat key of the file the cached directory was read from
_read_keys: dict[str, tuple[int, int, int]] = {}
_frozen = False


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def in_worker() -> bool:
    """True inside a PySpark Python worker (set by ``setup_spark_files``
    before any task code, so before this package is imported there)."""
    files = sys.modules.get("pyspark.core.files")
    return bool(files and files.SparkFiles._is_running_on_worker)


def active() -> bool:
    """Whether this process's zip importers use the stat-keyed re-read."""
    method = getattr(zipimport.zipimporter, "invalidate_caches", None)
    return getattr(method, "_stat_keyed", False)


def freeze_heap() -> None:
    """In a reused worker, move the import-time heap out of the
    collector's reach, once per process."""
    global _frozen
    if _frozen or not os.environ.get("SPARK_REUSE_WORKER"):
        return
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    try:
        import pyarrow  # noqa: F401
    except ImportError:          # only the Arrow UDF paths need it
        pass
    gc.collect()
    gc.freeze()
    _frozen = True


def install() -> bool:
    """Freeze the heap (:func:`freeze_heap`) and wrap
    ``zipimporter.invalidate_caches`` (both idempotent). Returns whether
    the zip hook is active."""
    freeze_heap()
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if original is None:
        return False
    if getattr(original, "_stat_keyed", False):
        return True

    def invalidate_caches(self):
        # stat BEFORE the read: a write racing the read leaves an old key
        # beside new data, so the next call reads again — never the reverse
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and _read_keys.get(self.archive) == key:
            self._files = files
            return
        original(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read_keys[self.archive] = key
        else:
            _read_keys.pop(self.archive, None)

    invalidate_caches._stat_keyed = True
    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
