"""Stat-keyed ``zipimporter.invalidate_caches`` for PySpark Python workers.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.10 and 3.11
that makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its archive's whole central directory on the spot. A worker
holds 16 of them on ``pyspark.zip`` (one per package directory it has
imported from), which costs ~0.22 s of worker CPU per task, even for an
identity ``mapInArrow`` (BASELINE.md, "Python task fixed cost").
CPython 3.12 made the re-read lazy (gh-103200: the method drops the
cached directory and ``_get_files`` reads it on next use), and 3.9 and
older have no such method, so both keep the stock one.

The replacement re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from what that importer saw when it
last read it. An archive with the same stat has the same directory, so
imports resolve exactly as under the stock method; a rewritten archive
is re-read as before.

``engine/__init__.py`` calls ``install_in_worker()`` on import. It swaps
the method only inside a Python task (a worker that unpickles an engine
kernel imports the package), never in the driver process.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK = getattr(zipimport.zipimporter, "invalidate_caches", None)
#: instance attribute holding the archive stat at that importer's last read
_STAT_ATTR = "_engine_read_stat"


def _archive_stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_caches(self) -> None:
    """Re-read this importer's archive only if its stat changed since
    this importer last read it (module doc)."""
    stat = _archive_stat(self.archive)
    if stat is not None and getattr(self, _STAT_ATTR, None) == stat:
        # what the stock method would leave behind after its re-read
        zipimport._zip_directory_cache[self.archive] = self._files
        return
    _STOCK(self)
    # a failed read (archive gone or unreadable) leaves the archive out
    # of the directory cache; keep no stat then, so the next call tries
    # again exactly like the stock method would
    if stat is not None and self.archive in zipimport._zip_directory_cache:
        setattr(self, _STAT_ATTR, stat)
    else:
        vars(self).pop(_STAT_ATTR, None)


def eager_rereads() -> bool:
    """Whether this interpreter's stock method re-reads every archive
    on each call (CPython 3.10 and 3.11)."""
    return _STOCK is not None and not hasattr(zipimport.zipimporter,
                                              "_get_files")


def install_in_worker() -> bool:
    """Swap in the stat-keyed method when called inside a PySpark
    Python task on an interpreter that re-reads eagerly. Returns whether
    it is installed in this process."""
    if not eager_rereads():
        return False
    # pyspark.worker imports taskcontext before it unpickles a task's
    # function, and sets the task's context first; the driver has none
    tc = sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None:
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
