"""PySpark's Python worker, without the per-task re-read of unchanged zips.

``session.get_spark`` sets ``spark.python.worker.module`` to this module.
PySpark's ``daemon.py`` imports a worker module only if its name starts
with ``pyspark``; it imports this one before it forks any worker and runs
its ``main`` (``pyspark.worker.main``) in each worker. Under
``spark.python.use.daemon=false`` the JVM runs ``python -m`` on this
module, which runs ``pyspark.worker`` as ``__main__``.

The call it shadows: every task runs
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()`` so that files ``addPyFile`` has just
shipped become importable. On Python 3.11 that call also makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory: a worker holds 16 of them (12 over ``pyspark.zip``, 2
over py4j's zip, 2 over the spark-core jar), 0.13-0.25 s of CPU on every
task on a 4-vCPU host, most of a warm Python task's CPU.

Here ``worker_util``'s ``importlib`` global is a shim whose
``invalidate_caches`` sets aside each zipimporter whose archive still has
the ``(st_size, st_mtime_ns)`` it had when it was last read, makes the
real call, and puts them back. That changes nothing a task can import:

- directory finders, where ``addPyFile`` puts ``.py`` files, are still
  invalidated;
- an archive whose size or mtime changed is still re-read;
- a zip that ``addPyFile`` puts on ``sys.path`` later gets a new
  zipimporter, which reads the archive when it is made.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipimport

import pyspark.worker_util

# Archive path -> (st_size, st_mtime_ns) when its directory was last read.
_read_at: dict[str, tuple[int, int]] = {}


def _signature(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _record_open_archives() -> None:
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            sig = _signature(finder.archive)
            if sig is not None:
                _read_at[finder.archive] = sig


def invalidate_caches() -> None:
    """``importlib.invalidate_caches()`` minus the unchanged archives."""
    seen: dict[str, tuple[int, int] | None] = {}
    kept = {}
    for path, finder in list(sys.path_importer_cache.items()):
        # The real call drops entries under relative paths; leave those.
        if isinstance(finder, zipimport.zipimporter) and os.path.isabs(path):
            if finder.archive not in seen:
                seen[finder.archive] = _signature(finder.archive)
            sig = seen[finder.archive]
            if sig is not None and _read_at.get(finder.archive) == sig:
                kept[path] = sys.path_importer_cache.pop(path)
    try:
        importlib.invalidate_caches()
    finally:
        sys.path_importer_cache.update(kept)
    _read_at.update((a, s) for a, s in seen.items() if s is not None)


class _Importlib:
    """``importlib`` as ``worker_util`` sees it."""

    invalidate_caches = staticmethod(invalidate_caches)

    def __getattr__(self, name):
        return getattr(importlib, name)


pyspark.worker_util.importlib = _Importlib()

if __name__ == "__main__":
    _record_open_archives()
    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    from pyspark.worker import main  # noqa: F401  (what daemon.py runs)

    _record_open_archives()
