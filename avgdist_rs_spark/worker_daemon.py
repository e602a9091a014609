"""The engine's Python worker daemon: PySpark's stock daemon, whose forked
workers re-read a zip archive's directory only when the archive changed.

Spark starts it as ``python -m avgdist_rs_spark.worker_daemon`` because
:func:`avgdist_rs_spark.session.get_spark` sets ``spark.python.daemon.module``
(the hook PySpark's own coverage runs use). Every pandas-UDF task begins with
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On CPython 3.11 that makes every cached
``zipimporter`` re-parse its archive's whole central directory: a worker holds
12 importers on ``pyspark.zip`` (1,328 entries each), 2 on the Spark core jar
(5,359 entries each) and 2 on py4j, 0.27 CPU-s per task on a 4-core host.
:func:`stat_guarded_invalidate_caches` re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since that importer last read it,
so py-files added or rewritten between tasks are still picked up.

The daemon's forked worker also runs ``gc.collect()`` after every task.
With numpy, pandas and pyarrow loaded that full collection scans ~73,000
objects, 42-49 ms of CPU, more than the 15-20 ms a 64-seed BFS task works.
:func:`collect_then_freeze` ends each task with ``gc.collect()`` and then
``gc.freeze()``: the task's own cyclic garbage is still collected, and what
survives it moves to the permanent generation, which no later collection
scans. The trade: an object frozen after one task that joins an unreachable
cycle in a later task is never freed — a frozen cycle is reclaimed only
when the worker exits. The objects a task creates and drops stay
collectable, and acyclic garbage is freed by reference counting either way.
Measured on a trivial 2-task ``mapInPandas`` job (``local[2]``, 4-core
shared host, median of 10): 0.10 → 0.01 worker CPU-s per job; a collection
after a task then scans ~100 objects in ~0.1 ms.

Importing this module changes nothing; only running it as ``__main__``
installs the guard, wraps ``pyspark.daemon.worker_main`` and then hands over
to ``pyspark.daemon.manager()``. Workers are forked from the daemon and
inherit both.
"""

from __future__ import annotations

import gc
import os
import zipimport
from collections.abc import Callable

#: CPython's own method, kept for the re-reads the guard lets through
_reread_directory = getattr(zipimport.zipimporter, "invalidate_caches", None)


def stat_guarded_invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    The first call on an importer always re-reads (its read time is not
    known), as does every call while the archive cannot be stat'ed."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    if key is not None and self.__dict__.get("_read_stat") == key:
        return
    _reread_directory(self)
    self._read_stat = key


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process and every
    process forked from it (no-op on a Python without the method)."""
    if _reread_directory is not None:
        zipimport.zipimporter.invalidate_caches = stat_guarded_invalidate_caches


def collect_then_freeze(worker_main: Callable) -> Callable:
    """``worker_main`` that ends every task with ``gc.collect()`` and then
    ``gc.freeze()``, so the daemon's own per-task collection scans only the
    objects created since."""

    def run_task(infile, outfile):
        try:
            return worker_main(infile, outfile)
        finally:
            gc.collect()
            gc.freeze()

    return run_task


if __name__ == "__main__":
    # run as a script this file is ``__main__``; install from the package
    # module so the patched functions name their real module
    import pyspark.daemon as daemon
    from avgdist_rs_spark.worker_daemon import collect_then_freeze as _freezing
    from avgdist_rs_spark.worker_daemon import install as _install

    _install()
    daemon.worker_main = _freezing(daemon.worker_main)
    daemon.manager()
