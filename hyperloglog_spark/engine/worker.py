"""Skip PySpark's redundant per-task import-cache flush on reused workers.

PySpark 4.1's ``worker_util.setup_spark_files`` ends every task with
``importlib.invalidate_caches()``, even when the reused worker's
``sys.path`` did not change. That call makes every ``zipimporter`` on the
path re-read its archive (``pyspark.zip`` once per imported subpackage,
the spark-core jar twice): about 0.2 s per task, more than the sketch
kernels of a bench-size query spend.

``install()`` swaps the worker's ``pyspark.worker_util.importlib`` for a
shim whose ``invalidate_caches()`` runs the real one only when ``sys.path``
changed since its last call (a task brought a new ``addPyFile`` include,
which ``add_path`` inserts once), and otherwise flushes just the
``FileFinder`` of the SparkFiles root, where ``addFile``/``addPyFile``
``.py`` files land. Every other attribute is the real ``importlib``'s.

The package calls ``install()`` on import. Every library worker function
unpickles by importing the package, so a worker's first library task
installs the shim (that task has already paid its flush) and its later
tasks skip the flush. Off a worker, on a PySpark other than 4.1.x, or
where ``setup_spark_files`` does not use a module-level ``importlib``,
``install()`` does nothing.
"""

from __future__ import annotations

import importlib
import sys

# Calls the shim answered with the real full flush / with the root alone.
full_flushes = 0
root_flushes = 0


class _Importlib:
    """``importlib`` whose ``invalidate_caches`` skips an unchanged path."""

    def __init__(self, root_directory):
        self._root_directory = root_directory
        self._path = list(sys.path)  # sys.path at the last flush

    def invalidate_caches(self) -> None:
        global full_flushes, root_flushes
        if sys.path != self._path:
            self._path = list(sys.path)
            full_flushes += 1
            importlib.invalidate_caches()
            return
        root_flushes += 1
        finder = sys.path_importer_cache.get(self._root_directory())
        if finder is not None:
            finder.invalidate_caches()

    def __getattr__(self, name):
        return getattr(importlib, name)


def install() -> None:
    """Put the shim in place once per worker process; see the module doc."""
    import pyspark

    if not getattr(pyspark, "__version__", "").startswith("4.1."):
        return
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:
        return
    if not SparkFiles._is_running_on_worker:
        return
    from pyspark import worker_util

    if (hasattr(worker_util, "setup_spark_files")
            and getattr(worker_util, "importlib", None) is importlib):
        worker_util.importlib = _Importlib(SparkFiles.getRootDirectory)
