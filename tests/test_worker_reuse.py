"""The worker import-flush shim (``engine.worker``) on reused workers.

Each job below is one partition, so one Python task; its UDF is a library
``cell_udf`` (the package import installs the shim) and returns the
worker's pid with the shim's counters. Spark hands idle workers out in
turn, so a few jobs revisit every pid. A task that finds the counters
above zero ran on a worker whose earlier library task installed the shim,
i.e. its per-task flush went through the shim. The last tests run in
this process posing as a worker: the version and attribute gates, and the
two flush branches.
"""

from __future__ import annotations

import importlib
import json
import sys
import uuid
import zipfile

import pytest
from pyspark.sql import types as T

from hyperloglog_spark.engine import worker
from hyperloglog_spark.engine.cells import cell_udf

MAX_JOBS = 40


def _state_udf(module: str | None = None):
    """Library UDF: the task's pid, shim counters, ``len(sys.path)`` and,
    if ``module`` is given, that module's ``VALUE`` (imported in the task)."""

    def state(_):
        import os

        from hyperloglog_spark.engine import worker as w

        value = (importlib.import_module(module).VALUE
                 if module else None)
        return json.dumps([os.getpid(), w.full_flushes, w.root_flushes,
                           len(sys.path), value])

    return cell_udf(T.StringType())(state)


def _task(spark, udf) -> list:
    (row,) = spark.range(1, numPartitions=1).select(udf("id")).collect()
    return json.loads(row[0])


def _pool(spark) -> dict:
    """pid -> the library tasks it ran, over one-task jobs until some
    worker has run three of them."""
    probe, seen = _state_udf(), {}
    for _ in range(MAX_JOBS):
        t = _task(spark, probe)
        seen.setdefault(t[0], []).append(t)
        if len(seen[t[0]]) >= 3:
            return seen
    pytest.fail(f"no worker served three of {MAX_JOBS} one-task jobs")


def _next_on(spark, udf, seen: dict) -> tuple[list, list]:
    """The first task of ``udf`` that lands on a pid in ``seen``, with the
    last task seen on that pid before it."""
    for _ in range(MAX_JOBS):
        t = _task(spark, udf)
        if t[0] in seen:
            return t, seen[t[0]][-1]
    pytest.fail(f"no job of {MAX_JOBS} reused a worker from {list(seen)}")


def test_reused_worker_counts_one_full_flush_per_new_path(spark):
    # (d) three library tasks on one pid: the shim is in place, each later
    # task took one flush through it, a full one only if sys.path grew.
    seen = _pool(spark)
    first, *_, last = next(ts for ts in seen.values() if len(ts) >= 3)
    assert last[1] + last[2] > 0
    assert last[1] + last[2] - first[1] - first[2] == 2
    assert last[1] - first[1] <= last[3] - first[3]


def test_added_zip_imports_on_reused_worker(spark, tmp_path):
    # (a) addPyFile after the worker served library tasks: its next task
    # brings the new include, takes the full flush and imports from it.
    seen = _pool(spark)
    name = f"hll_reuse_zip_{uuid.uuid4().hex}"
    zpath = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(f"{name}.py", f"VALUE = {name!r}\n")
    spark.sparkContext.addPyFile(str(zpath))
    t, prev = _next_on(spark, _state_udf(name), seen)
    assert t[4] == name
    assert t[3] == prev[3] + 1  # the include is one new sys.path entry
    assert (t[1], t[2]) == (prev[1] + 1, prev[2])  # one real full flush


def test_added_py_file_imports_on_reused_worker(spark, tmp_path):
    # (b) addFile drops a .py into the SparkFiles root: the next task on a
    # reused worker, sys.path unchanged, imports it after a root-only flush.
    seen = _pool(spark)
    name = f"hll_reuse_py_{uuid.uuid4().hex}"
    py = tmp_path / f"{name}.py"
    py.write_text(f"VALUE = {name!r}\n")
    spark.sparkContext.addFile(str(py))
    t, prev = _next_on(spark, _state_udf(name), seen)
    assert t[4] == name
    assert t[3] == prev[3]
    assert (t[1], t[2]) == (prev[1], prev[2] + 1)


@pytest.fixture
def on_worker(monkeypatch):
    """This process posing as a Python worker, with the stock
    ``worker_util.importlib`` restored afterwards."""
    from pyspark import worker_util
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(worker_util, "importlib", importlib)
    monkeypatch.setattr(worker, "full_flushes", 0)
    monkeypatch.setattr(worker, "root_flushes", 0)
    return worker_util


@pytest.mark.parametrize("version", ["4.2.0", "4.0.1", "not-a-version", ""])
def test_install_keeps_stock_importlib_off_41(on_worker, monkeypatch,
                                              version):
    # (c) only PySpark 4.1.x is known to end setup_spark_files with a
    # module-level importlib.invalidate_caches().
    import pyspark

    monkeypatch.setattr(pyspark, "__version__", version)
    worker.install()
    assert on_worker.importlib is importlib


def test_install_keeps_stock_without_module_importlib(on_worker,
                                                      monkeypatch):
    # (c) a worker_util that does not flush through a module attribute.
    monkeypatch.delattr(on_worker, "importlib")
    worker.install()
    assert not hasattr(on_worker, "importlib")


def test_install_needs_a_worker(on_worker, monkeypatch):
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    worker.install()
    assert on_worker.importlib is importlib


def test_shim_flushes_root_unless_path_changed(on_worker, monkeypatch,
                                               tmp_path):
    # The control for (c): on 4.1.x the shim goes in, once; an unchanged
    # sys.path flushes only the SparkFiles root's finder, a changed one
    # runs the real flush; every other attribute is importlib's.
    import pyspark
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(pyspark, "__version__", "4.1.2")
    monkeypatch.setattr(SparkFiles, "_root_directory", str(tmp_path))
    worker.install()
    shim = on_worker.importlib
    assert isinstance(shim, worker._Importlib)
    worker.install()
    assert on_worker.importlib is shim
    assert shim.import_module is importlib.import_module

    class Finder:
        n = 0

        def invalidate_caches(self):
            self.n += 1

    root, other = Finder(), Finder()
    monkeypatch.setitem(sys.path_importer_cache, str(tmp_path), root)
    monkeypatch.setitem(sys.path_importer_cache, str(tmp_path / "o"), other)
    shim.invalidate_caches()
    assert (worker.full_flushes, worker.root_flushes) == (0, 1)
    assert (root.n, other.n) == (1, 0)
    monkeypatch.setattr(sys, "path", [str(tmp_path / "new.zip"), *sys.path])
    shim.invalidate_caches()  # the real flush reaches every finder
    assert (worker.full_flushes, worker.root_flushes) == (1, 1)
    assert (root.n, other.n) == (2, 1)
    shim.invalidate_caches()
    assert (worker.full_flushes, worker.root_flushes) == (1, 2)
    assert (root.n, other.n) == (3, 1)
