"""SparkSession factory with scale-appropriate defaults.

Local-mode knobs mirror what we'd set on a real cluster: AQE on (runtime
coalesce + skew handling), shuffle partitions sized to cores (not the 200
default), Arrow batches large enough to amortize the JVM<->Python boundary
(the Arrow batch is our bulk-ingest unit, the analogue of the reference's
BulkAdd, /root/reference/HyperLogLog/HyperLogLog.cs:242-458).

The session's conf does not touch Python worker start-up. Instead, the
package's import on a worker (every library worker function imports it
when it unpickles) installs ``engine.worker``'s shim: PySpark 4.1.x ends
every task's ``setup_spark_files`` with ``importlib.invalidate_caches()``,
about 0.2 s of zip re-reads per task; the shim runs that full flush only
when a task added a ``sys.path`` entry (a new ``addPyFile`` include) and
otherwise flushes just the SparkFiles root's finder. Other PySpark
versions keep the stock flush, and the first library task on each worker
still pays one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 2 ** 17  # 131072 rows/batch: fewer, fatter IPC transfers


def get_spark(
    app_name: str = "hyperloglog_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", None)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master.removeprefix("local[").removesuffix("]")
        shuffle_partitions = cpus if not n.isdigit() else int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def package_zip() -> str:
    """Zip the hyperloglog_spark package for spark-submit --py-files /
    addPyFile distribution to executors. Cached per package location."""
    import hashlib
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent.parent
    tag = hashlib.sha1(str(pkg_dir).encode()).hexdigest()[:10]
    out = pathlib.Path(tempfile.gettempdir()) / f"hyperloglog_spark-{tag}.zip"
    files = sorted(
        f for f in pkg_dir.rglob("*")
        if f.is_file() and "__pycache__" not in f.parts
        and f.suffix in (".py", ".npz")
    )
    newest = max(f.stat().st_mtime for f in files)
    if not out.exists() or out.stat().st_mtime < newest:
        with zipfile.ZipFile(out, "w") as zf:
            for f in files:
                zf.write(f, f"hyperloglog_spark/{f.relative_to(pkg_dir)}")
    return str(out)


def ship_package(spark: SparkSession) -> None:
    """Make the library importable on executors regardless of launch cwd
    (the local-mode equivalent of `spark-submit --py-files pkg.zip`)."""
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:  # already added under the same name, or read-only FS
        pass
