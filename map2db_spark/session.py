"""SparkSession factory with scale-oriented defaults.

Every knob here is chosen for the 100 TB target, then scaled down by
env vars for local testing:

- AQE on: runtime partition coalescing + skew-join splitting.  Tile
  feature density is heavily skewed (city tiles vs ocean tiles), and
  TPC-H-ish keys are Zipfian in `events`.
- shuffle.partitions sized to cores locally; on a real cluster set it
  to the cluster's cores.  AQE coalesces most shuffles below it, but
  ``consolidate`` repartitions to exactly this count, capped at the
  default parallelism (its union kernel is CPU-heavy on a few MB of
  shuffle, which AQE would fold into one task), so it is the task
  count of that stage.
- Arrow on: every Python-side kernel in this engine is an Arrow-batched
  pandas UDF / mapInPandas — never row-at-a-time Python.
- session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_PKG_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Ship map2db_spark to executor Python workers via addPyFile.

    Arrow kernels (mapInPandas/applyInPandas/pandas_udf) unpickle
    references to this package on the worker side; workers only have
    the launch cwd on sys.path, so any session whose driver process
    didn't start inside the repo needs the zip.  Same mechanism ships
    the code to a real cluster — addPyFile distributes to every
    executor.  Idempotent per application."""
    app_id = spark.sparkContext.applicationId
    if app_id in _PKG_SHIPPED:
        return
    import zipfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    zip_path = pkg_dir.parent / ".map2db_spark_pkg.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for f in sorted(pkg_dir.rglob("*.py")):
            zf.write(f, f"map2db_spark/{f.relative_to(pkg_dir)}")
    spark.sparkContext.addPyFile(str(zip_path))
    _PKG_SHIPPED.add(app_id)


def pin_worker_zip_directories() -> None:
    """Make zip-archive cache invalidation a no-op in this Python
    worker; runs once, when a worker first imports this package.

    A Spark Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task (pyspark ``worker_util.setup_spark_files``).
    On CPython <= 3.12 that makes every ``zipimporter`` on the worker's
    path re-read its archive's central directory in pure Python:
    pyspark.zip, the py4j zip, the Spark core jar and the package zip
    shipped above, ~27k entries and 250-310 ms of CPU per task.  A
    worker's archives cannot change while it lives (Spark refuses to
    re-add a file name; a newly added archive gets a fresh importer,
    which reads its directory), so the re-read is pure waste.

    A worker imports this module while it unpickles the first kernel
    that refers to the package, and pyspark sets the task context
    before it unpickles, so the call at the bottom of this module
    covers every kernel that refers to the package.  Does nothing
    outside a Spark Python worker: the driver rewrites the package zip
    in ``ship_package`` and keeps the stdlib behaviour.  Idempotent; each worker's first task still
    pays the re-read."""
    import zipimport

    if getattr(zipimport.zipimporter.invalidate_caches, "_m2db_pinned", False):
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return

    def invalidate_caches(self) -> None:
        pass

    invalidate_caches._m2db_pinned = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def get_spark(app_name: str = "map2db_spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # sized so single-file local test tables still split across
        # cores (a 30 MB lineitem as ONE partition wastes 31 of 32);
        # on a real cluster with many files raise this back to 128m+
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert in tables.load (exact
        # integer division — no double round-trip).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # generated-class cache (r16, guide §1/§7.2 measured): the
        # default 100-entry cache thrashes under any application that
        # runs more than a handful of distinct queries — the 12-row
        # bench alone holds ~300 live codegen units, so EVERY timed
        # sample re-paid Janino compilation (probe:
        # tools/bench_codegen_probe.py — d_minhash_lsh recompiled
        # 214-263 ms per sample, ~1.26 s of pure compile per bench
        # pass; with headroom the same pass compiles 0 ms and the
        # pass total fell 11.57 -> 9.48 s same-session).  1000
        # entries bounds metaspace to tens of MB (generated classes
        # are ~10-50 KB) and is equally right on a cluster: the cache
        # is per-JVM and any long-lived multi-query application
        # (ETL DAGs, Thrift server) exceeds 100 units.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


pin_worker_zip_directories()
