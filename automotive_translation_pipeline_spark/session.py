"""SparkSession factory.

Tuned for the test harness (single JVM, ``local[N]``) but every setting is
chosen to also be the right default on a real multi-executor cluster at
100 TB scale:

- AQE on (runtime coalescing, skew-join splitting, dynamic join selection);
- shuffle partitions sized to the parallelism of the harness — on a
  cluster this would be ~2-3x total cores, and AQE coalesces down;
- Arrow enabled so every Pandas-UDF boundary is vectorized batch transfer;
- UTC session timezone so timestamp semantics are stable across engines
  (the DuckDB oracle runs timezone-naive);
- a codegen cache that holds the engine's working set, so a generated
  class is compiled once per JVM. Spark's default keeps 100 entries in a
  Guava cache of 4 segments that each evict on their own at 25, and an
  entry is one (class loader, source text) pair, so one source can take
  two entries. A ``perfbench`` ``catalog_mix`` pass fills about 190
  entries, and at the default each repeated pass recompiled 150 classes;
  a full pass over the query catalog at sf0.001 fills 2,255 and, at the
  default, recompiles about 3,180 on every pass. At 4096 a repeated
  ``catalog_mix`` pass compiles nothing. Lookups compare the source text,
  so plans and results cannot change. The conf is static and read once
  per JVM, so a session reused through ``getOrCreate`` keeps the cache
  its JVM started with;
- Python workers that do not re-read unchanged zip archives on every
  task: ``spark.python.worker.module`` is ``pyspark_atp_worker`` (a
  top-level module next to this package; see its docstring). PySpark's
  worker calls ``importlib.invalidate_caches()`` on each task, and on
  Python 3.11 that re-reads the central directory of all 16 zip
  importers a worker holds, 0.13-0.25 s of CPU per task (4 vCPU).
  Workers find the module the way they find this package: from the
  working directory or ``PYTHONPATH``;
- driver memory follows the host: half its physical memory, at most 48g
  (``SPARK_GRAFT_DRIVER_MEM`` overrides it). A fixed 48g let three
  sessions at once on a 16 GB host end in a kernel OOM kill.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Half the host's physical memory, at most 48g, in Spark's size syntax."""
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, host_mb // 2)}m"


def get_spark(
    app_name: str = "automotive_translation_pipeline_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` controls both master parallelism and shuffle partitions in
    local mode; on a real cluster the master is external and only the
    shuffle sizing applies.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Duplicate keys in a map built in SQL collapse last-wins, the
        # reference's dict-overwrite contract (SURVEY R-25).
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # RocksDB state store: incremental checkpoints, state off the JVM
        # heap — required at scale, and the HDFS-backed default hits a
        # PythonSQLMetrics NPE with applyInPandasWithState on Spark 4.1.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Accept co-partitioning on a subset of join keys: the staging
        # tables bucket by the coarse key (batch_id) so the re-join AND
        # the downstream window share one layout with zero exchanges.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Static, sized to the measured working set (2,255 entries for the
        # whole catalog at sf0.001) so a repeated query compiles nothing:
        # at the default 100 a repeated catalog_mix pass recompiled 150
        # classes. See the module docstring.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Workers skip the per-task re-read of unchanged zip archives
        # (0.13-0.25 s of CPU per Python task). See pyspark_atp_worker.
        .config("spark.python.worker.module", "pyspark_atp_worker")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
