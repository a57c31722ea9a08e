"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB target, tested on local[N]):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
  The reference hardcodes parallelism magic instead
  (``GMQL-Spark/.../GenometricMap71.scala:58`` repartitions to
  ``defaultParallelism*32-1``; ``CombineMD.scala:45-46`` hardcodes 32) —
  we let AQE adapt.
- Arrow enabled for every pandas interchange (grouped-map UDFs, toPandas).
- Session timezone pinned to UTC so event-time window boundaries are
  deterministic and identical to the DuckDB/pandas oracles.
- ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real
  cluster this is expected to be overridden (or left to AQE's coalescing
  from a high initial number).
- The generated-code cache (``spark.sql.codegen.cache.maxEntries``, a
  static conf read once per JVM) holds 1000 classes instead of Spark's
  100. The engine's plans generate more distinct whole-stage classes
  than 100, and the cache is an LRU, so at the default every lookup of
  a repeated plan misses and Janino compiles the class again. At 1000
  a warm ingest cycle (append, refresh, realtime query, compaction)
  compiles none (``tests/test_incremental.py``); the working sets come
  from the plans' shapes, not from the core count.
- DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``)
  is off. With it on, PySpark wraps every Column function and operator
  to send its Python call site to the JVM: an active-session lookup, a
  conf read, a stack walk and a set/clear of the JVM origin per call,
  which about doubles the py4j round trips of building a tier plan.
  The cost of turning it off: Spark errors carry no "DataFrame query
  context" lines. At the default depth of 1 those lines name a frame
  inside ``gmql_spark``, not the caller's. PySpark reads the setting
  once per process, at the first wrapped call with an active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS_PER_CORE = 2
# generated classes kept per JVM (module docstring)
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    cores: int | str | None = None,
    app_name: str = "gmql-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    ``cores`` may be an int (→ ``local[n]``), ``"*"`` or None (→ use
    ``SPARK_GRAFT_CPUS`` env or all cores). On a real cluster the master
    comes from spark-submit and this factory only applies SQL conf.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_cores = os.cpu_count() or 8
    if isinstance(cores, int) or (isinstance(cores, str) and cores.isdigit()):
        n_cores = int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_cores * DEFAULT_SHUFFLE_PARTITIONS_PER_CORE)

    builder = SparkSession.builder.appName(app_name)
    # Under spark-submit the gateway JVM already exists (PYSPARK_GATEWAY_PORT
    # is set) and carries the CLI --master; setting .master() here would
    # override the cluster master with local[n]. Only set it when this
    # process owns the JVM launch (tests, bench, plain `python`).
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", os.environ.get("GMQL_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
