"""SparkSession factory and runtime tuning.

The reference pins all timestamp semantics to wall-clock conversion of
epoch-ms (``lambda/subirDB.py:106`` in the reference); we standardize on
UTC everywhere (SURVEY.md §7.3) so results are reproducible and match the
DuckDB oracle, which is UTC-naive.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# explicit paths a local session lists on the driver, without a job
DRIVER_LISTING_THRESHOLD = 1024
# generated classes a session keeps compiled: over 2x the 478 of the
# 29 bench.py headline queries.  Spark's default of 100 is smaller than
# the set a repeated query set cycles through, so its LRU evicts every
# class before its next use.
CODEGEN_CACHE_ENTRIES = 1024


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4))
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "parcial-bigdata-spark",
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this host.

    On a real cluster the same code runs unchanged — only ``master`` and
    the memory knobs move to spark-submit conf.  AQE handles runtime
    re-planning (partition coalescing, skew-join splitting) at any scale.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # List explicit path sets up to this size on the driver.  Above
        # the default (32) every file-stream micro-batch ran a listing
        # job whose tasks deserialize a Hadoop conf to stat local files
        # in this same JVM.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(DRIVER_LISTING_THRESHOLD),
        )
        # Static conf (tune_runtime cannot set it): a repeated query
        # reuses its generated classes and their JIT-compiled code.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    # Cluster posture (r17, guide §5): SPARK_GRAFT_STATE_STORE=rocksdb
    # switches streaming state to the built-in RocksDB provider —
    # off-heap, spillable state for session windows / stream-stream
    # joins whose live state outgrows executor memory.  Local default
    # stays the HDFS-backed in-memory provider: at bench scale state is
    # tiny and the in-memory provider avoids RocksDB's per-batch
    # checkpoint overhead (measured in BENCH_DETAIL.json
    # streaming_scale.sessionize.x64_rocksdb vs .x64).
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far (the
    codegen cache's misses).  The delta across a call counts the classes
    it could not reuse."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to a session we did not create.

    The driver hands ``queries()`` callables an arbitrary session; these
    three settings are runtime-mutable and required for oracle-identical
    results (UTC timestamps) and sane local parallelism.

    Static conf cannot be set here.  A session ``get_spark`` did not
    build keeps Spark's 100-entry codegen cache
    (``spark.sql.codegen.cache.maxEntries``, not
    ``CODEGEN_CACHE_ENTRIES``), so a query set larger than that
    recompiles its generated classes on every pass; results are the
    same.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Parquet TIMESTAMP(MICROS) without isAdjustedToUTC must read as plain
    # TIMESTAMP (not NTZ) for oracle-identical UTC semantics (see catalog).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try:
        defaults = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if defaults > 4 * _cpus():
            spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    except Exception:
        spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    return spark
