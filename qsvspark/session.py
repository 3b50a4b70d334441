"""SparkSession factory tuned for this engine.

Local mode is the test/bench target (one JVM, N threads); the same settings
minus ``master`` apply on a real cluster via spark-submit. UTC session
timezone is pinned so results compare bit-for-bit against the DuckDB oracle
(DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_CHECKOUT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "qsvspark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: local core count; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to parallelism (local shuffles should match
    cores, not Spark's 200 default — at cluster scale this is instead sized
    to keep post-shuffle partitions ~128-512MB, and AQE coalesces further).
    """
    cpus = parallelism or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    sp = shuffle_partitions or (cpus if isinstance(cpus, int) else 32)
    builder = SparkSession.builder
    # Under spark-submit the gateway JVM already carries the submitted
    # master/executor config — forcing local[] would fight it. The env
    # marker is how pyspark's launcher hands the JVM to Python.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = (
            builder.master(f"local[{cpus}]")
            # Each Python task calls importlib.invalidate_caches(); on
            # CPython < 3.13 that re-reads the whole directory of every
            # zipimporter in the worker (spark-core jar, pyspark.zip, py4j
            # zip): 0.15-0.45 s per task. qsvspark.workerd is pyspark's
            # daemon re-reading only archives that changed. Local mode
            # only: under spark-submit the daemon starts before the
            # --py-files zip is on sys.path, so it could not import this
            # package. The checkout root on PYTHONPATH lets workers import
            # it from any working directory.
            .config("spark.python.daemon.module", "qsvspark.workerd")
            .config("spark.executorEnv.PYTHONPATH", _CHECKOUT_ROOT)
        )
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("QSVSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Arrow batches must stay under the netty allocator chunk size:
        # any vector buffer larger than one chunk bypasses the buffer pool
        # entirely and is mmap'd/munmap'd per batch — with many executor
        # threads that page-fault storm serializes the whole JVM in the
        # kernel (measured: 57% sys CPU, 3x slowdown). 4096 rows of a
        # ~256-element array<int32> column is ~4MB per buffer, safely
        # pooled under the 32MB chunks configured below.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # dynamic-partition writes: keep N open writers per task instead of
        # sorting every task's rows by partition key first — the sort is
        # pure overhead for low-cardinality sinks and wrecks scaling when
        # rows are wide (token arrays).
        .config("spark.sql.maxConcurrentOutputFileWriters", "16")
        # Measured on this box (32 threads, one JVM):
        #  - ParallelGC beats G1 ~25% on allocation-heavy parquet encode
        #    of array columns; an oversized heap is 5-10x WORSE (adaptive
        #    sizing keeps uncommitting/recommitting memory — page-table
        #    churn across all task threads).
        #  - netty maxOrder=12 → 32MB arena chunks, so Arrow batch
        #    buffers stay inside the pool instead of falling into the
        #    "huge allocation" path (mmap per allocation, munmap per
        #    free). Real clusters sidestep this with small per-executor
        #    JVMs; local[32] must configure its way around it.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "QSVSPARK_DRIVER_JAVA_OPTS",
                "-XX:+UseParallelGC -Dio.netty.allocator.maxOrder=12",
            ),
        )
    )
    # Reference env knobs (csv.rs:13-76), applied through their Spark
    # equivalents (full mapping table in README §Memory-control surface):
    # QSV_CHUNK_SIZE bounds rows per batch crossing an engine boundary —
    # here the Arrow JVM↔Python batch; QSV_MEMORY_LIMIT_MB bounds the
    # process ceiling — here the driver JVM heap (local mode's only JVM;
    # on a cluster set executor memory in spark-submit instead).
    if os.environ.get("QSV_CHUNK_SIZE"):
        builder = builder.config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ["QSV_CHUNK_SIZE"],
        )
    if os.environ.get("QSV_MEMORY_LIMIT_MB"):
        builder = builder.config(
            "spark.driver.memory", f"{os.environ['QSV_MEMORY_LIMIT_MB']}m"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
