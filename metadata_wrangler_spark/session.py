"""SparkSession factory.

Local test runs use ``local[N]`` (single JVM); the configuration is
written so the same code lands well on a multi-executor cluster:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized to the parallelism at hand,
Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "metadata_wrangler_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``spark.sql.shuffle.partitions`` is set to the core count rather
    than the 200 default: at local scale 200 tiny partitions are pure
    scheduling overhead, and on a real cluster AQE coalescing makes
    the initial number a ceiling, not a target.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder
        .master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.default.parallelism", str(max(n, 8)))
        # FAIR job scheduling: concurrent actions from different
        # driver threads (bench batches, notebook users, serving
        # endpoints) share executors instead of queueing FIFO behind
        # whichever job was submitted first. Each submitting thread
        # picks its own pool via spark.scheduler.pool.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at its default
        # (true): an A/B across the headline set measured 11.8 s vs
        # 14.8 s — byte-based advisory coalescing serializes
        # CPU-heavy small shuffles (levenshtein / shingle verify run
        # on 1 partition), costing far more than the task-scheduling
        # it saves.
        # AQE coalescing merges post-shuffle partitions up to
        # minPartitionSize (default 1 MiB). For CPU-bound stages with
        # tiny shuffle bytes (pair scoring: levenshtein, shingle
        # verify, cosine re-rank) that default serializes minutes of
        # CPU into 1-2 tasks — bytes are a bad proxy for CPU cost.
        # 64 KiB keeps those stages wide while still folding away
        # truly-empty partitions.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark 4's default, pinned because correctness depends on
        # it: the bigint power chains (a_moments_skew_kurt's qv³)
        # are exact only while in-range, and ANSI turns any
        # out-of-contract overflow into a loud ARITHMETIC_OVERFLOW
        # instead of a silent wraparound.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark's lower()/upper() fall back to the locale-sensitive
        # String.toLowerCase/toUpperCase, and in local mode tasks run
        # in the driver JVM: pin its locale so JVM case folding
        # matches the Python kernels' locale-free str.lower on every
        # host (a tr_TR default folds "I" to dotless "ı").
        .config("spark.driver.extraJavaOptions",
                "-Duser.language=en -Duser.country=US")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Default openCost (4 MiB) makes a 6 MiB single-file table a
        # 2-split scan — serializing CPU-heavy projections (tokenize/
        # shingle/minhash) over it. Small openCost lets split count
        # follow totalBytes/parallelism; actual parallelism is still
        # bounded by the file's row-group layout.
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # The driver's events table stores TIMESTAMP(NANOS), which the
        # Spark parquet reader rejects natively; read as long and let
        # catalog.load convert to a microsecond timestamp column.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Off: PySpark's call-site capture walks the Python stack and
        # sets and clears PySparkCurrentOrigin in the JVM on every F.*
        # and Column call — 57% of the 221 plans' build-time Py4J
        # calls at sf0.01. Errors lose only the Python call site;
        # error classes and ANSI failures are unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
