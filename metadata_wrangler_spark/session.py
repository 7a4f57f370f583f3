"""SparkSession factory.

Local test runs use ``local[N]`` (single JVM); the configuration is
written so the same code lands well on a multi-executor cluster:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized to the parallelism at hand,
Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import atexit
import functools
import logging
import os
import shutil
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

_log = logging.getLogger(__name__)

# The directory holding the engine package: Python workers need it on
# their path to import the worker daemon module and the engine's kernels.
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))

# An AF_UNIX socket path holds at most 107 bytes (sun_path is 108 with
# its NUL). PySpark names each socket "<dir>/.<uuid4>.sock", 43 bytes
# after the directory; mkdtemp names the directory "mws-sock-" and 8
# random characters.
_SUN_PATH_MAX = 107
_SOCKET_DIR_PREFIX = "mws-sock-"
_SOCKET_PATH_BYTES = 1 + len(_SOCKET_DIR_PREFIX) + 8 + 43


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """``min(16g, half of physical RAM)``: a local[N] session runs all
    its tasks in the driver JVM, and a heap larger than the host gets
    the process OOM-killed instead of spilling."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, ram // 2 // 2**20)}m"


@functools.cache
def _unix_socket_dir(bases: tuple[str, ...]) -> str | None:
    """A private (0700) directory for the JVM↔Python-worker sockets in
    the first of ``bases`` where a socket path fits in an AF_UNIX
    address, removed at exit; ``None`` if there is no such base."""
    for base in bases:
        if len(os.fsencode(base)) + _SOCKET_PATH_BYTES > _SUN_PATH_MAX:
            continue
        try:
            path = tempfile.mkdtemp(prefix=_SOCKET_DIR_PREFIX, dir=base)
        except OSError:
            continue
        atexit.register(shutil.rmtree, path, True)
        return path
    _log.warning("no directory among %s is short and writable enough for"
                 " an AF_UNIX socket: Python workers talk to the JVM over"
                 " TCP", list(bases))
    return None


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
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
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
        # Python workers import the installed PySpark instead of
        # Spark's pyspark.zip: the daemon module drops the archives
        # from the worker's import path, because PySpark re-reads every
        # zip's central directory at the start of each task (~0.15 s a
        # task; see _worker_daemon). The package's parent directory on
        # the workers' PYTHONPATH lets them import that module and the
        # engine from any working directory. A directory path is valid
        # there because get_spark always builds local[N]: the workers
        # run on this host and see this filesystem.
        .config("spark.python.daemon.module",
                "metadata_wrangler_spark._worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # Rows cross the JVM↔Python-worker boundary over a Unix socket
    # instead of loopback TCP, which waited ~40 ms for a task's first
    # batch. The socket directory is pinned short: Spark's default
    # (java.io.tmpdir) under a long temp dir overflows the AF_UNIX
    # path limit and every Python stage fails. /tmp stands in for a
    # temp dir that is too long; with neither, workers keep TCP.
    sock_dir = _unix_socket_dir((tempfile.gettempdir(), "/tmp"))
    if sock_dir is not None:
        builder = (
            builder
            .config("spark.python.unix.domain.socket.enabled", "true")
            .config("spark.python.unix.domain.socket.dir", sock_dir)
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """``rows`` (tuples in schema order, or columns by name: a dict of
    arrays or a pandas frame) as a JVM ``LocalRelation`` of ``schema``
    (DDL or StructType), shipped once as an Arrow table of its types.
    The package's only ``createDataFrame``: over a Python list it
    plans a ``LogicalRDD`` over a Python RDD, a Python-worker stage
    at execution (an empty one ran a task per parallelism slot, 3.0 s
    cold on 4 cores)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if hasattr(rows, "keys"):  # columns by name: a dict or pandas frame
        table = pa.Table.from_pydict(rows, schema=arrow_schema)
    else:
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=arrow_schema
        )
    return spark.createDataFrame(table, schema)
