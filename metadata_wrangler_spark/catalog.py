"""Table loaders for the driver's test data.

The star schema (region nation customer supplier part orders
lineitem events) plus the training-data tables (documents,
embeddings) live as one parquet file per table under
``/root/testdata/sf{N}/``.

At cluster scale the same loaders point at partitioned parquet/Delta
directories; nothing here assumes single-file inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale.
DIMENSIONS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# session → {(sf_dir, table) → DataFrame}. A DataFrame is just a
# plan; reusing one avoids re-paying the parquet footer/schema read
# every query invocation. Keyed weakly on the live session object
# (not id(spark) — CPython reuses ids after GC, which could serve a
# plan bound to a dead session) so entries die with the session.
# Caveat: a cached plan pins the scan's file listing; for a table
# directory rewritten in place under the SAME session, call
# ``invalidate(sf_dir)`` to drop the stale listing.
import weakref

_LOAD_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def invalidate(sf_dir: str | None = None) -> None:
    """Drop cached plans (for ``sf_dir``, or all) — needed when a
    table directory is rewritten in place mid-session."""
    for per_session in _LOAD_CACHE.values():
        for key in [k for k in per_session if sf_dir is None or k[0] == sf_dir]:
            del per_session[key]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    per_session = _LOAD_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # events.parquet may store TIMESTAMP(NANOS), which the Spark
        # parquet reader rejects natively. The conf is runtime-settable
        # and must be applied here (not only in the session factory)
        # because callers may pass in their own SparkSession.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong: convert to a real
        # microsecond timestamp (integer division — nanos exceed 2^53,
        # so float division would corrupt them).
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    per_session[key] = df
    return df


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk size of table ``name`` under ``sf_dir``, for zero-job
    scale probes: the file's size, or for a directory-backed table
    (partitioned parquet, a Spark write) the sum over its data files
    (``_``/``.``-prefixed metadata files are skipped, as Spark's
    reader skips them). None when the size is unknown — a missing or
    unreadable path, or storage that is not a local filesystem."""
    path = os.path.join(sf_dir, f"{name}.parquet")

    def fail(err: OSError):
        raise err

    try:
        if not os.path.isdir(path):
            return os.path.getsize(path)
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(path, onerror=fail)
            for f in files
            if not f.startswith(("_", "."))
        )
    except OSError:
        return None


def widen(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition UP to the session parallelism — and
    never DOWN. Local single-file scans often yield fewer input
    splits than cores (a 6 MiB documents.parquet is a 5-split scan),
    serializing CPU-heavy downstream projections (tokenize, shingle,
    hash-per-window) onto a handful of tasks. At cluster scale a
    100 TB table already has orders of magnitude more splits than
    ``defaultParallelism``, in which case this is an explicit no-op —
    unlike a bare ``repartition(n)``, which would SHRINK it.

    The cost when it does fire is one narrow shuffle of the raw
    column(s), which measured cheaper than leaving 27 of 32 cores
    idle through the expensive projection (dd_span_dedup at sf0.1:
    0.96 s -> 0.77 s)."""
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def events_since(
    spark: SparkSession, sf_dir: str, watermark: str
) -> DataFrame:
    """Events strictly after ``watermark`` ('YYYY-MM-DD HH:MM:SS',
    UTC) — the incremental-feed scan.

    The exact predicate compares the DERIVED timestamp, which parquet
    statistics cannot evaluate; a redundant band predicate on the RAW
    nanos column is added first so the scan gets a pushable filter
    (row-group/partition skipping at 100 TB). The band is slackened
    by one day so it stays a strict superset of the exact filter
    under any session timezone (the exact cast is session-tz, the
    band is UTC; max offset ±14 h) — a day of slop prunes nothing
    meaningful on a multi-year fact table.
    """
    from datetime import datetime, timezone

    band_micros = int(
        datetime.strptime(watermark, "%Y-%m-%d %H:%M:%S")
        .replace(tzinfo=timezone.utc).timestamp() * 1_000_000
    ) - 86_400 * 1_000_000
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.where(F.col("ts") > F.lit(band_micros * 1000))
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.where(
        F.col("ts") > F.lit(watermark).cast("timestamp")
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (mirrors the DuckDB oracle
    environment, where the same names are pre-registered views)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
