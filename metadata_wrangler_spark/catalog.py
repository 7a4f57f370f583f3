"""Table loaders for the driver's test data.

The star schema (region nation customer supplier part orders
lineitem events) plus the training-data tables (documents,
embeddings) live as one parquet file per table under
``/root/testdata/sf{N}/``.

At cluster scale the same loaders point at partitioned parquet/Delta
directories; nothing here assumes single-file inputs.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# session → {(sf_dir, table) → DataFrame}. A DataFrame is just a
# plan; reusing one avoids re-paying the parquet footer/schema read
# every query invocation. Keyed weakly on the live session object
# (not id(spark) — CPython reuses ids after GC, which could serve a
# plan bound to a dead session) so entries die with the session.
# Caveat: a cached plan pins the scan's file listing, so a table
# directory rewritten in place under the SAME session keeps being
# read through the stale listing until the session ends.
import weakref

_LOAD_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    per_session = _LOAD_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    if name == "events":
        df = _read_events(spark, sf_dir)
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    per_session[key] = df
    return df


def _read_events(
    spark: SparkSession, sf_dir: str, after_raw_ts: int | None = None
) -> DataFrame:
    """events.parquet with ``ts`` as a timestamp. The file may store
    TIMESTAMP(NANOS), which the Spark parquet reader rejects
    natively; the conf is runtime-settable and must be applied here
    (not only in the session factory) because callers may pass in
    their own SparkSession. Read via nanosAsLong, ``ts`` is converted
    to a real microsecond timestamp (integer division — nanos exceed
    2^53, so float division would corrupt them). ``after_raw_ts``
    keeps raw nanos above it, filtered BEFORE the conversion so the
    scan gets a pushable predicate."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes).get("ts") == "bigint":
        if after_raw_ts is not None:
            df = df.where(F.col("ts") > F.lit(after_raw_ts))
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
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


# Size tiers: a plan caches a derived frame only past a size of the
# table it derives from. Honest per-query A/B, cached vs uncached,
# rows identical: g_triangle_count's undirected edges 2.57 vs 1.54 s
# at sf0.1, 8.6 vs 9.9 s at sf10 (sf1 ties, 3.88-4.07 s);
TRIANGLE_CACHE_MIN_BYTES = 1 << 20
# ev_gap_percentiles' gap frame 1.76 vs 1.52 s at sf0.1, 3.05 vs
# 3.41 s at sf10.
GAP_CACHE_MIN_BYTES = 8 << 20


def is_small(sf_dir: str, name: str, threshold: int, tier: str) -> bool:
    """Whether table ``name`` under ``sf_dir`` falls in the small tier
    ``tier``: its size (``table_bytes``, no Spark job) is known and
    under ``threshold``. An unknown size counts as large, the side
    that is safe at scale. Logs the decision."""
    n = table_bytes(sf_dir, name)
    small = n is not None and n < threshold
    _log.info("size tier %s: bytes=%s threshold=%d -> %s", tier, n,
              threshold, "small" if small else "large")
    return small


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
    raw = _read_events(spark, sf_dir, after_raw_ts=band_micros * 1000)
    return raw.where(
        F.col("ts") > F.lit(watermark).cast("timestamp")
    )
