"""In-flight dedup — the streaming twin of the reference's
processed-set guards.

Reference semantics: a coverage run keeps a `processed_uris` /
`already_seen` set so a record arriving twice within one sweep is
handled once (`/root/reference/oclc/linked_data.py:186-223`,
`/root/reference/content_cafe.py:243-262`). The batch expression of
the same idea is `so_drop_duplicates`; here the set lives in the
streaming state store, scoped by an event-time watermark so state
is dropped once duplicates can no longer arrive — the bounded-memory
requirement at 100 TB/day ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from metadata_wrangler_spark.streaming._sweep import available_now
from metadata_wrangler_spark.streaming.incremental import (
    read_events_stream,
    watermarked,
)


def deduped_events_stream(
    spark: SparkSession,
    source_dir: str,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "1 day",
) -> DataFrame:
    """Event stream with state-store dedup on ``key_cols``.

    `dropDuplicates` emits the FIRST arrival of each key immediately
    (append mode). CAVEAT on state growth: with the dedup keys NOT
    including the event-time column, Spark keeps every seen key
    forever — the watermark bounds which late rows are considered,
    not the state. This spelling is therefore the exact-history
    dedup (a key re-sent a month later is still dropped), priced at
    unbounded state; the bounded-state twin a 100 TB/day ingest
    wants is `deduped_events_stream_within_watermark` below.
    """
    events = watermarked(read_events_stream(spark, source_dir), watermark)
    return events.dropDuplicates(list(key_cols))


def run_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "dedup_stream",
) -> DataFrame:
    """One AvailableNow pass; results land in an in-memory table
    (swap for a parquet/Delta sink in production)."""
    return available_now(
        deduped_events_stream(spark, source_dir), checkpoint_dir,
        query_name=query_name,
    )


def deduped_events_stream_within_watermark(
    spark: SparkSession,
    source_dir: str,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "1 day",
) -> DataFrame:
    """Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    (Spark 3.5+) drops duplicate keys whose arrivals fall within the
    watermark delay of each other and EVICTS the key's state once
    the watermark passes — state is bounded by (delay × arrival
    rate) regardless of key cardinality, the property the plain
    `dropDuplicates` spelling above cannot give without putting the
    event time into the key. Retries that carry a fresh timestamp
    (the common real-world duplicate) still dedup, because matching
    is on ``key_cols`` alone.
    """
    events = watermarked(read_events_stream(spark, source_dir), watermark)
    return events.dropDuplicatesWithinWatermark(list(key_cols))


def run_dedup_stream_within_watermark(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "dedup_stream_ww",
) -> DataFrame:
    """One AvailableNow pass of the bounded-state dedup."""
    return available_now(
        deduped_events_stream_within_watermark(spark, source_dir),
        checkpoint_dir, query_name=query_name,
    )
