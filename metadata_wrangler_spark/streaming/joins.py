"""Watermarked stream-stream join — click→purchase attribution.

The reference correlates a registration event with the later coverage
outcome for the same identifier through the CoverageRecord state
table (`/root/reference/coverage_provider.py:328-354` register →
`coverage_utils.py:113-167` handle_success) — a cron-polled join of
two event kinds keyed by identifier. Structured Streaming expresses
the same correlation directly: two watermarked streams inner-joined
on the key plus a time-range condition. Spark buffers each side in
the state store and evicts a row as soon as the other side's
watermark proves no future match can arrive, so state stays bounded
by (rate × join window), not by stream length — the property that
makes this shape safe on an unbounded 100 TB/day firehose.

``attribution_pairs`` is the shared join body: identical code runs
under spark.read (oracle-checked as ``ev_stream_stream_join``) and
spark.readStream (``run_attribution_stream``), which is what makes
the batch oracle a valid check of the streaming semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_wrangler_spark.streaming._sweep import available_now
from metadata_wrangler_spark.streaming.incremental import (
    read_events_stream,
    watermarked,
)

GAP_MINUTES = 120

PAIRS_SCHEMA = (
    "click_id BIGINT, purchase_id BIGINT, user_id BIGINT, "
    "gap_seconds BIGINT, amount DOUBLE"
)


def attribution_pairs(
    events_clicks: DataFrame,
    events_purchases: DataFrame,
    gap_minutes: int = GAP_MINUTES,
) -> DataFrame:
    """Every (click, purchase) pair of the same user where the
    purchase lands strictly after the click and within
    ``gap_minutes`` — the ad-attribution join. Equi-key user_id +
    time-range residual; on the streaming side the range condition
    doubles as the state-eviction bound."""
    c = events_clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = events_purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("amount"),
    )
    cond = (
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {gap_minutes} MINUTES")
        )
    )
    return c.join(p, cond).select(
        "click_id",
        "purchase_id",
        F.col("c_user_id").alias("user_id"),
        (
            F.floor(F.unix_timestamp("purchase_ts")).cast("bigint")
            - F.floor(F.unix_timestamp("click_ts")).cast("bigint")
        ).alias("gap_seconds"),
        "amount",
    )


def _typed_leg(
    events: DataFrame, event_type: str, lateness: str
) -> DataFrame:
    """One event type, watermarked on its own event times."""
    return watermarked(
        events.where(F.col("event_type") == event_type), lateness
    )


def run_attribution_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    gap_minutes: int = GAP_MINUTES,
    lateness: str = "10 minutes",
    query_name: str = "attribution_pairs",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """One AvailableNow pass of the watermarked stream-stream inner
    join to an append parquet sink.

    Both sides carry a watermark: the click side's state for a click
    at t is dropped once the purchase-side watermark passes
    t + gap + lateness (no future purchase can still match), and
    vice versa — the eviction Spark derives from the join's time
    condition. Inner-join matches emit immediately (no
    finalization wait; only outer joins hold results back)."""
    events = read_events_stream(spark, source_dir, max_files_per_trigger)
    pairs = attribution_pairs(
        _typed_leg(events, "click", lateness),
        _typed_leg(events, "purchase", lateness),
        gap_minutes,
    )
    return available_now(
        pairs, checkpoint_dir, output_dir=output_dir, schema=PAIRS_SCHEMA,
        query_name=query_name,
    )
