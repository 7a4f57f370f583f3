"""Streaming materialized-view maintenance: the AvailableNow /
foreachBatch driver for operators.matview.

Each micro-batch hands its slice to ``MaterializedDailyRollup.
merge_batch`` — the additive merge, idempotent on the micro-batch
id. The batch-id guard (not the event-time watermark) is what makes
replays safe: foreachBatch is at-least-once on failure recovery, and
an already-applied id is skipped. Crucially the streaming path does
NOT filter on event time — a late-landing file whose events predate
the stored watermark still merges; filtering by watermark here (the
first cut) silently dropped out-of-event-time-order files forever.

Reference: the cron-driven stale-flag recompute this replaces
(`/root/reference/coverage_provider.py:132-134`); the streaming
shape is the same one queue_drain uses for the work queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from metadata_wrangler_spark.operators.matview import MaterializedDailyRollup
from metadata_wrangler_spark.streaming._sweep import available_now
from metadata_wrangler_spark.streaming.incremental import read_events_stream


def run_view_maintenance_stream(
    spark: SparkSession,
    source_dir: str,
    view_path: str,
    checkpoint_dir: str,
    query_name: str = "view_maintenance",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """One AvailableNow pass: every micro-batch of new event files is
    merged into the rollup at ``view_path`` (which must be
    bootstrapped with ``MaterializedDailyRollup.init`` first — an
    empty init is fine). Returns the refreshed view."""
    mv = MaterializedDailyRollup(spark, view_path)
    available_now(
        read_events_stream(spark, source_dir, max_files_per_trigger),
        checkpoint_dir, foreach_batch=mv.merge_batch, query_name=query_name,
    )
    return mv.read()
