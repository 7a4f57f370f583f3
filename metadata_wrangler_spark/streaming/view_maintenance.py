"""Streaming materialized-view maintenance: the swept driver for
operators.matview.

Each batch of new event files (``_sweep.drain``) goes to
``MaterializedDailyRollup.merge_batch`` — the additive merge,
idempotent on the batch id. The batch-id guard (not the event-time
watermark) is what makes replays safe: a batch that never got its
commit marker is re-run with the same id, and an already-applied id
is skipped. Crucially the streaming path does NOT filter on event
time — a late-landing file whose events predate the stored watermark
still merges; filtering by watermark here (the first cut) silently
dropped out-of-event-time-order files forever.

Reference: the cron-driven stale-flag recompute this replaces
(`/root/reference/coverage_provider.py:132-134`); the streaming
shape is the same one queue_drain uses for the work queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from metadata_wrangler_spark.operators.matview import MaterializedDailyRollup
from metadata_wrangler_spark.streaming._sweep import drain
from metadata_wrangler_spark.streaming.incremental import (
    events_schema,
    ts_from_nanos,
)


def run_view_maintenance_stream(
    spark: SparkSession,
    source_dir: str,
    view_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """One sweep: every batch of new event files (at most
    ``max_files_per_trigger`` each) is merged into the rollup at
    ``view_path`` (which must be bootstrapped with
    ``MaterializedDailyRollup.init`` first — an empty init is fine).
    Returns the refreshed view."""
    mv = MaterializedDailyRollup(spark, view_path)
    schema, is_nanos = events_schema(spark, source_dir)

    def handle(batch: DataFrame, batch_id: int) -> None:
        mv.merge_batch(ts_from_nanos(batch) if is_nanos else batch, batch_id)

    drain(spark, source_dir, schema, checkpoint_dir, handle,
          max_files=max_files_per_trigger)
    return mv.read()
