"""Swept queue drain — the CoverageRecord-provider twin.

Reference: the cron entries draining `registered` records
(`/root/reference/docker/services/simplified_crontab:13-27`,
`items_that_need_coverage` `/root/reference/overdrive.py:92-107`,
register/succeed/fail `/root/reference/coverage_provider.py:328-354`).

Design: a stream of incoming work items; every micro-batch runs the
SAME set-oriented queue transitions as the batch path
(operators.queue) inside one optimistic merge of a
VersionedParquetTable — register the new items, process the eligible
set, apply outcomes, commit. A drain racing a registrar serializes
instead of losing updates; the sweep's batch log (``_sweep.drain``)
hands each items file to one batch, re-run with the same files if
it never committed.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators import queue
from metadata_wrangler_spark.operators.merge import VersionedParquetTable
from metadata_wrangler_spark.streaming._sweep import drain

ITEMS_SCHEMA = "identifier_id BIGINT"


def default_processor(todo: DataFrame) -> DataFrame:
    """Deterministic stand-in provider: succeed on even identifiers,
    transient-fail odd ones (a real provider fetches/parses here).
    Returns the outcomes frame apply_outcomes expects."""
    return todo.select(
        *queue.KEY,
        F.when(F.col("identifier_id") % 2 == 0, queue.SUCCESS)
        .otherwise(queue.TRANSIENT).alias("new_status"),
        F.when(F.col("identifier_id") % 2 == 0, F.lit(None))
        .otherwise(F.lit("transient: remote boom"))
        .cast("string").alias("new_exception"),
    )


def _transition(
    records: DataFrame,
    items: DataFrame,
    data_source: str,
    operation: str,
    now: str,
    processor: Callable[[DataFrame], DataFrame],
    backoff_seconds: int,
) -> DataFrame:
    """register → claim eligible → process → post-state (pure)."""
    registered = queue.register(
        records, items, data_source, operation, ts=now
    )
    todo = queue.eligible(registered, now, backoff_seconds)
    outcomes = processor(todo)
    return queue.apply_outcomes(registered, outcomes)


def drain_batch(
    table: VersionedParquetTable,
    items: DataFrame,
    data_source: str,
    operation: str,
    now: str,
    processor: Callable[[DataFrame], DataFrame] = default_processor,
    backoff_seconds: int = 0,
) -> None:
    """One drain step, committed as one optimistic merge (shared by
    the swept stream and any batch cron)."""
    def fn(records: DataFrame, _meta: dict) -> DataFrame:
        return _transition(records, items, data_source, operation,
                           now, processor, backoff_seconds)

    table.merge(fn)


def run_drain_stream(
    spark: SparkSession,
    items_dir: str,
    table: VersionedParquetTable,
    checkpoint_dir: str,
    data_source: str = "oclc",
    operation: str = "classify",
    now: str = "2024-01-15 00:00:00",
    processor: Callable[[DataFrame], DataFrame] = default_processor,
) -> None:
    """One sweep of the items files: each new batch is one
    ``drain_batch``."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        drain_batch(table, batch_df, data_source, operation, now,
                    processor)

    drain(spark, items_dir, ITEMS_SCHEMA, checkpoint_dir, handle)
