"""Streaming CDC apply — the change-feed-to-snapshot sink.

The batch operator (`plans/dml.py::d_cdc_apply`) compacts a complete
change feed in one ``max_by`` aggregate. This module is its
STREAMING twin: micro-batches of changes arrive out of order across
batches, and the state table converges to the same latest-wins
snapshot the batch operator computes over the union of all batches —
because the merge is an associative, commutative fold (per key, keep
the champion by version; sum the change counts), batch boundaries
cannot change the result.

Tombstones are RETAINED in state (key, last op = 'D') rather than
deleted: a later micro-batch carrying an OLDER change for the key
must lose to the tombstone, which only works if the tombstone's
version stays around to compare against. The serving view filters
them out.

Reference: the reference replays per-identifier coverage transitions
into current state (`coverage_provider.py:82-118`); crons re-run it
incrementally (`docker/services/simplified_crontab:13-27`). This is
that replay as an idempotent streaming sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators.merge import VersionedParquetTable
from metadata_wrangler_spark.streaming._sweep import available_now

CHANGES_SCHEMA = "key BIGINT, version BIGINT, op STRING, qv BIGINT"


def compact(changes: DataFrame) -> DataFrame:
    """Latest-wins compaction of a change set: one hash aggregate,
    ``max_by`` keyed on the (unique) version — partial-aggregable,
    so each partition keeps only its champion before the shuffle."""
    return changes.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.max("version").alias("last_version"),
        F.max_by("op", "version").alias("last_op"),
        F.max_by("qv", "version").alias("last_qv"),
    )


def apply_changes(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Merge one compacted micro-batch into the compacted state —
    the same aggregate shape again, over state ∪ batch, with change
    counts summed. Associative + commutative in the batch partition,
    so any arrival order converges to the full-feed compaction."""
    both = state.unionByName(compact(batch))
    return both.groupBy("key").agg(
        F.sum("n_changes").alias("n_changes"),
        F.max("last_version").alias("last_version"),
        F.max_by("last_op", "last_version").alias("last_op"),
        F.max_by("last_qv", "last_version").alias("last_qv"),
    )


def current_view(state: DataFrame) -> DataFrame:
    """The serving snapshot: tombstoned keys hidden, value scaled
    back — column-compatible with d_cdc_apply's output."""
    return state.where(F.col("last_op") != "D").select(
        "key",
        "n_changes",
        "last_version",
        (F.col("last_qv") / 100.0).alias("last_value"),
    )


def empty_state(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [],
        "key BIGINT, n_changes BIGINT, last_version BIGINT,"
        " last_op STRING, last_qv BIGINT",
    )


def run_cdc_stream(
    spark: SparkSession,
    changes_dir: str,
    table: VersionedParquetTable,
    checkpoint_dir: str,
) -> None:
    """AvailableNow drain of a parquet change feed through
    foreachBatch into the state table, EXACTLY-ONCE in every field
    including ``n_changes``: each micro-batch is one ``table.merge``
    with the batch id riding in the manifest's ``meta`` (the Delta
    ``txn`` pattern), so state + progress linearize in one claim. A
    replayed batch (crash after the state commit, before the
    source-offset commit) finds its id in the pinned base's
    ``last_batch_id`` and commits nothing — also when a competing
    writer commits it mid-merge — and a crash mid-commit loses
    nothing (the previous snapshot stays current until the new
    manifest appears). Interleaved writers that supply no meta
    (compaction, a second stream) carry ``last_batch_id`` forward:
    ``try_commit`` merges meta key-wise over the base version's map."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        table.merge(
            lambda cur, _meta: apply_changes(cur, batch_df),
            meta={"last_batch_id": batch_id},
        )

    available_now(
        spark.readStream.schema(CHANGES_SCHEMA).parquet(changes_dir),
        checkpoint_dir, foreach_batch=handle,
    )
