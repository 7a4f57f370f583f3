"""Streaming CDC apply — the change-feed-to-snapshot sink.

The batch operator (`plans/dml.py::d_cdc_apply`) compacts a complete
change feed in one ``max_by`` aggregate. This module is its
STREAMING twin: micro-batches of changes arrive out of order across
batches, and the state table converges to the same latest-wins
snapshot the batch operator computes over the union of all batches —
because the merge is an associative, commutative fold (per key, keep
the champion by version; sum the change counts), batch boundaries
cannot change the result. A raw change is already a one-change state
row, so state and batch fold in the same single aggregate.

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
from metadata_wrangler_spark.session import empty_frame
from metadata_wrangler_spark.streaming._sweep import drain

CHANGES_SCHEMA = "key BIGINT, version BIGINT, op STRING, qv BIGINT"


def apply_changes(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold one raw micro-batch into the compacted state: each change
    enters as a singleton state row (one change, its own version, op
    and value) and state ∪ changes goes through one latest-wins hash
    aggregate — ``max_by`` keyed on the (unique) version, change
    counts summed. Partial-aggregable, so each partition keeps only
    its champion per key before the one shuffle; associative and
    commutative in the batch partition, so any arrival order converges
    to the full-feed compaction."""
    changes = batch.select(
        "key",
        F.lit(1).cast("bigint").alias("n_changes"),
        F.col("version").alias("last_version"),
        F.col("op").alias("last_op"),
        F.col("qv").alias("last_qv"),
    )
    return state.unionByName(changes).groupBy("key").agg(
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
    return empty_frame(
        spark,
        "key BIGINT, n_changes BIGINT, last_version BIGINT,"
        " last_op STRING, last_qv BIGINT",
    )


def run_cdc_stream(
    spark: SparkSession,
    changes_dir: str,
    table: VersionedParquetTable,
    checkpoint_dir: str,
) -> None:
    """One sweep (``_sweep.drain``) of a parquet change feed into the
    state table, EXACTLY-ONCE in every field including ``n_changes``.
    The sweep claims a write-ahead entry (batch id + files) before the
    batch runs; each batch is then one ``table.merge`` with the batch
    id riding in the manifest's ``meta`` (the Delta ``txn`` pattern),
    so state + progress linearize in one manifest claim. A batch whose
    entry has no commit marker (crash after the state commit, before
    the marker) is re-run with the same id and files, finds its id in
    the pinned base's ``last_batch_id`` and commits nothing — also
    when a competing writer commits it mid-merge — and a crash
    mid-commit loses nothing (the previous snapshot stays current
    until the new manifest appears). Interleaved writers that supply
    no meta (compaction, a second stream) carry ``last_batch_id``
    forward: ``try_commit`` merges meta key-wise over the base
    version's map."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        table.merge(
            lambda cur, _meta: apply_changes(cur, batch_df),
            meta={"last_batch_id": batch_id},
        )

    drain(spark, changes_dir, CHANGES_SCHEMA, checkpoint_dir, handle)
