"""CoverageRecord work-queue state machine — the reference's
persistent task list re-expressed as set-oriented transforms.

Reference semantics (SURVEY.md §2.7 D7, §3.3):

  register          enqueue (identifier, source, operation) as
                    'registered' iff no record exists —
                    `/root/reference/coverage_provider.py:346-354`
  success/failure   `/root/reference/content_cafe.py:85-105`;
                    transient vs persistent split
                    `/root/reference/oclc/linked_data.py:1026-1033`
  retry             transient failures older than a backoff window
                    re-enter the queue (the reference's TODO at
                    `/root/reference/content_cafe.py:82-90`)
  force re-register `/root/reference/controller.py:1013-1017`

A queue row is (identifier_id, data_source, operation, status, ts,
exception). Statuses: registered | success | transient failure |
persistent failure. All transitions are joins/unions — no
driver-side loops — so draining scales with executor count, and the
same functions run unchanged on each swept batch of new items
(streaming.queue_drain).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KEY = ["identifier_id", "data_source", "operation"]

REGISTERED = "registered"
SUCCESS = "success"
TRANSIENT = "transient failure"
PERSISTENT = "persistent failure"


def register(records: DataFrame, items: DataFrame,
             data_source: str, operation: str,
             ts=None, force: bool = False) -> DataFrame:
    """Enqueue every identifier in ``items`` (column identifier_id)
    for (data_source, operation). Anti-join keeps existing records
    unless ``force``, which resets them to 'registered'."""
    new = items.select(
        F.col("identifier_id").cast("bigint").alias("identifier_id"),
        F.lit(data_source).alias("data_source"),
        F.lit(operation).alias("operation"),
        F.lit(REGISTERED).alias("status"),
        (F.lit(ts).cast("timestamp") if ts is not None
         else F.current_timestamp()).alias("ts"),
        F.lit(None).cast("string").alias("exception"),
    )
    if force:
        kept = records.join(new.select(*KEY), KEY, "left_anti")
        return kept.unionByName(new)
    fresh = new.join(records.select(*KEY).dropDuplicates(), KEY, "left_anti")
    return records.unionByName(fresh)


def eligible_when(now, backoff_seconds: int = 0) -> Column:
    """The claim predicate on a queue row: 'registered', or a
    transient failure whose backoff has elapsed (the retry rule)."""
    now_ts = F.lit(now).cast("timestamp")
    retry_ok = (F.col("status") == TRANSIENT) & (
        F.unix_timestamp(now_ts) - F.unix_timestamp("ts")
        > F.lit(backoff_seconds)
    )
    return (F.col("status") == REGISTERED) | retry_ok


def eligible(records: DataFrame, now, backoff_seconds: int = 0) -> DataFrame:
    """Rows a provider may claim (``eligible_when``)."""
    return records.where(eligible_when(now, backoff_seconds))


def apply_outcomes(records: DataFrame, outcomes: DataFrame) -> DataFrame:
    """Apply a batch of processing outcomes.

    ``outcomes`` has KEY + new_status (+ optional new_exception).
    Left join + coalesce: untouched rows pass through unchanged; a
    MERGE WHEN MATCHED UPDATE in table-format terms.
    """
    o = outcomes.withColumnsRenamed({"new_status": "_ns"})
    if "new_exception" in o.columns:
        o = o.withColumnsRenamed({"new_exception": "_ne"})
    else:
        o = o.withColumn("_ne", F.lit(None).cast("string"))
    if "new_ts" in o.columns:
        o = o.withColumnsRenamed({"new_ts": "_nt"})
    else:
        o = o.withColumn("_nt", F.lit(None).cast("timestamp"))
    joined = records.join(o, KEY, "left")
    return joined.select(
        *KEY,
        F.coalesce("_ns", "status").alias("status"),
        F.coalesce("_nt", "ts").alias("ts"),
        F.when(F.col("_ns").isNotNull(), F.col("_ne"))
        .otherwise(F.col("exception")).alias("exception"),
    )


def census(records: DataFrame, retry_cutoff=None) -> DataFrame:
    """Queue dashboard: per-status counts (+ retry-eligible count
    when a cutoff is given) — the reference's backlog report."""
    aggs = [F.count(F.lit(1)).alias("n_records")]
    if retry_cutoff is not None:
        aggs.append(
            F.count(
                F.when(F.col("ts") < F.lit(retry_cutoff).cast("timestamp"), 1)
            ).alias("retry_eligible")
        )
    return records.groupBy("status").agg(*aggs)
