"""Streaming ingest admission — dedup-gated corpus growth.

The streaming twin of `dd_incremental_exact`: documents arrive as
files; each micro-batch fingerprints the batch, admits only content
absent from the corpus state table (exact-dedup anti-join on the
canonical md5), and appends the admitted rows to the state. A
re-delivered or re-crawled document is rejected on every later
cycle — the rolling training-corpus build loop.

Design notes for 100 TB/day:
  * the anti-join key is a high-entropy 128-bit fingerprint — state
    bucketed by fingerprint co-locates the probe;
  * within-batch duplicates are collapsed first (min doc_id wins,
    same rule as the batch tier), so a batch containing the same
    content twice admits one row;
  * exactness across restarts comes from the sweep's batch log
    (``_sweep.drain``): each file joins one batch, and a batch that
    never committed is re-run with the same files — harmless, since
    the anti-join admits nothing already appended.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators.dedup import normalize_text
from metadata_wrangler_spark.session import empty_frame
from metadata_wrangler_spark.streaming._sweep import drain

DOCS_SCHEMA = ("doc_id BIGINT, text STRING, lang STRING, "
               "source STRING, n_chars BIGINT")


def admit_batch(state_path: str, batch: DataFrame) -> DataFrame:
    """Admit the batch rows whose canonical fingerprint is new.

    Returns the admitted rows (doc_id, fingerprint) AFTER appending
    them to the state table; the caller owns transactionality (a
    table format makes the append + read atomic on a cluster).
    """
    spark = batch.sparkSession
    fp = F.md5(normalize_text(F.col("text")))
    batch_fp = (
        batch.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    from pyspark.errors import AnalysisException
    try:
        state = spark.read.parquet(state_path)
    except AnalysisException:
        # First batch ever: the state table does not exist yet. Any
        # OTHER read failure must propagate — treating it as an empty
        # corpus would re-admit the whole batch and append duplicate
        # fingerprints.
        state = empty_frame(spark, "doc_id BIGINT, fingerprint STRING")
    admitted = batch_fp.join(
        state.select("fingerprint"), "fingerprint", "left_anti"
    ).select("doc_id", "fingerprint")
    admitted.write.mode("append").parquet(state_path)
    return admitted


def run_admission_stream(
    spark: SparkSession,
    source_dir: str,
    state_path: str,
    checkpoint_dir: str,
) -> DataFrame:
    """One sweep over the document files not yet swept: fingerprint →
    anti-join vs corpus state → append admitted. Returns the post-run
    state table."""
    drain(spark, source_dir, DOCS_SCHEMA, checkpoint_dir,
          lambda batch, _id: admit_batch(state_path, batch))
    return spark.read.parquet(state_path)
