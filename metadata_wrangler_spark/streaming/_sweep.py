"""The one sweep every stream in this package runs: a checkpointed
Trigger.AvailableNow pass — process every input present at start,
commit the source offsets to the checkpoint, stop. Re-running against
the same checkpoint processes only NEW inputs, which is the cron
sweep contract the reference's Monitors keep by hand with Timestamp
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def available_now(
    stream: DataFrame,
    checkpoint_dir: str,
    *,
    foreach_batch=None,
    output_dir: str | None = None,
    schema: str | None = None,
    query_name: str | None = None,
    output_mode: str = "append",
) -> DataFrame | None:
    """One AvailableNow pass of ``stream`` into one of three sinks:

    * ``foreach_batch(batch_df, batch_id)`` — returns None;
    * a parquet sink at ``output_dir``, read back with the explicit
      ``schema`` (a sink that emitted zero rows has no part files to
      infer one from);
    * otherwise the in-memory table ``query_name`` (single-run: Spark's
      memory sink cannot recover a checkpoint)."""
    writer = (
        stream.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if query_name is not None:
        writer = writer.queryName(query_name)
    if foreach_batch is not None:
        writer.foreachBatch(foreach_batch).start().awaitTermination()
        return None
    spark = stream.sparkSession
    if output_dir is not None:
        writer = writer.format("parquet").option("path", output_dir)
        writer.start().awaitTermination()
        return spark.read.schema(schema).parquet(output_dir)
    writer.format("memory").start().awaitTermination()
    return spark.table(query_name)
