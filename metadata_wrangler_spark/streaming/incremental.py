"""Checkpointed incremental aggregation — the Monitor-sweep twin.

Reference: `/root/reference/monitor.py:65-71` (48 h interval sweep),
`:100-106` (600 s), Timestamp checkpoint row
(`/root/reference/scripts.py:533-535`) ≈ the streaming checkpoint
directory.

The aggregation body is shared between batch and stream (one
function, two readers), which is what makes the batch oracle a
valid check of the streaming semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_wrangler_spark.streaming._sweep import available_now


def events_schema(spark: SparkSession, source_dir: str) -> tuple[str, bool]:
    """Detect the physical type of ``ts`` from one batch footer read
    (mirrors catalog.load's detect-then-convert) and return
    ``(stream_schema_ddl, needs_nanos_conversion)``.

    TIMESTAMP(MICROS) parquet reads natively (``timestamp_ntz`` when
    isAdjustedToUTC=false, else ``timestamp``); TIMESTAMP(NANOS)
    only reads as BIGINT under the nanosAsLong conf and needs an
    explicit div-1000. Hard-coding either assumption corrupts the
    other layout — this probe costs one footer read at stream start.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_kind = dict(spark.read.parquet(source_dir).dtypes).get("ts", "bigint")
    ts_ddl = {
        "bigint": "BIGINT",
        "timestamp_ntz": "TIMESTAMP_NTZ",
    }.get(ts_kind, "TIMESTAMP")
    schema = (
        f"event_id BIGINT, ts {ts_ddl}, user_id BIGINT, "
        "event_type STRING, value DOUBLE"
    )
    return schema, ts_kind == "bigint"


def read_events_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The events parquet directory as a stream, at most
    ``max_files_per_trigger`` files per micro-batch when set."""
    schema, is_nanos = events_schema(spark, source_dir)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    raw = reader.parquet(source_dir)
    return ts_from_nanos(raw) if is_nanos else raw


def ts_from_nanos(raw: DataFrame) -> DataFrame:
    """``raw`` with its nanos-as-long ``ts`` turned into a microsecond
    timestamp (integer div: nano epochs exceed 2^53, float division
    would corrupt)."""
    return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def watermarked(events: DataFrame, delay: str) -> DataFrame:
    """``events`` with an event-time watermark ``delay`` behind the max
    ``ts`` seen. Watermarks only accept TIMESTAMP (ltz), so a
    TIMESTAMP_NTZ ``ts`` is cast first; sessions pin
    spark.sql.session.timeZone=UTC, so the cast is value-stable."""
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events.withWatermark("ts", delay)


def windowed_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-day window counts+sums per event type — identical
    code runs under spark.read (oracle-checked as
    ev_tumbling_window's count/sum core) and spark.readStream."""
    return (
        events.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5))
                   .cast("bigint")) / F.lit(10000.0)).alias("total_value"),
        )
        .select(
            F.col("win.start").cast("date").alias("window_day"),
            "event_type", "n_events", "total_value",
        )
    )


ROLLUP_SCHEMA = (
    "window_day DATE, event_type STRING, "
    "n_events BIGINT, total_value DOUBLE"
)


def run_windowed_stream_append(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    watermark: str = "1 day",
    query_name: str = "windowed_rollup_append",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The production shape of the windowed rollup: watermarked
    APPEND mode to a parquet sink. Unlike the complete-mode memory
    variant (bounded-input testing only — complete mode keeps every
    window in state forever), append emits each window exactly once,
    after the watermark passes its end, and the state store drops it
    — bounded state at any input size, and the sink is a plain table
    downstream jobs read.

    Watermark mechanics worth knowing: the watermark advances at
    micro-batch boundaries, so a window finalizes in the batch AFTER
    the one that carried its last event — including Spark's trailing
    no-data batch, which commits the final advance at end of run.
    ``max_files_per_trigger`` splits a backlog into multiple batches
    accordingly (and is the knob a backfill run uses to bound batch
    size)."""
    events = read_events_stream(spark, source_dir, max_files_per_trigger)
    return available_now(
        windowed_rollup(watermarked(events, watermark)), checkpoint_dir,
        output_dir=output_dir, schema=ROLLUP_SCHEMA, query_name=query_name,
    )


def run_windowed_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "windowed_rollup",
) -> DataFrame:
    """One AvailableNow pass over whatever files exist: process →
    commit offsets to the checkpoint → stop. Re-running later
    processes only NEW files — exactly the Monitor sweep contract.
    Results land in an in-memory table (swap for a parquet/Delta
    sink in production)."""
    events = read_events_stream(spark, source_dir)
    return available_now(
        windowed_rollup(events), checkpoint_dir,
        query_name=query_name, output_mode="complete",
    )


def hopping_rollup(events: DataFrame) -> DataFrame:
    """Hopping 2h/1h window counts+sums per event type — identical
    code runs under spark.read (oracle-checked as ev_hopping_window)
    and spark.readStream; with a watermark each window closes one
    slide after its end and state holds width/slide = 2 open windows
    per group."""
    return (
        events.groupBy(
            F.window("ts", "7200 seconds", "3600 seconds").alias("win"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5))
                   .cast("bigint")) / F.lit(10000.0)).alias("total_value"),
        )
        .select(
            F.floor(F.unix_timestamp(F.col("win.start"))).cast("bigint")
            .alias("window_start_epoch"),
            "event_type", "n_events", "total_value",
        )
    )


def run_hopping_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "hopping_rollup",
) -> DataFrame:
    """AvailableNow pass of the hopping rollup (complete-mode memory
    sink — bounded-input testing twin of run_windowed_stream)."""
    events = read_events_stream(spark, source_dir)
    return available_now(
        hopping_rollup(events), checkpoint_dir,
        query_name=query_name, output_mode="complete",
    )
