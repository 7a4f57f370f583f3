"""Custom stateful streaming operator: inactivity-gap
sessionization via ``applyInPandasWithState``.

The batch twin is ev_sessionized_gaps (lag + cumulative sum); in a
true stream the cumulative sum needs per-key state that survives
micro-batches — exactly what the GroupState API provides. State per
user: (last_ts epoch, current session_no, events in current
session). Late/out-of-order data within a batch is handled by
sorting the batch slice; cross-batch reordering is bounded by the
upstream watermark.

Reference mapping: the reference's closest mechanism is the
Monitor's stateful sweep position (`/root/reference/monitor.py:
65-106`); sessionization itself is the §2.9 streaming obligation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from metadata_wrangler_spark.streaming._sweep import available_now
from metadata_wrangler_spark.streaming.incremental import (
    read_events_stream,
    watermarked,
)

OUTPUT_SCHEMA = (
    "user_id BIGINT, session_no BIGINT, n_events BIGINT, "
    "session_start_epoch BIGINT, session_end_epoch BIGINT"
)
STATE_SCHEMA = "last_epoch BIGINT, session_no BIGINT, n_events BIGINT, session_start_epoch BIGINT"

GAP_SECONDS = 3600


def _sessionize(key, pdf_iter, state: GroupState):
    """Per-user fold: continue the session while gaps stay within
    GAP_SECONDS, emit one row per CLOSED session; the open session
    rides in state across micro-batches.

    Late-data bound: in-batch reorder is fully handled (the batch
    slice is sorted). A CROSS-batch late event merges into the open
    session — extending its span backward/forward as needed — iff it
    arrives within GAP_SECONDS of the open session's last event;
    lateness beyond that bound must be dropped by the upstream
    watermark (it would otherwise split the session). This is the
    standard watermark-bounded correctness contract of stateful
    streaming sessionization."""
    (user_id,) = key
    if state.exists:
        last_epoch, session_no, n_events, session_start = state.get
    else:
        last_epoch, session_no, n_events, session_start = None, 0, 0, None

    closed = {"user_id": [], "session_no": [], "n_events": [],
              "session_start_epoch": [], "session_end_epoch": []}
    for pdf in pdf_iter:
        pdf = pdf.sort_values("epoch")
        for epoch in pdf["epoch"]:
            epoch = int(epoch)
            if last_epoch is None:
                session_no, n_events, session_start = 1, 1, epoch
                last_epoch = epoch
            elif epoch - last_epoch > GAP_SECONDS:
                closed["user_id"].append(user_id)
                closed["session_no"].append(session_no)
                closed["n_events"].append(n_events)
                closed["session_start_epoch"].append(session_start)
                closed["session_end_epoch"].append(last_epoch)
                session_no += 1
                n_events, session_start = 1, epoch
                last_epoch = epoch
            else:
                # Covers cross-batch late arrivals: the session's span
                # absorbs the event instead of tracking arrival order.
                n_events += 1
                session_start = min(session_start, epoch)
                last_epoch = max(last_epoch, epoch)

    state.update((last_epoch, session_no, n_events, session_start))
    yield pd.DataFrame(closed)


def sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "sessions",
    output_dir: str | None = None,
) -> DataFrame:
    """AvailableNow run of the stateful sessionizer over the events
    parquet stream; emits CLOSED sessions (the open tail stays in
    state, exactly like a production gap-session operator).

    With ``output_dir`` the closed sessions append to a parquet sink
    — the recoverable production shape: re-running against the same
    checkpoint resumes state and processes only NEW files. The
    default in-memory sink is single-run (Spark's memory sink cannot
    recover a checkpoint)."""
    # Enforce the docstring's late-data contract: events later than
    # GAP_SECONDS relative to the stream's max event time are dropped
    # HERE, not merely assumed dropped upstream — without this, an
    # arbitrarily late event would silently drag an open session's
    # start backward over previously emitted sessions.
    # `ts` stays in the projection: the stateful operator only
    # filters late rows when the event-time column itself reaches it.
    events = watermarked(
        read_events_stream(spark, source_dir), f"{GAP_SECONDS} seconds"
    ).select("user_id", "ts", F.unix_timestamp("ts").alias("epoch"))
    out = events.groupBy("user_id").applyInPandasWithState(
        _sessionize, OUTPUT_SCHEMA, STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout,
    )
    return available_now(
        out, checkpoint_dir, output_dir=output_dir, schema=OUTPUT_SCHEMA,
        query_name=query_name,
    )
