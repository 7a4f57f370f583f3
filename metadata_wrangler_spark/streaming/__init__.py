"""Streaming twins of the reference's cron+state mechanisms
(SURVEY.md §2.9).

The reference has no stream processor — its streaming-equivalents
are cron scripts sweeping state tables with Timestamp checkpoints
(`/root/reference/monitor.py:65-106`, crontab
`/root/reference/docker/services/simplified_crontab:13-27`). Here
those become:

  _sweep            the one checkpointed sweep every module below
                    runs: ``drain`` (new files in batches to a
                    handler, progress in a plain-file batch log, no
                    StreamingQuery) for the foreach-batch feeds, and
                    ``available_now`` (a Trigger.AvailableNow query
                    into a parquet or memory sink) for the stateful
                    streams, which need the state store and watermarks
  incremental       the events stream reader and its watermark,
                    windowed/hopping rollups (the Monitor sweep)
  dedup             state-store dedup, unbounded and
                    within-watermark (the processed-set guards)
  sessionize        inactivity-gap sessions via
                    applyInPandasWithState
  joins             watermarked stream-stream attribution join
  view_maintenance  swept driver of operators.matview
  cdc_apply         change feed → latest-wins snapshot
  queue_drain       swept batches through the operators.queue
                    state machine (the CoverageRecord drain)
  admission         dedup-gated corpus append

State lives in one table type: every drained sink except admission
commits through ``operators.merge.VersionedParquetTable`` — one
atomic manifest claim per batch, and a replayed batch id commits
nothing. Admission appends to a plain parquet directory on
purpose: a full-snapshot commit per batch would rewrite the corpus.

Batch/stream equivalence is asserted in tests/test_streaming.py:
the same aggregation code produces identical rows under
spark.read and spark.readStream, and a drained feed converges to
the batch operator's result.
"""
