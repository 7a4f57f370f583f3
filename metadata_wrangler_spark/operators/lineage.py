"""Explicit lifetime control for ``localCheckpoint`` blocks.

Iterative plans (closure/components BFS, label propagation, k-core
peeling) truncate lineage each round with ``localCheckpoint``. The
blocks those checkpoints pin are reclaimed by the ContextCleaner
only after a driver JVM GC notices the RDD is unreferenced — an
ASYNCHRONOUS path that, measured at the 100x ladder (SCALE.md,
round-8 finding 1), let one iterative query's dead rounds squeeze
the next query's execution memory into spilling: g_label_propagation
read 24 s in-ladder vs 10.2 s isolated at sf10 purely from lingering
blocks. ``plans.release_session_caches`` *initiates* reclaim but
cannot await it.

``free_checkpoint`` makes the reclaim synchronous and local: it
reaches the checkpointed RDD behind a ``localCheckpoint``-produced
DataFrame (its analyzed plan is a ``LogicalRDD`` wrapping the
persisted RDD) and unpersists it with ``blocking=true``. The caller
owns the safety argument: after the free, RE-READING that DataFrame
fails (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` — local checkpoints cut
lineage, so lost blocks are unrecoverable). Operators therefore free
a round's checkpoint only once the NEXT round (or the final result)
is itself materialized and no returned plan references the freed
frame — each call site states which action established that.

A lazy checkpoint is not lazy under AQE: ``localCheckpoint(eager=
False)`` builds its RDD when called, and the adaptive plan runs every
upstream shuffle stage to do so — one job per shuffle stage while the
plan is being built (a two-shuffle aggregate over sf0.01 orders: 2
jobs at the call with AQE on, 0 with it off; a broadcast exchange
fires its job either way). A checkpoint therefore moves jobs into
plan build; a plan that reads its input once needs none.

Classic-session only (the ``_jdf`` bridge): under Spark Connect the
helper degrades to a no-op and lifetime falls back to the server's
ContextCleaner, which is correct, merely lazier.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)
_warned_no_bridge = False


def _warn_no_bridge_once() -> None:
    """One log line per process when synchronous checkpoint frees are
    unavailable (Spark Connect: no ``_jdf`` bridge). Without it the
    engine silently reacquires the round-8 behavior — dead iterative
    rounds accumulate until the server's ContextCleaner runs, which
    measured as a 2.3x in-ladder slowdown at sf10 — and a Connect
    user would have no signal why memory grows."""
    global _warned_no_bridge
    if not _warned_no_bridge:
        _warned_no_bridge = True
        _log.warning(
            "free_checkpoint: no JVM bridge on this session (Spark "
            "Connect?) — localCheckpoint blocks of iterative operators "
            "will be reclaimed lazily by the server's ContextCleaner; "
            "expect higher executor storage residency on long fixpoint "
            "runs (SCALE.md round-8 finding 1)."
        )


def free_checkpoint(df: DataFrame | None, blocking: bool = True) -> bool:
    """Synchronously drop the storage blocks behind a
    ``df.localCheckpoint(...)`` result. Returns True if blocks were
    released, False if the frame wasn't a checkpoint product or the
    JVM bridge is unavailable (Spark Connect) — callers treat False
    as "the ContextCleaner will get it eventually"."""
    if df is None:
        return False
    if not hasattr(df, "_jdf"):
        # Spark Connect DataFrames have no JVM handle at all —
        # distinguish the capability gap (warn once) from a frame
        # that merely isn't a checkpoint product (silent False).
        _warn_no_bridge_once()
        return False
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(blocking)
        return True
    except Exception:
        return False
