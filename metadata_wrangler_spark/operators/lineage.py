"""The package's only checkpoint code: named pins, the one round loop,
and the synchronous frees behind them.

Iterative plans cut lineage with ``localCheckpoint``; without it each
round's plan embeds every earlier round and the optimizer chokes.

* ``checkpoint(df, name)`` — a lazy pin. Its blocks live as long as the
  returned plan is reachable.
* ``materialize(df, name, probe)`` — a lazy pin plus the one action
  that fills it: the probe, a row count by default or a caller's
  aggregate, so learning what a pin holds costs no second job. As a
  ``with`` block it frees the frame on exit, by a raise too.
* ``fixpoint(...)`` — the one round loop.

Each pin names the jobs it fires (the Spark job description, restored
afterwards) and logs one line with its probe value.

Lifetime (SCALE.md, round-8 finding 1): pinned blocks are reclaimed
by the ContextCleaner only after a driver JVM GC notices the RDD is
unreferenced. Measured at the 100x ladder, that asynchronous path let
one iterative query's dead rounds squeeze the next query's execution
memory into spilling (g_label_propagation 24 s in-ladder vs 10.2 s
isolated at sf10); ``plans.release_session_caches`` starts reclaim
but cannot await it. ``free_checkpoint`` unpersists the RDD behind a
pinned frame (a ``LogicalRDD``) synchronously. Re-reading a freed
frame fails (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``: local checkpoints
cut lineage), so a frame is freed only once everything computed from
it is materialized and no returned plan reads it.

Under AQE a lazy pin is not lazy: building its RDD runs every upstream
shuffle stage at the call — one job per shuffle stage while the plan
is built (a two-shuffle aggregate over sf0.01 orders: 2 jobs with AQE
on, 0 with it off; a broadcast exchange fires its job either way). A
plan that reads its input once needs no pin.

Classic sessions only (the ``_jdf`` bridge): under Spark Connect frees
are no-ops, the server's ContextCleaner reclaims (correct, merely
lazier) and no job description is set.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)
_warned_no_bridge = False


def _warn_no_bridge_once() -> None:
    """Without synchronous frees (Spark Connect) dead rounds pile up
    until the server's ContextCleaner runs — a 2.3x in-ladder slowdown
    at sf10 — so say so once per process."""
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
    """Synchronously drop the storage blocks behind a pinned frame.
    False if the frame is no checkpoint product or there is no JVM
    bridge (the ContextCleaner will get it eventually)."""
    if df is None:
        return False
    if not hasattr(df, "_jdf"):
        _warn_no_bridge_once()
        return False
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        # What RDD.unpersist does, minus its WARN that a local
        # checkpoint's lineage is gone once unpersisted: here that is
        # the intent, and one such line per free buried real warnings.
        rdd = plan.rdd()
        rdd.context().unpersistRDD(rdd.id(), blocking)
        return True
    except Exception:
        return False


def row_count(df: DataFrame) -> int:
    """The default probe: one job over the pinned RDD (``df.count()``
    plans an aggregate with its own exchange — two jobs under AQE)."""
    if hasattr(df, "_jdf"):
        return df._jdf.queryExecution().toRdd().count()
    return df.count()


class Pinned(tuple):
    """``(frame, probe value)``; as a context manager it frees the
    frame on exit."""

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        free_checkpoint(self[0])


def materialize(df: DataFrame, name: str, probe=row_count) -> Pinned:
    """Pin ``df`` and fill the pin with one action, ``probe(frame)``
    (``None``: a lazy pin). A failing probe frees the pin."""
    sc = df.sparkSession.sparkContext if hasattr(df, "_jdf") else None
    if sc is not None:
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(name)
    try:
        out = df.localCheckpoint(eager=False)
        try:
            value = "lazy" if probe is None else probe(out)
        except BaseException:
            free_checkpoint(out)
            raise
    finally:
        if sc is not None:
            sc.setLocalProperty("spark.job.description", prev)
    _log.info("pin %s: %s", name, value)
    return Pinned((out, value))


def checkpoint(df: DataFrame, name: str) -> DataFrame:
    """A named lazy pin."""
    return materialize(df, name, None)[0]


def fixpoint(name, start, step, *, cap, probe=None, stop=None,
             converge=False, keep=False, finish=None):
    """The round loop. ``step(r, rounds)`` builds round ``r`` (1 ..
    ``cap``) from the live rounds — all of them with ``keep``, else
    the latest — and the loop pins it as ``"{name} round {r}"``.

    With a ``probe``, ``start`` is pinned and probed as round 0, and
    ``stop(value, previous value)`` ends the loop: the round that met
    it changed nothing, so it is freed and the rounds before it are
    the result. Without ``keep`` each round is freed once its
    successor is probed. A loop without a probe runs all ``cap``
    rounds and materializes none, so they are freed only after
    ``finish(last round)`` is materialized as ``"{name} result"``.

    At the cap a bounded loop stops and logs it; a ``converge`` loop
    raises with the rounds run and the last probe value. On any raise
    every round pinned here is freed.

    Returns the kept rounds (``keep``), the ``finish`` result, or the
    last round.
    """
    rounds, value = [start], None
    ours = 0 if probe is not None else 1  # start is pinned here or not
    try:
        if probe is not None:
            rounds[0], value = materialize(start, f"{name} round 0", probe)
        for r in range(1, cap + 1):
            plan = step(r, rounds if keep else rounds[-1:])
            if probe is None:
                rounds.append(checkpoint(plan, f"{name} round {r}"))
                continue
            frame, nxt = materialize(plan, f"{name} round {r}", probe)
            if stop(nxt, value):
                free_checkpoint(frame)
                break
            if not keep:
                free_checkpoint(rounds[-1])
            rounds.append(frame)
            value = nxt
        else:
            if converge:
                raise RuntimeError(
                    f"{name}: no fixpoint after {cap} rounds "
                    f"(last probe value {value})"
                )
            _log.info("%s: stopped at its cap of %d rounds", name, cap)
        if finish is None:
            return rounds if keep else rounds[-1]
        out, _ = materialize(finish(rounds[-1]), f"{name} result")
    except BaseException:
        for f in rounds[ours:]:
            free_checkpoint(f)
        raise
    for f in rounds[ours:]:
        free_checkpoint(f)
    return out
