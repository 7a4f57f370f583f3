"""Incremental materialized-view maintenance: N incremental
refreshes must equal one full recompute, bit for bit."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_wrangler_spark.catalog import load
from metadata_wrangler_spark.operators.matview import MaterializedDailyRollup

SF_DIR = "/root/testdata/sf0.001"


def _full_rollup(events):
    return events.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint"))
            / F.lit(10000.0)
        ).alias("total_value"),
    )


def test_incremental_refresh_equals_full_recompute(spark, tmp_path):
    ev = load(spark, SF_DIR, "events")
    cutoff = "2024-01-15 00:00:00"
    early = ev.where(F.col("ts") <= F.lit(cutoff).cast("timestamp"))
    mv = MaterializedDailyRollup(spark, str(tmp_path / "mv"))
    mv.init(early)

    # refresh consumes exactly the post-cutoff slice...
    n = mv.refresh(ev)
    assert n == ev.count() - early.count()
    # ...and a second refresh with no new data is a no-op
    assert mv.refresh(ev) == 0

    got = sorted(tuple(r) for r in mv.read().collect())
    exp = sorted(tuple(r) for r in _full_rollup(ev).collect())
    assert got == exp
    assert len(got) > 0


def test_refresh_boundary_second_not_lost(spark, tmp_path):
    """Watermark precision: an event in the SAME second as the stored
    watermark but with a later fraction must still be consumed — the
    floor-to-seconds spelling silently drops it (the latent-mismatch
    class ADVICE.md flagged)."""
    from datetime import datetime

    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    early = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0, 0, 250000), 1, "click", 1.0)],
        schema,
    )
    late = spark.createDataFrame(
        [(2, datetime(2024, 1, 1, 0, 0, 0, 750000), 1, "click", 2.0)],
        schema,
    )
    mv = MaterializedDailyRollup(spark, str(tmp_path / "mv"))
    mv.init(early)
    assert mv.refresh(early.unionByName(late)) == 1
    row = mv.read().collect()[0]
    assert row["n_events"] == 2
    assert row["total_value"] == 3.0


def test_init_on_empty_slice_then_refresh(spark, tmp_path):
    """Bootstrapping before any events exist must work: empty init,
    then the first refresh consumes everything."""
    ev = load(spark, SF_DIR, "events")
    empty = ev.where(F.lit(False))
    mv = MaterializedDailyRollup(spark, str(tmp_path / "mv"))
    mv.init(empty)
    assert mv.watermark_epoch() == 0
    assert mv.refresh(ev) == ev.count()
    got = sorted(tuple(r) for r in mv.read().collect())
    exp = sorted(tuple(r) for r in _full_rollup(ev).collect())
    assert got == exp


_EVENTS = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double"
)


def test_refresh_keeps_last_batch_id(spark, tmp_path):
    """Exactly-once across refresh: after merge_batch 7, a refresh
    commits only its watermark and the manifest carries
    ``last_batch_id`` forward, so a replay of batch 7 merges 0 rows."""
    from datetime import datetime

    base = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 12, 0, 0), 1, "click", 1.0)], _EVENTS
    )
    batch7 = spark.createDataFrame(
        [(2, datetime(2024, 1, 2, 12, 0, 0), 1, "click", 2.0)], _EVENTS
    )
    fresh = spark.createDataFrame(
        [(3, datetime(2024, 1, 3, 12, 0, 0), 1, "click", 4.0)], _EVENTS
    )
    mv = MaterializedDailyRollup(spark, str(tmp_path / "mv"))
    mv.init(base)
    assert mv.merge_batch(batch7, batch_id=7) == 1
    assert mv.refresh(base.unionByName(batch7).unionByName(fresh)) == 1
    assert mv.table.meta()["last_batch_id"] == 7

    # The replayed micro-batch is skipped, not double-counted.
    assert mv.merge_batch(batch7, batch_id=7) == 0
    total = mv.read().agg(F.sum("n_events").alias("n")).collect()[0]
    assert total["n"] == 3


def test_merge_batch_replay_race_applies_batch_once(spark, tmp_path):
    """A competing writer merges batch 3 after this writer pinned its
    base but before its commit claim: the claim fails, the retry
    finds batch 3 applied, and the batch counts once."""
    from datetime import datetime

    batch3 = spark.createDataFrame(
        [(2, datetime(2024, 1, 2, 12, 0, 0), 1, "click", 2.0)], _EVENTS
    )
    path = str(tmp_path / "mv")
    mv = MaterializedDailyRollup(spark, path)
    mv.init(batch3.where(F.lit(False)))
    competitor = MaterializedDailyRollup(spark, path)
    claim = mv.table.try_commit
    raced = []

    def racing_claim(base_version, post_state, meta=None):
        if not raced:
            raced.append(base_version)
            assert competitor.merge_batch(batch3, batch_id=3) == 1
        return claim(base_version, post_state, meta=meta)

    mv.table.try_commit = racing_claim
    assert mv.merge_batch(batch3, batch_id=3) == 0
    assert raced == [0] and mv.table.current_version() == 1
    assert [r["n_events"] for r in mv.read().collect()] == [1]


def test_streaming_view_maintenance_equals_full_recompute(spark, tmp_path):
    """Files delivered as micro-batches through foreachBatch must
    leave the view identical to a one-shot aggregation of all
    events, and a checkpointed re-run must change nothing."""
    import shutil

    from metadata_wrangler_spark.streaming import view_maintenance

    src = tmp_path / "events_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-000.parquet")

    ev = load(spark, SF_DIR, "events")
    mv = MaterializedDailyRollup(spark, str(tmp_path / "mv"))
    mv.init(ev.where(F.lit(False)))

    got = view_maintenance.run_view_maintenance_stream(
        spark, str(src), str(tmp_path / "mv"), str(tmp_path / "cp"),
        max_files_per_trigger=1,
    )
    exp = sorted(tuple(r) for r in _full_rollup(ev).collect())
    assert sorted(tuple(r) for r in got.collect()) == exp

    # re-run with nothing new: checkpoint skips the file, view unchanged
    again = view_maintenance.run_view_maintenance_stream(
        spark, str(src), str(tmp_path / "mv"), str(tmp_path / "cp"),
    )
    assert sorted(tuple(r) for r in again.collect()) == exp


def test_streaming_view_merges_late_event_time_files(spark, tmp_path):
    """A file landing AFTER the watermark has advanced past its event
    times must still merge (batch-id idempotence, not event-time
    filtering, guards the streaming path — the first driver dropped
    such files forever)."""
    import glob
    import os
    import shutil
    from datetime import datetime

    from metadata_wrangler_spark.streaming import view_maintenance

    src = tmp_path / "events_src"
    src.mkdir()
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )

    def ev(eid, ts):
        return (eid, datetime.fromisoformat(ts), 1, "click", 1.0)

    newer = spark.createDataFrame([ev(1, "2024-01-05 00:00:00")], schema)
    late = spark.createDataFrame([ev(2, "2024-01-02 00:00:00")], schema)
    files = [str(src / "part-000.parquet"), str(src / "part-001.parquet")]
    for i, (batch, dest) in enumerate(zip((newer, late), files)):
        scratch = str(tmp_path / f"s{i}")
        batch.coalesce(1).write.mode("overwrite").parquet(scratch)
        shutil.move(
            glob.glob(os.path.join(scratch, "part-*.parquet"))[0], dest
        )
        os.utime(dest, (1700000000 + 100 * i,) * 2)

    mv = MaterializedDailyRollup(spark, str(tmp_path / "mv"))
    mv.init(load(spark, SF_DIR, "events").where(F.lit(False)))
    got = view_maintenance.run_view_maintenance_stream(
        spark, str(src), str(tmp_path / "mv"), str(tmp_path / "cp"),
        max_files_per_trigger=1,
    )
    rows = {(str(r["day"]), r["n_events"]) for r in got.collect()}
    # BOTH days present: the late file's event was not dropped
    assert rows == {("2024-01-05", 1), ("2024-01-02", 1)}


def test_matview_refresh_query_leaves_no_state_dir(spark):
    """ev_matview_refresh pins its view and removes its state dir
    before returning: three calls leave no new ``mw_matview_*`` entry
    in the temp dir, and each result still hash-matches the oracle."""
    import os
    import sys
    import tempfile

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from check_oracle import check_one, oracle_connection

    from metadata_wrangler_spark import plans

    plans.load_all_plans()
    tmp = tempfile.gettempdir()

    def state_dirs():
        return {e for e in os.listdir(tmp) if e.startswith("mw_matview_")}

    before = state_dirs()
    con = oracle_connection(SF_DIR)
    try:
        for _ in range(3):
            assert not check_one(
                spark, con, plans.QUERIES["ev_matview_refresh"],
                plans.ORACLES["ev_matview_refresh"], SF_DIR,
            )
    finally:
        con.close()
    assert state_dirs() - before == set()
