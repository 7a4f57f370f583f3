"""Stream/batch equivalence tests: the streaming twins must produce
exactly the rows their batch counterparts produce on the same data
slice, and checkpointed re-runs must be incremental (no
reprocessing)."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from metadata_wrangler_spark.catalog import load
from metadata_wrangler_spark.operators import queue
from metadata_wrangler_spark.operators.merge import VersionedParquetTable
from metadata_wrangler_spark.streaming import incremental, queue_drain

SF_DIR = "/root/testdata/sf0.001"


def test_windowed_stream_equals_batch(spark, tmp_path):
    src = tmp_path / "events_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-000.parquet")

    got = incremental.run_windowed_stream(
        spark, str(src), str(tmp_path / "cp"), query_name="t_rollup"
    )
    batch = incremental.windowed_rollup(load(spark, SF_DIR, "events"))

    sgot = sorted(tuple(r) for r in got.collect())
    sexp = sorted(tuple(r) for r in batch.collect())
    assert sgot == sexp
    assert len(sgot) > 0


def test_windowed_stream_checkpoint_no_reprocess(spark, tmp_path):
    src = tmp_path / "events_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-000.parquet")
    cp = str(tmp_path / "cp")

    first = incremental.run_windowed_stream(
        spark, str(src), cp, query_name="t_cp1"
    ).collect()
    # second AvailableNow run with no new files: complete-mode memory
    # sink restarts empty, and the checkpoint must mark every file as
    # already processed -> zero rows
    second = incremental.run_windowed_stream(
        spark, str(src), cp, query_name="t_cp2"
    ).collect()
    assert len(first) > 0
    assert len(second) == 0


def test_queue_drain_stream_equals_batch(spark, tmp_path):
    initial = spark.createDataFrame(
        [
            (1, "oclc", "classify", queue.SUCCESS, "2024-01-01 00:00:00", None),
            (2, "oclc", "classify", queue.TRANSIENT, "2024-01-01 00:00:00", "boom"),
        ],
        "identifier_id bigint, data_source string, operation string, "
        "status string, ts string, exception string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    items = spark.createDataFrame(
        [(2,), (3,), (4,)], "identifier_id bigint"
    )
    items_dir = str(tmp_path / "items")
    items.write.parquet(items_dir)

    # streaming drain
    stream_table = VersionedParquetTable(
        spark, str(tmp_path / "stream_state")
    )
    stream_table.init(initial)
    queue_drain.run_drain_stream(
        spark, items_dir, stream_table, str(tmp_path / "cp"),
    )

    # batch drain of the same items against the same initial state
    batch_table = VersionedParquetTable(spark, str(tmp_path / "batch_state"))
    batch_table.init(initial)
    queue_drain.drain_batch(
        batch_table, items, "oclc", "classify", "2024-01-15 00:00:00"
    )

    sgot = sorted(tuple(r) for r in stream_table.read().collect())
    sexp = sorted(tuple(r) for r in batch_table.read().collect())
    assert sgot == sexp

    got = {r["identifier_id"]: (r["status"], r["exception"])
           for r in stream_table.read().collect()}
    # 1: success, untouched. 2: transient retried (eligible) -> even
    # -> success. 3: new registration -> odd -> transient failure.
    # 4: new -> even -> success.
    assert got[1] == (queue.SUCCESS, None)
    assert got[2] == (queue.SUCCESS, None)
    assert got[3] == (queue.TRANSIENT, "transient: remote boom")
    assert got[4] == (queue.SUCCESS, None)


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """The same events file delivered twice (e.g. a re-sent feed)
    yields each event exactly once — the streaming twin of the
    reference's processed_uris set / so_drop_duplicates."""
    from metadata_wrangler_spark.streaming import dedup as sdedup

    src = tmp_path / "events_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-000.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-001.parquet")

    got = sdedup.run_dedup_stream(
        spark, str(src), str(tmp_path / "cp"), query_name="t_dedup"
    )
    batch = load(spark, SF_DIR, "events").dropDuplicates(["event_id"])

    assert got.count() == batch.count()
    sgot = sorted(r["event_id"] for r in got.select("event_id").collect())
    sexp = sorted(r["event_id"] for r in batch.select("event_id").collect())
    assert sgot == sexp


def test_admission_stream_admits_each_content_once(spark, tmp_path):
    """Rolling corpus build: the first delivery admits unique
    contents; a second delivery of the SAME file (new filename, so
    the source treats it as new data) admits nothing."""
    from metadata_wrangler_spark.streaming import admission

    src = tmp_path / "docs_src"
    src.mkdir()
    state = str(tmp_path / "corpus_state")
    cp = str(tmp_path / "cp")
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "drop-001.parquet")

    first = admission.run_admission_stream(spark, str(src), state, cp)
    batch_distinct = (
        load(spark, SF_DIR, "documents")
        .select(F.md5(F.expr(
            r"trim(regexp_replace(lower(text), '\\s+', ' '))"
        )).alias("fp"))
        .distinct().count()
    )
    assert first.count() == batch_distinct

    # same content re-delivered under a new filename
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "drop-002.parquet")
    second = admission.run_admission_stream(spark, str(src), state, cp)
    assert second.count() == batch_distinct          # nothing re-admitted
    assert second.select("fingerprint").distinct().count() == batch_distinct


def test_windowed_append_finalizes_windows_behind_watermark(spark, tmp_path):
    # Three single-file micro-batches (maxFilesPerTrigger=1) at day 1,
    # day 5, day 9. The watermark advances at batch boundaries (plus
    # Spark's trailing no-data batch, which commits the final
    # advance), so it ends at day9-1d = day 8: the day-1 and day-5
    # windows finalize and emit exactly once, while the day-9 window
    # stays in state awaiting later data. Append mode = each window
    # emitted once, then dropped from state — the bounded-state
    # production shape.
    import datetime as dt
    import glob

    src = tmp_path / "src"
    src.mkdir()

    def _write(name, day, n):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(
            [(day * 100 + i, dt.datetime(2024, 1, day, 10, 0, i),
              7, "click", 1.0) for i in range(n)],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double",
        ).coalesce(1).write.mode("overwrite").parquet(str(staging))
        (part,) = glob.glob(str(staging / "part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    _write("f1", 1, 4)
    _write("f2", 5, 2)
    _write("f3", 9, 3)

    got = incremental.run_windowed_stream_append(
        spark, str(src), str(tmp_path / "cp"), str(tmp_path / "out"),
        max_files_per_trigger=1, query_name="t_append",
    )
    rows = sorted(
        (str(r["window_day"]), r["event_type"], r["n_events"],
         r["total_value"]) for r in got.collect()
    )
    assert rows == [
        ("2024-01-01", "click", 4, 4.0),
        ("2024-01-05", "click", 2, 2.0),
    ]


def test_queue_drain_through_versioned_table_commits_per_batch(spark, tmp_path):
    # Every micro-batch lands as one atomic version, and the final
    # state matches one batch drain of the same items.
    initial = spark.createDataFrame(
        [(2, "oclc", "classify", queue.TRANSIENT,
          "2024-01-01 00:00:00", "boom")],
        "identifier_id bigint, data_source string, operation string, "
        "status string, ts string, exception string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    items = spark.createDataFrame([(2,), (3,)], "identifier_id bigint")
    items_dir = str(tmp_path / "items")
    items.write.parquet(items_dir)

    vt = VersionedParquetTable(spark, str(tmp_path / "acid_state"))
    vt.init(initial)
    queue_drain.run_drain_stream(
        spark, items_dir, vt, str(tmp_path / "cp"),
    )
    assert vt.current_version() >= 1  # init + >=1 drain commit

    plain = VersionedParquetTable(spark, str(tmp_path / "plain_state"))
    plain.init(initial)
    queue_drain.drain_batch(
        plain, items, "oclc", "classify", "2024-01-15 00:00:00"
    )
    sgot = sorted(tuple(r) for r in vt.read().collect())
    sexp = sorted(tuple(r) for r in plain.read().collect())
    assert sgot == sexp


def test_native_session_window_streams_with_watermark(spark, tmp_path):
    # The ev_session_window_native expression running under
    # readStream + watermark: sessions whose close falls behind the
    # final watermark emit exactly once; the open tail stays in
    # state. Three single-file batches; user 7's day-1 burst (two
    # events 10 s apart) is one closed session.
    import datetime as dt
    import glob

    src = tmp_path / "src"
    src.mkdir()

    def _write(name, day, secs):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(
            [(day * 1000 + s, dt.datetime(2024, 1, day, 12, 0, 0)
              + dt.timedelta(seconds=s), 7, "click", 1.0) for s in secs],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double",
        ).coalesce(1).write.mode("overwrite").parquet(str(staging))
        (part,) = glob.glob(str(staging / "part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    _write("f1", 1, [0, 10])
    _write("f2", 5, [0])
    _write("f3", 9, [0])

    events = incremental.read_events_stream(
        spark, str(src), max_files_per_trigger=1
    )
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        events.withWatermark("ts", "1 day")
        .groupBy("user_id", F.session_window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("win.start").alias("start_epoch"),
            F.unix_timestamp("win.end").alias("end_epoch"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out_schema = ("user_id bigint, start_epoch bigint, "
                  "end_epoch bigint, n_events bigint")
    got = sorted(
        tuple(r) for r in spark.read.schema(out_schema)
        .parquet(str(tmp_path / "out")).collect()
    )
    base = int(dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc)
               .timestamp())
    day5 = int(dt.datetime(2024, 1, 5, 12, tzinfo=dt.timezone.utc)
               .timestamp())
    # day-1 session: [noon, noon+10s+1h), 2 events; day-5 session
    # emitted by the final watermark (day 8); day-9 stays in state.
    assert got == [
        (7, base, base + 10 + 3600, 2),
        (7, day5, day5 + 3600, 1),
    ]


def test_stream_stream_join_equals_batch(spark, tmp_path):
    from metadata_wrangler_spark.plans import QUERIES, load_all_plans
    from metadata_wrangler_spark.streaming import joins

    load_all_plans()
    src = tmp_path / "events_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-000.parquet")

    got = joins.run_attribution_stream(
        spark, str(src), str(tmp_path / "cp"), str(tmp_path / "out"),
        query_name="t_attr",
    )
    batch = QUERIES["ev_stream_stream_join"](spark, SF_DIR)

    sgot = sorted(tuple(r) for r in got.collect())
    sexp = sorted(tuple(r) for r in batch.collect())
    assert sgot == sexp
    assert len(sgot) > 0


def test_stream_stream_join_evicts_state_behind_watermark(spark, tmp_path):
    """The join's bounded-state claim, behaviorally: once the
    watermark passes a click's join window its state is evicted
    (visible in numRowsRemoved), and a purchase whose EVENT time
    would match but which arrives after eviction produces no pair.

    Subtlety this test encodes: the watermark operators sit on the
    type-filtered legs, so only click/purchase events advance them —
    an event of another type is filtered out upstream and moves
    nothing (the first version of this test drove the watermark with
    a 'view' and proved only that)."""
    import glob
    import os
    from datetime import datetime

    from metadata_wrangler_spark.streaming import incremental, joins

    src = tmp_path / "events_src"
    src.mkdir()
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )

    def ev(eid, ts, uid, etype):
        return (eid, datetime.fromisoformat(ts), uid, etype, 1.0)

    # batch 1: the in-window pair, plus far-future click/purchase
    # events (user 2, 3 h apart so they never pair) that push BOTH
    # legs' watermarks past click@00:00's join window (2 h + 10 min)
    batch1 = spark.createDataFrame([
        ev(1, "2024-01-01 00:00:00", 1, "click"),
        ev(2, "2024-01-01 00:10:00", 1, "purchase"),
        ev(5, "2024-01-01 10:00:00", 2, "click"),
        ev(6, "2024-01-01 13:00:00", 2, "purchase"),
    ], schema)
    # batch 2: quiet traffic; state cleanup runs at micro-batch END,
    # so this batch is where click@00:00's state is removed
    batch2 = spark.createDataFrame([
        ev(7, "2024-01-01 13:00:00", 3, "click"),
        ev(8, "2024-01-01 16:30:00", 3, "purchase"),
    ], schema)
    # batch 3: event time WOULD match click@00:00 (20 min gap), but
    # it arrives two batches after the watermark passed the window
    batch3 = spark.createDataFrame([
        ev(4, "2024-01-01 00:20:00", 1, "purchase"),
    ], schema)

    files = [str(src / f"part-00{i}.parquet") for i in range(3)]
    for i, (batch, dest) in enumerate(
        zip((batch1, batch2, batch3), files)
    ):
        scratch = str(tmp_path / ("scratch_" + os.path.basename(dest)))
        batch.coalesce(1).write.mode("overwrite").parquet(scratch)
        shutil.move(
            glob.glob(os.path.join(scratch, "part-*.parquet"))[0], dest
        )
        # file source orders batches by modification time
        os.utime(dest, (1700000000 + 100 * i,) * 2)

    events = incremental.read_events_stream(
        spark, str(src), max_files_per_trigger=1
    )
    clicks = joins._typed_leg(events, "click", "10 minutes")
    purchases = joins._typed_leg(events, "purchase", "10 minutes")
    q = (
        joins.attribution_pairs(clicks, purchases)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = spark.read.schema(joins.PAIRS_SCHEMA).parquet(
        str(tmp_path / "out")
    )
    pair_ids = sorted((r[0], r[1]) for r in out.collect())
    assert pair_ids == [(1, 2)]  # late (1, 4) never materializes
    removed = sum(
        p["stateOperators"][0]["numRowsRemoved"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert removed >= 2  # click@00:00 + purchase@00:10 state evicted


def test_dedup_within_watermark_bounds_state_and_drops_dupes(
    spark, tmp_path
):
    """The bounded-state twin: duplicates delivered twice (same ids,
    second copy time-shifted inside the watermark window — a retry
    with a fresh timestamp) are emitted exactly once, which the plain
    dropDuplicates spelling also achieves but only at unbounded
    state; this asserts the WithinWatermark operator's semantics on
    the same re-sent-feed scenario."""
    from pyspark.sql import functions as F

    from metadata_wrangler_spark.streaming import dedup as sdedup

    src = tmp_path / "events_src"
    src.mkdir()
    ev = load(spark, SF_DIR, "events")
    stage0 = tmp_path / "stage0"
    stage1 = tmp_path / "stage1"
    ev.coalesce(1).write.parquet(str(stage0))
    # the retry: same ids, timestamps nudged 1 min — still dupes
    ev.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 MINUTE")
    ).coalesce(1).write.parquet(str(stage1))
    for i, stage in enumerate((stage0, stage1)):
        part = next(stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"part-{i:03d}.parquet")

    got = sdedup.run_dedup_stream_within_watermark(
        spark,
        str(src),
        str(tmp_path / "cp_ww"),
        query_name="t_dedup_ww",
    )
    assert got.count() == ev.count()
    assert sorted(
        r["event_id"] for r in got.select("event_id").collect()
    ) == sorted(r["event_id"] for r in ev.select("event_id").collect())


def test_cdc_apply_stream_equals_batch(spark, tmp_path):
    """Stream/batch equivalence for the CDC apply: the change feed
    split into out-of-order micro-batch files converges, through
    foreachBatch latest-wins merges, to exactly the latest-wins
    snapshot of the full feed (d_cdc_apply semantics), computed here
    in plain Python."""
    import random

    from metadata_wrangler_spark.streaming import cdc_apply

    rng = random.Random(31)
    # versions unique; every 13th change is a tombstone; some keys'
    # LATEST change is a delete, some get deleted then re-inserted.
    feed = [
        (k, v, "D" if v % 13 == 0 else "U", rng.randrange(100, 99999))
        for v, k in enumerate(
            [rng.randrange(0, 40) for _ in range(400)], start=1
        )
    ]
    # out-of-order micro-batches: shuffle, then slice into 5 files
    rng.shuffle(feed)
    src = tmp_path / "changes"
    src.mkdir()
    for i in range(5):
        spark.createDataFrame(
            feed[i * 80:(i + 1) * 80], cdc_apply.CHANGES_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}.parquet")
        )

    table = VersionedParquetTable(spark, str(tmp_path / "cdc_state"))
    table.init(cdc_apply.empty_state(spark))
    cdc_apply.run_cdc_stream(
        spark, str(src) + "/*", table, str(tmp_path / "cdc_cp")
    )
    got = {
        r["key"]: (r["n_changes"], r["last_version"], r["last_value"])
        for r in cdc_apply.current_view(table.read()).collect()
    }

    # independent reference over the full feed: per key the highest
    # version wins, every change counts, tombstoned keys are hidden
    latest: dict[int, tuple[int, str, int]] = {}
    counts: dict[int, int] = {}
    for k, v, op, qv in feed:
        counts[k] = counts.get(k, 0) + 1
        if k not in latest or v > latest[k][0]:
            latest[k] = (v, op, qv)
    exp = {
        k: (counts[k], v, qv / 100.0)
        for k, (v, op, qv) in latest.items() if op != "D"
    }
    assert got == exp
    # sanity: tombstoned keys really are hidden, and at least one
    # delete-then-reinsert key survived
    state = {r["key"]: r["last_op"] for r in table.read().collect()}
    assert any(op == "D" for op in state.values())
    assert all(
        state[k] != "D" for k in got
    )


def test_cdc_apply_versioned_table_replay_exactly_once(spark, tmp_path):
    """The CDC sink commits the applied batch id atomically with the
    state (manifest meta), so a REPLAYED micro-batch — crash after
    the state commit, before the source offset commit — commits
    nothing and n_changes stays exact."""
    from metadata_wrangler_spark.streaming import cdc_apply

    feed = [(k, v, "U", 100 + k) for v, k in enumerate(
        [0, 1, 2, 0, 1, 0], start=1
    )]
    batch = spark.createDataFrame(feed, cdc_apply.CHANGES_SCHEMA)

    vt = VersionedParquetTable(spark, str(tmp_path / "cdc_v"))
    vt.init(cdc_apply.empty_state(spark))

    def apply_once(batch_id: int) -> None:
        # the same handler body run_cdc_stream installs
        vt.merge(
            lambda cur, _meta: cdc_apply.apply_changes(cur, batch),
            meta={"last_batch_id": batch_id},
        )

    apply_once(0)
    v_after_first = vt.current_version()
    apply_once(0)  # replay of the same micro-batch
    assert vt.current_version() == v_after_first  # no second commit
    got = {r["key"]: r["n_changes"] for r in vt.read().collect()}
    assert got == {0: 3, 1: 2, 2: 1}  # exact, not doubled
    assert vt.meta() == {"last_batch_id": 0}


def test_cdc_apply_replay_race_applies_batch_once(spark, tmp_path):
    """A competing writer commits micro-batch 0 after the sink has
    checked for a replay but before its commit claim. The claim
    fails, the retry re-pins the competitor's version, finds batch 0
    applied and commits nothing: every key ends at n_changes 1, not
    2. (A replay check made once, before the merge, applies the
    batch twice.)"""
    from metadata_wrangler_spark.streaming import cdc_apply

    src = tmp_path / "changes"
    src.mkdir()
    spark.createDataFrame(
        [(1, 1, "U", 100), (2, 2, "U", 200)], cdc_apply.CHANGES_SCHEMA
    ).coalesce(1).write.parquet(str(src / "b0.parquet"))
    path = str(tmp_path / "cdc_state")
    table = VersionedParquetTable(spark, path)
    table.init(cdc_apply.empty_state(spark))

    competitor = VersionedParquetTable(spark, path)
    claim = table.try_commit
    raced = []

    def racing_claim(base_version, post_state, meta=None):
        if not raced:
            raced.append(base_version)
            feed = spark.read.schema(cdc_apply.CHANGES_SCHEMA).parquet(
                str(src / "b0.parquet")
            )
            assert competitor.merge(
                lambda cur, _meta: cdc_apply.apply_changes(cur, feed),
                meta={"last_batch_id": 0},
            ) == base_version + 1
        return claim(base_version, post_state, meta=meta)

    table.try_commit = racing_claim
    cdc_apply.run_cdc_stream(
        spark, str(src) + "/*", table, str(tmp_path / "cp")
    )
    assert raced == [0]
    assert table.current_version() == 1  # the competitor's commit only
    got = {r["key"]: r["n_changes"] for r in table.read().collect()}
    assert got == {1: 1, 2: 1}
    assert table.meta() == {"last_batch_id": 0}


# -- the drain: new files in checkpointed batches, no StreamingQuery -------


def _changes_file(path, changes, mtime=None):
    """One CDC change file written with pyarrow (no Spark job)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    key, version, op, qv = zip(*changes)
    pq.write_table(pa.table({
        "key": pa.array(key, pa.int64()),
        "version": pa.array(version, pa.int64()),
        "op": pa.array(op, pa.string()),
        "qv": pa.array(qv, pa.int64()),
    }), str(path))
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _recorder():
    """A drain handler that records (batch_id, file names) per call."""
    import os

    calls = []

    def handle(batch, batch_id):
        calls.append(
            (batch_id, sorted(os.path.basename(p) for p in batch.inputFiles()))
        )

    return calls, handle


def _sweep_changes(spark, source, checkpoint_dir, handle, **kw):
    from metadata_wrangler_spark.streaming import _sweep, cdc_apply

    _sweep.drain(
        spark, source, cdc_apply.CHANGES_SCHEMA, checkpoint_dir, handle, **kw
    )


def test_drain_reruns_an_unmarked_batch_with_its_files_and_id(spark, tmp_path):
    """A batch that was planned but never got its commit marker (its
    handler raised, or the process died after the state commit) is
    re-run first on the next sweep, with the same id and the same
    files; files that arrived since follow under the next id. Through
    run_cdc_stream the re-run finds its id in the manifest and
    commits nothing, so n_changes stays exact."""
    import pytest

    from metadata_wrangler_spark.streaming import cdc_apply

    src = tmp_path / "src"
    src.mkdir()
    _changes_file(src / "a.parquet", [(1, 1, "U", 100), (2, 2, "U", 200)])
    cp = str(tmp_path / "cp")

    def crash(_batch, _batch_id):
        raise RuntimeError("handler crashed")

    with pytest.raises(RuntimeError, match="handler crashed"):
        _sweep_changes(spark, str(src), cp, crash)
    _changes_file(src / "b.parquet", [(1, 3, "U", 300)])
    calls, record = _recorder()
    _sweep_changes(spark, str(src), cp, record)
    assert calls == [(0, ["a.parquet"]), (1, ["b.parquet"])]

    # the CDC sink: batch 0's state commit lands, then the sweep dies
    # before its commit marker
    feed = tmp_path / "feed"
    feed.mkdir()
    shutil.copy(src / "a.parquet", feed / "a.parquet")
    table = VersionedParquetTable(spark, str(tmp_path / "cdc_state"))
    table.init(cdc_apply.empty_state(spark))
    claim = table.try_commit

    def commit_then_die(base_version, post_state, meta=None):
        assert claim(base_version, post_state, meta=meta)
        table.try_commit = claim
        raise RuntimeError("died after the state commit")

    table.try_commit = commit_then_die
    cdc_cp = str(tmp_path / "cdc_cp")
    with pytest.raises(RuntimeError, match="died after the state commit"):
        cdc_apply.run_cdc_stream(spark, str(feed), table, cdc_cp)
    shutil.copy(src / "b.parquet", feed / "b.parquet")
    cdc_apply.run_cdc_stream(spark, str(feed), table, cdc_cp)
    assert table.current_version() == 2  # init, batch 0, batch 1
    assert table.meta() == {"last_batch_id": 1}
    got = {r["key"]: (r["n_changes"], r["last_version"])
           for r in table.read().collect()}
    assert got == {1: (2, 3), 2: (1, 2)}  # not doubled


def test_drain_with_nothing_new_fires_no_job_and_writes_nothing(
    spark, tmp_path
):
    """A sweep that finds no new file runs no Spark job (counted by
    job group) and changes no file or directory under the source,
    the checkpoint or the table."""
    import os

    from metadata_wrangler_spark.streaming import cdc_apply

    src = tmp_path / "src"
    src.mkdir()
    _changes_file(src / "a.parquet", [(1, 1, "U", 100)])
    table = VersionedParquetTable(spark, str(tmp_path / "state"))
    table.init(cdc_apply.empty_state(spark))
    cp = str(tmp_path / "cp")
    sc = spark.sparkContext

    def jobs_of(group):
        sc.setJobGroup(group, group)
        try:
            cdc_apply.run_cdc_stream(spark, str(src), table, cp)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc._jsc.clearJobGroup()

    def tree():
        out = {}
        for dirpath, _dirs, files in os.walk(tmp_path):
            for p in [dirpath, *(os.path.join(dirpath, f) for f in files)]:
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    assert jobs_of("test-drain-first") != []  # the count sees jobs
    before = tree()
    assert jobs_of("test-drain-idle") == []
    assert tree() == before


def test_idle_view_maintenance_rerun_fires_no_job(spark, tmp_path):
    """events_schema reads ``ts``'s type from a parquet footer with
    pyarrow, so a view-maintenance sweep that finds no new file runs
    no Spark job (counted by job group)."""
    from metadata_wrangler_spark.operators.matview import (
        MaterializedDailyRollup,
    )
    from metadata_wrangler_spark.streaming import view_maintenance

    src = tmp_path / "events_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-000.parquet")
    view = str(tmp_path / "mv")
    MaterializedDailyRollup(spark, view).init(
        load(spark, SF_DIR, "events").where(F.lit(False))
    )
    sc = spark.sparkContext

    def jobs_of(group):
        sc.setJobGroup(group, group)
        try:
            view_maintenance.run_view_maintenance_stream(
                spark, str(src), view, str(tmp_path / "cp")
            )
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc._jsc.clearJobGroup()

    assert jobs_of("test-view-first") != []  # the count sees jobs
    assert jobs_of("test-view-idle") == []


def test_events_schema_matches_spark_for_each_timestamp_layout(
    spark, tmp_path
):
    """The footer-derived DDL equals what Spark's own reader infers,
    for micros with and without isAdjustedToUTC, nanos (BIGINT under
    nanosAsLong, so the stream converts it) and legacy INT96."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.types import StructType

    layouts = {
        "micros_utc": (pa.timestamp("us", tz="UTC"), {}, False),
        "micros_ntz": (pa.timestamp("us"), {}, False),
        "nanos": (pa.timestamp("ns"), {"version": "2.6"}, True),
        "int96": (
            pa.timestamp("ns"), {"use_deprecated_int96_timestamps": True},
            False,
        ),
    }
    for name, (ts_type, opts, nanos) in layouts.items():
        src = tmp_path / name
        src.mkdir()
        f = str(src / "part-000.parquet")
        pq.write_table(pa.table({
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([1_700_000_000_123_456_000], pa.int64())
            .cast(pa.timestamp("ns")).cast(ts_type),
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["view"]),
            "value": pa.array([1.5]),
        }), f, **opts)
        ddl, needs_nanos = incremental.events_schema(spark, str(src))
        want = spark.read.parquet(f).dtypes
        got = [(c.name, c.dataType.simpleString())
               for c in StructType.fromDDL(ddl)]
        assert (name, got, needs_nanos) == (name, want, nanos)


def test_drain_skips_hidden_names_and_takes_a_glob(spark, tmp_path):
    """Names starting with ``_`` or ``.`` are never read (a Spark
    write's ``_SUCCESS`` and ``.crc`` files, a ``_staging`` directory,
    a dot file), whether the source is a glob of batch directories or
    their parent directory."""
    import glob
    import os

    from metadata_wrangler_spark.streaming import cdc_apply

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 1, "U", 100)], cdc_apply.CHANGES_SCHEMA
    ).coalesce(1).write.parquet(str(src / "b0.parquet"))
    names = set(os.listdir(src / "b0.parquet"))
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    (part,) = [os.path.basename(p)
               for p in glob.glob(str(src / "b0.parquet" / "part-*"))]
    (src / "_staging").mkdir()
    _changes_file(src / "_staging" / "x.parquet", [(2, 2, "U", 200)])
    _changes_file(src / ".inflight.parquet", [(3, 3, "U", 300)])

    for i, source in enumerate((str(src) + "/*", str(src))):
        calls, record = _recorder()
        _sweep_changes(spark, source, str(tmp_path / f"cp{i}"), record)
        assert calls == [(0, [part])], source


def test_drain_max_files_takes_oldest_first_then_path(spark, tmp_path):
    """With ``max_files=1`` each file is its own batch, taken oldest
    first by modification time and, at equal times, by path — the
    order of Spark's file source."""
    src = tmp_path / "src"
    src.mkdir()
    _changes_file(src / "c.parquet", [(1, 1, "U", 1)], mtime=1_700_000_100)
    _changes_file(src / "a.parquet", [(1, 2, "U", 2)], mtime=1_700_000_300)
    _changes_file(src / "b.parquet", [(1, 3, "U", 3)], mtime=1_700_000_100)
    calls, record = _recorder()
    _sweep_changes(spark, str(src), str(tmp_path / "cp"), record, max_files=1)
    assert calls == [(0, ["b.parquet"]), (1, ["c.parquet"]),
                     (2, ["a.parquet"])]


def test_two_sweeps_claiming_one_batch_id_one_fails(
    spark, tmp_path, monkeypatch
):
    """Two sweeps over one checkpoint that plan the same batch id: the
    write-ahead claim lets one win; the other raises CommitConflict
    before its handler runs."""
    import pytest

    from metadata_wrangler_spark.operators.merge import CommitConflict
    from metadata_wrangler_spark.streaming import _sweep

    src = tmp_path / "src"
    src.mkdir()
    _changes_file(src / "a.parquet", [(1, 1, "U", 100)])
    cp = str(tmp_path / "cp")
    claim = _sweep._claim_json
    rival_calls, rival = _recorder()
    raced = []

    def racing_claim(path, body):
        if not raced:  # the rival sweep plans and runs batch 0 first
            raced.append(path)
            _sweep_changes(spark, str(src), cp, rival)
        return claim(path, body)

    monkeypatch.setattr(_sweep, "_claim_json", racing_claim)
    calls, record = _recorder()
    with pytest.raises(CommitConflict, match="batch 0 was planned"):
        _sweep_changes(spark, str(src), cp, record)
    assert rival_calls == [(0, ["a.parquet"])]
    assert calls == []


def test_drain_refuses_a_structured_streaming_checkpoint(spark, tmp_path):
    """A checkpoint a Structured Streaming query wrote (it has
    ``offsets/``) is refused: the sweep cannot read that query's
    progress, and re-applying its files would double n_changes."""
    import pytest

    from metadata_wrangler_spark.streaming import cdc_apply

    src = tmp_path / "src"
    src.mkdir()
    _changes_file(src / "a.parquet", [(1, 1, "U", 100)])
    table = VersionedParquetTable(spark, str(tmp_path / "state"))
    table.init(cdc_apply.empty_state(spark))
    cp = str(tmp_path / "cp")

    def handle(batch, batch_id):
        table.merge(lambda cur, _meta: cdc_apply.apply_changes(cur, batch),
                    meta={"last_batch_id": batch_id})

    (
        spark.readStream.schema(cdc_apply.CHANGES_SCHEMA).parquet(str(src))
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert (tmp_path / "cp" / "offsets").is_dir()
    with pytest.raises(ValueError, match="Structured Streaming checkpoint"):
        cdc_apply.run_cdc_stream(spark, str(src), table, cp)
    assert table.current_version() == 1
    assert [r["n_changes"] for r in table.read().collect()] == [1]


def test_drain_reads_a_bounded_number_of_checkpoint_entries(
    spark, tmp_path, monkeypatch
):
    """Every COMPACT_INTERVAL-th write-ahead entry carries the files
    seen before it and retires the older entries, as Spark's
    file-source log compacts: after 23 batches a sweep opens at most
    COMPACT_INTERVAL entries, and no swept file is handed out again."""
    import builtins
    import os

    from metadata_wrangler_spark.streaming import _sweep

    src = tmp_path / "src"
    src.mkdir()
    for i in range(23):
        _changes_file(src / f"f{i:02d}.parquet", [(i, i, "U", i)],
                      mtime=1_700_000_000 + i)
    cp = tmp_path / "cp"
    calls, record = _recorder()
    _sweep_changes(spark, str(src), str(cp), record, max_files=1)
    assert [c[0] for c in calls] == list(range(23))
    assert sorted(os.listdir(cp / "batches")) == [
        "20.done", "20.json", "21.done", "21.json", "22.done", "22.json",
    ]

    opened = []

    def counting_open(path, *args, **kw):
        opened.append(path)
        return builtins.open(path, *args, **kw)

    monkeypatch.setattr(_sweep, "open", counting_open, raising=False)
    _changes_file(src / "f23.parquet", [(23, 23, "U", 23)],
                  mtime=1_700_000_023)
    calls, record = _recorder()
    _sweep_changes(spark, str(src), str(cp), record)
    assert calls == [(23, ["f23.parquet"])]
    reads = [p for p in opened if str(p).endswith(".json")]
    assert 0 < len(reads) <= _sweep.COMPACT_INTERVAL


def test_no_foreach_batch_sink_starts_a_streaming_query(
    spark, tmp_path, monkeypatch
):
    """The four foreach-batch feeds run on ``_sweep.drain``: the
    package never calls ``foreachBatch(``, and each drain completes
    with ``DataStreamWriter.start``/``toTable`` made to raise."""
    import pathlib
    import re

    import metadata_wrangler_spark
    from pyspark.sql.streaming import DataStreamWriter

    from metadata_wrangler_spark.operators.matview import (
        MaterializedDailyRollup,
    )
    from metadata_wrangler_spark.session import local_frame
    from metadata_wrangler_spark.streaming import (
        admission,
        cdc_apply,
        view_maintenance,
    )

    pkg = pathlib.Path(metadata_wrangler_spark.__file__).parent
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        for m in re.finditer(r"foreachBatch\(", text):
            line = text.count("\n", 0, m.start()) + 1
            hits.append(f"{path.relative_to(pkg.parent)}:{line}")
    assert hits == [], f"foreachBatch( in the package (use _sweep.drain): {hits}"

    def refuse(*_args, **_kw):
        raise AssertionError("a drain started a StreamingQuery")

    monkeypatch.setattr(DataStreamWriter, "start", refuse)
    monkeypatch.setattr(DataStreamWriter, "toTable", refuse)

    changes = tmp_path / "changes"
    changes.mkdir()
    _changes_file(changes / "a.parquet", [(1, 1, "U", 100)])
    cdc = VersionedParquetTable(spark, str(tmp_path / "cdc"))
    cdc.init(cdc_apply.empty_state(spark))
    cdc_apply.run_cdc_stream(spark, str(changes), cdc, str(tmp_path / "cp1"))
    assert cdc.current_version() == 1

    items = str(tmp_path / "items")
    spark.createDataFrame([(4,)], queue_drain.ITEMS_SCHEMA).write.parquet(items)
    records = VersionedParquetTable(spark, str(tmp_path / "queue"))
    records.init(local_frame(
        spark, [], "identifier_id bigint, data_source string, operation string,"
        " status string, ts timestamp, exception string"))
    queue_drain.run_drain_stream(spark, items, records, str(tmp_path / "cp2"))
    assert [r["status"] for r in records.read().collect()] == [queue.SUCCESS]

    docs = tmp_path / "docs"
    docs.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", docs / "drop-001.parquet")
    corpus = admission.run_admission_stream(
        spark, str(docs), str(tmp_path / "corpus"), str(tmp_path / "cp3")
    )
    assert corpus.count() > 0

    events = tmp_path / "events"
    events.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", events / "part-000.parquet")
    view = str(tmp_path / "mv")
    MaterializedDailyRollup(spark, view).init(
        load(spark, SF_DIR, "events").where(F.lit(False))
    )
    rollup = view_maintenance.run_view_maintenance_stream(
        spark, str(events), view, str(tmp_path / "cp4")
    )
    assert rollup.count() > 0
