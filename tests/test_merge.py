"""Merge-policy tests: null-never-overwrites, get_one_or_create,
entity merge + FK repoint, delete/update post-states, and the
VersionedParquetTable commit protocol."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_wrangler_spark.operators import merge
from tests.conftest import rows


def _editions(spark):
    return spark.createDataFrame(
        [(1, "Title One", "pub-a"), (2, None, "pub-b"), (3, "Title Three", "pub-c")],
        "key bigint, title string, publisher string",
    )


def test_policy_merge_null_never_overwrites(spark):
    current = _editions(spark)
    staged = spark.createDataFrame(
        [(1, None, "pub-x"),          # NULL title must NOT clobber
         (2, "Recovered Title", "pub-x"),
         (4, "Brand New", "pub-x")],  # new key inserts
        "key bigint, title string, publisher string",
    )
    out = merge.policy_merge(current, staged, ["key"], ["title"])
    assert rows(out) == [
        (1, "Title One", "pub-a"),
        (2, "Recovered Title", "pub-b"),
        (3, "Title Three", "pub-c"),
        (4, "Brand New", "pub-x"),
    ]


def test_policy_merge_insert_missing_false_skips_new_keys(spark):
    current = _editions(spark)
    staged = spark.createDataFrame(
        [(4, "Brand New", "pub-x")],
        "key bigint, title string, publisher string",
    )
    out = merge.policy_merge(current, staged, ["key"], ["title"],
                             insert_missing=False)
    assert len(rows(out)) == 3


def test_get_one_or_create_existing_rows_win(spark):
    current = _editions(spark)
    incoming = spark.createDataFrame(
        [(1, "SHOULD NOT REPLACE", "pub-z"), (9, "Created", "pub-z")],
        "key bigint, title string, publisher string",
    )
    out = merge.get_one_or_create(current, incoming, ["key"])
    got = {r["key"]: r["title"] for r in out.collect()}
    assert got[1] == "Title One"
    assert got[9] == "Created"
    assert len(got) == 4


def test_merge_entities_min_id_canonical_null_excluded(spark):
    ents = spark.createDataFrame(
        [(10, "v1"), (20, "v1"), (30, "v2"), (40, None), (50, None)],
        "id bigint, viaf string",
    )
    out = merge.merge_entities(ents, ["viaf"], "id")
    assert rows(out) == [
        (10, 10), (20, 10), (30, 30), (40, 40), (50, 50),
    ]


def test_repoint_fks_rewrites_through_mapping(spark):
    mapping = spark.createDataFrame(
        [(20, 10), (10, 10), (30, 30)], "old_id bigint, canonical_id bigint"
    )
    refs = spark.createDataFrame(
        [(100, 20), (101, 10), (102, 30), (103, 99)],
        "row_id bigint, contributor_id bigint",
    )
    out = merge.repoint_fks(refs, mapping, "contributor_id")
    got = {r["row_id"]: r["contributor_id"] for r in out.collect()}
    # unmapped FK (99) passes through untouched
    assert got == {100: 10, 101: 10, 102: 30, 103: 99}


def test_delete_and_update_where(spark):
    df = _editions(spark)
    deleted = merge.delete_where(df, F.col("key") == 2)
    assert {r["key"] for r in deleted.collect()} == {1, 3}
    updated = merge.update_where(
        df, F.col("key") == 1, {"publisher": F.lit("pub-new")}
    )
    got = {r["key"]: r["publisher"] for r in updated.collect()}
    assert got == {1: "pub-new", 2: "pub-b", 3: "pub-c"}


def test_versioned_table_policy_merge_roundtrip(spark, tmp_path):
    path = str(tmp_path / "editions")
    table = merge.VersionedParquetTable(spark, path)
    table.init(_editions(spark))
    staged = spark.createDataFrame(
        [(2, "Recovered Title", "pub-x")],
        "key bigint, title string, publisher string",
    )
    table.merge(
        lambda cur, _meta: merge.policy_merge(cur, staged, ["key"], ["title"])
    )
    got = {r["key"]: r["title"] for r in table.read().collect()}
    assert got == {1: "Title One", 2: "Recovered Title", 3: "Title Three"}


def test_versioned_table_interleaved_merges_serialize(spark, tmp_path):
    # Two writers race from the same base snapshot; the loser must
    # detect the conflict, re-read, and re-derive — so the final
    # table equals the SERIAL composition in commit order.
    t = merge.VersionedParquetTable(spark, str(tmp_path / "editions"))
    base = _editions(spark)
    t.init(base)

    staged_a = spark.createDataFrame(
        [(2, "Title From A", "pub-a2"), (4, "A New Row", "pub-a")],
        "key bigint, title string, publisher string",
    )
    staged_b = spark.createDataFrame(
        [(1, None, "ignored"), (2, "Title From B", "ignored"),
         (5, "B New Row", "pub-b")],
        "key bigint, title string, publisher string",
    )

    def merge_a(cur, _meta=None):
        return merge.policy_merge(cur, staged_a, ["key"], ["title"])

    def merge_b(cur, _meta=None):
        return merge.policy_merge(cur, staged_b, ["key"], ["title"])

    # Interleave by hand: both writers read version 0 and compute.
    post_a_on_v0 = merge_a(t.read(0))
    post_b_on_v0 = merge_b(t.read(0))
    # B wins the race for version 1; A's stale commit must fail.
    assert t.try_commit(0, post_b_on_v0) is True
    assert t.try_commit(0, post_a_on_v0) is False
    # A retries through the optimistic loop and lands on version 2.
    assert t.merge(merge_a) == 2

    serial = merge_a(merge_b(base))
    assert rows(t.read()) == rows(serial)
    # Aborted commit left only an unreferenced data dir; vacuum
    # removes it and the surviving snapshot still reads back intact.
    t.vacuum()
    assert rows(t.read()) == rows(serial)


def test_versioned_table_queue_transition_merge(spark, tmp_path):
    # D7 CoverageRecord-style transition committed transactionally:
    # registered -> success for a batch, concurrent with a second
    # batch registering new ids. Both commit; no update lost.
    t = merge.VersionedParquetTable(spark, str(tmp_path / "queue"))
    t.init(spark.createDataFrame(
        [(1, "registered"), (2, "registered"), (3, "success")],
        "id bigint, status string",
    ))

    def complete_batch(cur, _meta):
        return merge.update_where(
            cur, F.col("id").isin([1, 2]),
            {"status": F.lit("success")},
        )

    def register_new(cur, _meta):
        return merge.get_one_or_create(
            cur,
            cur.sparkSession.createDataFrame(
                [(4, "registered")], "id bigint, status string"
            ),
            ["id"],
        )

    v1 = t.merge(complete_batch)
    v2 = t.merge(register_new)
    assert (v1, v2) == (1, 2)
    assert rows(t.read()) == [
        (1, "success"), (2, "success"), (3, "success"), (4, "registered"),
    ]


def test_versioned_table_crashed_writer_leaves_no_partial_manifest(
    spark, tmp_path
):
    # A writer that dies between writing its snapshot and claiming
    # the manifest must leave NOTHING a reader can trip over: the
    # temp manifest is invisible to current_version/_manifest, and
    # vacuum (past the retention fence) clears both leftovers.
    t = merge.VersionedParquetTable(spark, str(tmp_path / "t"))
    t.init(_editions(spark))

    import os
    # Simulate the crash: orphaned data dir + orphaned .tmp manifest
    # (exactly what a death between parquet write and link() leaves).
    orphan_data = os.path.join(str(tmp_path / "t"), "data", "v1-deadbeef")
    os.makedirs(orphan_data)
    orphan_tmp = os.path.join(
        str(tmp_path / "t"), "_versions", "v1.json.deadbeef.tmp"
    )
    with open(orphan_tmp, "w") as f:
        f.write('{"version": 1')  # truncated on purpose

    # Readers are unaffected: the claimed version is still 0 and
    # reads back complete.
    assert t.current_version() == 0
    assert len(t.read().collect()) == 3

    # Inside the retention window the orphans are spared (they could
    # belong to an in-flight commit)…
    t.vacuum()
    assert os.path.isdir(orphan_data) and os.path.exists(orphan_tmp)
    # …past it they are garbage.
    t.vacuum(retention_seconds=0.0)
    assert not os.path.isdir(orphan_data)
    assert not os.path.exists(orphan_tmp)
    # And the next commit proceeds normally onto version 1.
    assert t.merge(lambda cur, _meta: cur) == 1


def test_versioned_table_vacuum_retires_old_versions_cleanly(
    spark, tmp_path
):
    # Superseded versions lose manifest AND data together: an old
    # read() raises a clean FileNotFoundError instead of a manifest
    # pointing at vanished parquet.
    t = merge.VersionedParquetTable(spark, str(tmp_path / "t"))
    t.init(_editions(spark))
    t.merge(lambda cur, _meta: cur.where(F.col("key") != 3))
    assert t.current_version() == 1

    t.vacuum()
    assert t.current_version() == 1
    assert len(t.read().collect()) == 2
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        t.read(0)


def test_compaction_preserves_content_and_reduces_files(spark, tmp_path):
    """compact() must be a pure physical rewrite: same rows, fewer
    files, new version; the pre-compaction version stays readable
    (time travel) until vacuum."""
    import glob
    import os

    from pyspark.sql import functions as F

    from metadata_wrangler_spark.operators.merge import VersionedParquetTable

    t = VersionedParquetTable(spark, str(tmp_path / "tbl"))
    t.init(spark.range(0, 100).select(F.col("id"), (F.col("id") % 7).alias("k")))
    # accrete small files: several merges, each written many-partition
    for i in range(3):
        t.merge(lambda df, _meta, i=i: df.unionByName(
            df.limit(10).select((F.col("id") + 1000 * (i + 1)).alias("id"), "k")
        ).repartition(16))
    before_version = t.current_version()
    before_rows = sorted(tuple(r) for r in t.read().collect())
    before_files = len(glob.glob(os.path.join(
        t._manifest(before_version)["data_dir"], "part-*.parquet")))
    assert before_files >= 16

    v = t.compact(target_files=4)
    assert v == before_version + 1
    after_files = len(glob.glob(os.path.join(
        t._manifest(v)["data_dir"], "part-*.parquet")))
    assert after_files <= 4
    assert sorted(tuple(r) for r in t.read().collect()) == before_rows
    # time travel to the pre-compaction version still works
    assert sorted(tuple(r) for r in t.read(before_version).collect()) == before_rows


def test_changes_feed_tracks_logical_diffs_only(spark, tmp_path):
    """changes(v1, v2) must show inserts/deletes with multiset
    semantics, an update as delete+insert, and NOTHING for a pure
    physical rewrite (compaction)."""
    from pyspark.sql import functions as F

    from metadata_wrangler_spark.operators.merge import VersionedParquetTable

    t = VersionedParquetTable(spark, str(tmp_path / "tbl"))
    t.init(spark.range(0, 10).select(F.col("id"), F.lit("a").alias("s")))
    # v1: delete ids >= 8, update id 0 -> 'b', insert id 100
    def fn(df, _meta):
        kept = df.where((F.col("id") < 8) & (F.col("id") != 0))
        upd = df.where(F.col("id") == 0).select("id", F.lit("b").alias("s"))
        new = spark.createDataFrame([(100, "a")], "id long, s string")
        return kept.unionByName(upd).unionByName(new)
    t.merge(fn)

    ch = t.changes(0, 1).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], []).append((r["id"], r["s"]))
    assert sorted(by_type["insert"]) == [(0, "b"), (100, "a")]
    assert sorted(by_type["delete"]) == [(0, "a"), (8, "a"), (9, "a")]

    v = t.compact(target_files=2)
    assert t.changes(1, v).count() == 0


def test_policy_merge_fuzz_invariants(spark):
    """Hypothesis fuzz of Metadata.apply's policy semantics: on
    random (current, staged) tables — overlapping keys, nulls
    everywhere — the post-state must satisfy, per key:
    staged non-null wins; staged null or absent row keeps current;
    brand-new keys insert staged as-is; no key duplicated or lost."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from metadata_wrangler_spark.operators import merge

    val = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
    rows = st.lists(
        st.tuples(st.integers(0, 6), val, val),
        min_size=0, max_size=8,
        unique_by=lambda r: r[0],
    )

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(cur=rows, stg=rows)
    def check(cur, stg):
        schema = "key long, title string, note string"
        current = spark.createDataFrame(cur or [(99, None, None)], schema)
        staged = spark.createDataFrame(stg or [(98, None, None)], schema)
        cur, stg = cur or [(99, None, None)], stg or [(98, None, None)]
        out = {
            r["key"]: (r["title"], r["note"])
            for r in merge.policy_merge(
                current, staged, ["key"], ["title", "note"]
            ).collect()
        }
        cur_d = {k: (t, n) for k, t, n in cur}
        stg_d = {k: (t, n) for k, t, n in stg}
        assert set(out) == set(cur_d) | set(stg_d)
        for k, (t, n) in out.items():
            for i, got in enumerate((t, n)):
                c = cur_d.get(k, (None, None))[i]
                s = stg_d.get(k, (None, None))[i]
                expected = s if s is not None else c
                assert got == expected, (k, i, got, c, s)

    check()


def test_write_audit_publish_gates_and_commits(spark, tmp_path):
    """WAP: an audited snapshot publishes; a snapshot that wipes the
    table is vetoed with no version consumed."""
    import pytest

    from metadata_wrangler_spark.operators.merge import (
        AuditReject,
        VersionedParquetTable,
        audit_no_nulls,
        audit_row_delta,
        write_audit_publish,
    )

    t = VersionedParquetTable(spark, str(tmp_path / "wap"))
    t.init(spark.range(100).withColumnRenamed("id", "k"))
    v0 = t.current_version()

    # good write: drops 10% — under the 50% veto line
    v1 = write_audit_publish(
        t,
        lambda cur: cur.where("k >= 10"),
        audits=[audit_row_delta(0.5), audit_no_nulls(("k",))],
    )
    assert v1 == v0 + 1 and t.read().count() == 90

    # bad write: wipes 95% of rows — audit vetoes, version unchanged
    with pytest.raises(AuditReject):
        write_audit_publish(
            t,
            lambda cur: cur.where("k >= 96"),
            audits=[audit_row_delta(0.5)],
        )
    assert t.current_version() == v1 and t.read().count() == 90

    # null audit vetoes a candidate that nulls a key column
    from pyspark.sql import functions as F

    with pytest.raises(AuditReject):
        write_audit_publish(
            t,
            lambda cur: cur.withColumn(
                "k", F.when(F.col("k") == 50, None).otherwise(F.col("k"))
            ),
            audits=[audit_no_nulls(("k",))],
        )
    assert t.current_version() == v1


def test_write_audit_publish_reaudits_after_rebase(spark, tmp_path):
    """The WAP pitfall the helper exists for: writer A's candidate
    passes its audit against v0, then loses the commit race to B;
    the retry must REBUILD and RE-AUDIT against B's snapshot — and a
    candidate that only became unsafe after the rebase is vetoed,
    never published."""
    import pytest

    from metadata_wrangler_spark.operators.merge import (
        AuditReject,
        VersionedParquetTable,
        audit_row_delta,
        write_audit_publish,
    )

    t = VersionedParquetTable(spark, str(tmp_path / "wap_race"))
    t.init(spark.range(100).withColumnRenamed("id", "k"))

    # B sneaks in first and shrinks the table to 60 rows.
    assert t.try_commit(0, t.read(0).where("k < 60")) is True

    # A's transform keeps k >= 25: against v0 that's 75/100 rows
    # (passes a 50% drop audit); against B's v1 it's 35/60 — a 42%
    # drop, still passing; tighten the audit to 30% so the SAME
    # candidate is safe on v0 but unsafe on v1. If the helper
    # audited only against the stale base, this would publish.
    audits = [audit_row_delta(0.3)]
    fn = lambda cur: cur.where("k >= 25")  # noqa: E731
    # sanity: on v0 the audit would have passed (25% drop)
    assert audits[0](t.read(0), fn(t.read(0)))
    with pytest.raises(AuditReject):
        write_audit_publish(t, fn, audits=audits)
    # nothing published beyond B's version
    assert t.current_version() == 1
    assert t.read().count() == 60


def test_merge_defaulted_capture_lambda_keeps_its_value(spark, tmp_path):
    """``merge`` calls ``fn(current, base_meta)`` positionally and
    nothing else: a value captured through a defaulted third parameter
    (``lambda df, meta, tag=tag: ...``) is never clobbered. Here the
    captured values deliberately DIFFER from the base versions."""
    from pyspark.sql import functions as F

    from metadata_wrangler_spark.operators.merge import VersionedParquetTable

    t = VersionedParquetTable(spark, str(tmp_path / "tbl"))
    t.init(spark.range(0, 1).select(F.lit(-1).alias("tag")))
    # base versions will be 0,1,2 — captured tags are 100,200,300
    for tag in (100, 200, 300):
        t.merge(lambda df, _meta, tag=tag: df.unionByName(
            spark.range(0, 1).select(F.lit(tag).alias("tag"))
        ), meta={"tag": tag})
    got = sorted(r["tag"] for r in t.read().collect())
    assert got == [-1, 100, 200, 300]

    # fn receives the pinned base's manifest meta
    seen = []
    def fn(df, meta):
        seen.append(meta)
        return df
    t.merge(fn)
    assert seen == [{"tag": 300}]


def test_merge_wrong_arity_fn_raises(spark, tmp_path):
    """One merge contract: an ``fn`` that cannot take
    ``(current, base_meta)`` fails loudly and commits nothing — no
    signature sniffing silently picks a calling convention."""
    import pytest

    from metadata_wrangler_spark.operators.merge import VersionedParquetTable

    t = VersionedParquetTable(spark, str(tmp_path / "tbl"))
    t.init(_editions(spark))
    with pytest.raises(TypeError):
        t.merge(lambda cur: cur)
    with pytest.raises(TypeError):
        t.merge(lambda cur, meta, extra: cur)
    assert t.current_version() == 0


def test_merge_skips_replayed_batch_id(spark, tmp_path):
    """A ``last_batch_id`` at or below the pinned base's commits
    nothing (merge returns None and never calls fn); a newer id
    commits and records itself."""
    from metadata_wrangler_spark.operators.merge import VersionedParquetTable

    t = VersionedParquetTable(spark, str(tmp_path / "tbl"))
    t.init(_editions(spark), meta={"last_batch_id": 4})
    calls = []

    def fn(cur, _meta):
        calls.append(1)
        return cur

    assert t.merge(fn, meta={"last_batch_id": 3}) is None
    assert t.merge(fn, meta={"last_batch_id": 4}) is None
    assert calls == [] and t.current_version() == 0
    assert t.merge(fn, meta={"last_batch_id": 5}) == 1
    assert t.meta() == {"last_batch_id": 5}
