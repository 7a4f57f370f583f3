"""Physical-plan shape assertions — the scale contract, checked
mechanically: filters reach the parquet scan, dimension joins
broadcast, aggregates have a map-side partial phase, anti/semi joins
stay joins, and no plan smuggles in a cartesian product or any
Python node that operators/arrow_stage.py did not build.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as mod
    return mod.queries()


def test_filters_push_down_to_scan(spark, queries):
    plan = explain_str(queries["p_projection_filter"](spark, SF))
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1].split("]")[0]
    # column pruning: the scan must not read all 16 lineitem columns
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_comment" not in read_schema


def test_dimension_joins_broadcast(spark, queries):
    plan = explain_str(queries["j_dim_3way_broadcast"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_anti_and_semi_joins_stay_joins(spark, queries):
    anti = explain_str(queries["j_anti_join_queue"](spark, SF))
    assert "LeftAnti" in anti
    semi = explain_str(queries["j_semi_join"](spark, SF))
    assert "LeftSemi" in semi


def test_aggregate_has_partial_phase(spark, queries):
    plan = explain_str(queries["a_pricing_summary"](spark, SF))
    # partial + final hash aggregation (map-side combine)
    assert plan.count("HashAggregate") >= 2


def test_topk_window_is_partitioned(spark, queries):
    plan = explain_str(queries["w_topk_per_group"](spark, SF))
    assert "SinglePartition" not in plan


def test_keyset_page_pushes_cursor_and_takes_ordered(spark, queries):
    plan = explain_str(queries["w_keyset_pagination"](spark, SF))
    assert "GreaterThan(o_orderkey,400)" in plan.replace(" ", "") or \
        "o_orderkey" in plan.split("PushedFilters")[1].split("]")[0]
    assert "TakeOrderedAndProject" in plan


def test_no_cartesian_products_anywhere(spark, queries):
    # bounded broadcast nested-loop joins (count subquery, cosine
    # pair scoring against a broadcast query set) are fine; a true
    # CartesianProduct is never acceptable
    for name, fn in queries.items():
        plan = explain_str(fn(spark, SF))
        assert "CartesianProduct" not in plan, name


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_python_eval_outside_declared_arrow_stages(spark, queries):
    """Every Python node in every plan is a registered Arrow stage:
    its function name is in arrow_stage.STAGES, and no plan has a
    row-at-a-time or pandas UDF eval at all."""
    from metadata_wrangler_spark.operators.arrow_stage import (
        python_plan_violations,
    )

    bad = {}
    for name, fn in queries.items():
        hits = python_plan_violations(_executed_plan(fn(spark, SF)))
        if hits:
            bad[name] = hits
    assert not bad, bad


def test_python_stage_audit_flags_unregistered_stages(spark):
    """The audit's negative case: a raw mapInPandas that bypasses the
    primitive, and a row-at-a-time UDF, are flagged; the same kernel
    built through arrow_stage is not."""
    from metadata_wrangler_spark.operators.arrow_stage import (
        arrow_stage,
        python_plan_violations,
    )

    def passthrough(batches):
        yield from batches

    raw = spark.range(3).mapInPandas(passthrough, "id long")
    assert python_plan_violations(_executed_plan(raw)) == [
        "MapInPandas passthrough"
    ]
    grouped = spark.range(3).groupBy("id").applyInPandas(
        lambda pdf: pdf, "id long"
    )
    assert python_plan_violations(_executed_plan(grouped)) == [
        "FlatMapGroupsInPandas <lambda>"
    ]
    row_udf = spark.range(3).select(F.udf(lambda x: x, "long")("id"))
    assert [
        h.split()[0] for h in python_plan_violations(_executed_plan(row_udf))
    ] == ["BatchEvalPython"]
    staged = arrow_stage(
        spark.range(3), "plan_audit_probe_stage", "id long", passthrough,
        fold=True,
    )
    assert python_plan_violations(_executed_plan(staged)) == []


def test_decontaminate_broadcasts_eval_side(spark, queries):
    # benchmark suites are MBs against a 100 TB training corpus: the
    # collision join must broadcast the eval side, never sort-merge
    # (which would shuffle the full training n-gram table)
    plan = explain_str(queries["dd_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_watermark_pushes_to_scan(spark, queries):
    # the watermark must reach parquet as a raw-column predicate
    # (row-group skipping); a filter only on the derived timestamp
    # cannot be evaluated by scan statistics
    for name in ("ev_incremental_updates", "pipe_updates_feed"):
        plan = explain_str(queries[name](spark, SF))
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
        assert any("GreaterThan(ts," in l for l in pushed), name


def test_recursive_cte_uses_native_union_loop(spark, queries):
    # g_transitive_closure_rcte must be planned by Catalyst's
    # recursive-CTE machinery (UnionLoop), not silently rewritten to
    # a one-shot union — the whole point of the twin is native
    # recursive SQL support alongside the checkpointed library BFS.
    plan = explain_str(queries["g_transitive_closure_rcte"](spark, SF))
    assert "UnionLoop" in plan


def _single_partition_windows(df):
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from plan_audit import single_partition_windows

    return single_partition_windows(
        df._jdf.queryExecution().executedPlan().toString()
    )


def test_abc_pareto_has_no_single_partition_window(spark, queries):
    """The Pareto cumulative share must come from the distributed
    prefix sum, never a flat global window. (The plan legitimately
    contains one Exchange SinglePartition for the 1-row grand-total
    scalar — same as every scalar aggregate — so the assert targets
    windows via the chain-walking detector in tools/plan_audit.py.)"""
    assert not _single_partition_windows(
        queries["a_abc_pareto"](spark, SF)
    )


def test_concurrency_sweep_offsets_need_no_nested_loop_join(spark, queries):
    """ev_concurrency_sweep's hour offsets come from the bucket-offsets
    aggregate, not a `h_b < h_a` self-join (a BroadcastNestedLoopJoin
    over hours × hours)."""
    plan = _executed_plan(queries["ev_concurrency_sweep"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_single_partition_window_detector_fires_on_flat_window(spark):
    """POSITIVE control: the detector must FLAG a known-bad plan.
    The round-4 detector's failure mode was a vacuous pass (its
    same-line string match could never fire), so a sweep that only
    asserts no-hits proves nothing if node-name parsing drifts with
    a Spark upgrade. A flat row_number() over Window.orderBy is the
    canonical offender — unexecuted, it plans straight to
    `Window <- Exchange SinglePartition`."""
    from pyspark.sql import Window as W

    df = spark.range(0, 100).select(
        "id", F.row_number().over(W.orderBy("id")).alias("rn")
    )
    hits = _single_partition_windows(df)
    assert hits, "detector missed the canonical flat-window plan"
    assert any("Window" in h for h in hits)


def test_single_partition_window_detector_fires_through_aqe_wrappers(spark):
    """POSITIVE control #2: after execution, AQE materializes the
    chain as Window <- AQEShuffleRead <- ShuffleQueryStage <-
    Exchange SinglePartition — 'SinglePartition' is NOT on the first
    exchange-ish line. The walker must pass through the AQE wrappers
    to the underlying Exchange (round-5 advice: the old walk broke
    at the wrapper and missed the hit)."""
    from pyspark.sql import Window as W

    df = spark.range(0, 100).select(
        "id", F.row_number().over(W.orderBy("id")).alias("rn")
    )
    df.count()  # force AQE to materialize the shuffle stages
    plan = df._jdf.queryExecution().executedPlan().toString()
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from plan_audit import single_partition_windows

    assert single_partition_windows(plan), (
        "detector missed the AQE-materialized single-partition window:\n"
        + plan[:2000]
    )


def test_no_unbounded_single_partition_window_anywhere(spark, queries):
    """EVERY registered query plans without a Window fed by an
    unbounded Exchange SinglePartition — the stage that serializes
    the whole input through one task at 100 TB. Planning-only sweep
    (nothing executes). The two serving-layer twins whose window
    input is bounded by contract, not by a planner-visible limit,
    are pinned by name (tools/plan_audit.py documents each bound);
    anything new that global-windows raw rows fails here the day it
    lands — the round-4 audit's same-line string match could never
    fire, and three real offenders (a_percentile_disc,
    ev_time_to_convert, txt_quality_deciles) hid under it until
    round 5 rewrote them on operators/prefix.py."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from plan_audit import SINGLE_PARTITION_BOUNDED

    offenders = {}
    for name, fn in queries.items():
        if name in SINGLE_PARTITION_BOUNDED:
            continue
        hits = _single_partition_windows(fn(spark, SF))
        if hits:
            offenders[name] = hits
    assert not offenders, f"unbounded global windows: {offenders}"


def test_contamination_and_overlap_broadcast_small_sides(spark, queries):
    """The eval shingle set (contamination) and per-source totals
    (overlap matrix) must never shuffle the training corpus at full
    width: the contamination kernel tier is one scan + MapInPandas
    (no join, no exchange before the final project), its kept join
    tier rides a broadcast, and the overlap matrix broadcasts its
    per-source totals."""
    from metadata_wrangler_spark.plans.documents import _contamination_frac

    plan = explain_str(queries["txt_contamination_frac"](spark, SF))
    assert "MapInPandas" in plan and "Join" not in plan
    assert "Exchange" not in plan
    plan = explain_str(_contamination_frac(spark, SF, arrow_kernel=False))
    assert "BroadcastHashJoin" in plan
    plan = explain_str(queries["dd_source_overlap"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2


def test_decay_halflife_is_single_pass(spark, queries):
    """The decayed score is one scan + one partial-combine hash
    aggregate: no join, no window, no exchange other than the final
    per-user combine."""
    plan = explain_str(queries["ev_decay_halflife"](spark, SF))
    assert "Join" not in plan and "Window" not in plan
    # exactly one shuffle key: the per-user combine
    keys = {
        line.split("hashpartitioning(")[1].split(",")[0]
        for line in plan.splitlines()
        if "hashpartitioning(" in line
    }
    assert len(keys) == 1 and next(iter(keys)).startswith("user_id")


def test_shortest_path_doubling_shape(spark, monkeypatch):
    """The DISTRIBUTED tier of bounded_shortest_paths (min-plus
    doubling — the past-budget path; round 9 routes small graphs
    through the numpy local tier, so force the distributed tier
    here) — the frontier extensions must be broadcast joins (the
    frontier side is small by problem structure), the
    per-composition min must have a map-side partial phase, and the
    plan must not exceed the 3 hash exchanges of the documented
    design (one per min aggregate)."""
    from metadata_wrangler_spark.operators import closure
    from metadata_wrangler_spark.operators.closure import (
        bounded_shortest_paths,
    )
    from metadata_wrangler_spark.plans.graph import build_edges

    edges = build_edges(spark, SF)
    one_hop = edges.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        (1000 * (1 + (F.col("src") * 3 + F.col("dst")) % 97) + 1)
        .alias("code"),
    )
    from metadata_wrangler_spark.catalog import load

    nodes = load(spark, SF, "customer").select(
        F.col("c_custkey").alias("node")
    )
    sources = nodes.where(F.col("node") == 1)
    monkeypatch.setattr(closure, "LOCAL_SOLVE_MAX_EDGES", 0)
    plan = explain_str(
        bounded_shortest_paths(one_hop, nodes, sources, hops=6)
    )
    assert plan.count("BroadcastHashJoin") >= 2  # two extensions
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_basket_memo_is_reused_and_cached(spark):
    """g_bipartite_project and a_assoc_rules must read the SAME
    persisted basket/pair intermediates (InMemoryTableScan in both
    plans; a rebuild of the intermediates resolves to the same cached
    data through Spark's CacheManager)."""
    from metadata_wrangler_spark.plans import graph as G

    d1 = G.g_bipartite_project(spark, SF)
    d2 = G.a_assoc_rules(spark, SF)
    p1, p2 = explain_str(d1), explain_str(d2)
    assert "InMemoryTableScan" in p1
    assert "InMemoryTableScan" in p2
    cache = spark._jsparkSession.sharedState().cacheManager()
    for a, b in zip(G._basket_and_pairs(spark, SF),
                    G._basket_and_pairs(spark, SF)):
        hit_a = cache.lookupCachedData(a._jdf)
        hit_b = cache.lookupCachedData(b._jdf)
        assert hit_a.isDefined() and hit_b.isDefined()
        assert hit_a.get().equals(hit_b.get())  # one cache entry


def test_idf_rarity_has_no_pair_dedup_exchange(spark, queries):
    """txt_idf_rarity (round-10 continuation rewrite): the per-doc
    distinct happens within the row (array_distinct before the
    explode), so the plan must NOT contain a (doc_id, w)-keyed
    dedup aggregate — the only hashpartitioning keys allowed are
    the term (df aggregate/join) and the per-doc combine."""
    plan = explain_str(queries["txt_idf_rarity"](spark, SF))
    keys = {
        line.split("hashpartitioning(")[1].split(",")[0].split("#")[0]
        for line in plan.splitlines()
        if "hashpartitioning(" in line
    }
    assert keys <= {"w", "doc_id"}, keys
    # the old spelling's global dedup was a 2-key partial aggregate;
    # per-row distinct leaves no (doc_id, w) exchange
    assert "hashpartitioning(doc_id#" not in plan.replace(" ", "") or all(
        "w#" not in line.split("hashpartitioning(")[1].split(")")[0]
        for line in plan.splitlines()
        if "hashpartitioning(doc_id" in line
    )


def test_bm25_has_no_token_width_exchange(spark, queries):
    """txt_bm25_search (round-10 continuation rewrite): tf completes
    within the document row, so no exchange in the plan may be
    keyed on a token/term column that would carry exploded-token
    cardinality; the widest allowed shuffle keys are per-document
    (doc_id) and per-term-row (term — 3 rows per doc max)."""
    plan = explain_str(queries["txt_bm25_search"](spark, SF))
    keys = {
        line.split("hashpartitioning(")[1].split(",")[0].split("#")[0]
        for line in plan.splitlines()
        if "hashpartitioning(" in line
    }
    assert keys <= {"doc_id", "term"}, keys
    # the old spelling exploded all tokens then hash-aggregated on
    # (doc_id, term); the rewrite explodes a 3-element literal
    # struct array only — the full-token explode is gone
    assert plan.count("Generate explode") <= 2


def test_ngram_novelty_has_no_join_back(spark, queries):
    """txt_ngram_novelty (round-10 continuation rewrite): the
    credit-assignment spelling joins two PER-DOC-sized aggregate
    outputs; the 50M-row shingle table itself must never be a join
    input (the old spelling re-joined every shingle row to its own
    aggregate). Detect: every SortMergeJoin/ShuffledHashJoin/
    BroadcastHashJoin in the plan sits ABOVE two aggregates — i.e.
    the join keys are the doc id, never the shingle string."""
    plan = explain_str(queries["txt_ngram_novelty"](spark, SF))
    join_key_lines = [
        line
        for line in plan.splitlines()
        if "hashpartitioning(" in line or "Join" in line
    ]
    assert not any(
        "s#" in line.split("hashpartitioning(")[1].split(",")[0]
        for line in join_key_lines
        if "hashpartitioning(" in line and "Join" in line
    )
    keys = {
        line.split("hashpartitioning(")[1].split(",")[0].split("#")[0]
        for line in plan.splitlines()
        if "hashpartitioning(" in line
    }
    # shingle key appears once (the first-occurrence aggregate),
    # id for the counter aggregates/join — nothing else
    assert keys <= {"s", "id"}, keys


def test_queue_lifecycle_builds_lazily_without_checkpoint(spark, queries):
    """d_queue_lifecycle is one lazy plan: building it fires no job
    (under AQE even localCheckpoint(eager=False) runs its upstream
    shuffle stages when called) and no checkpoint scan is left in the
    executed plan."""
    # A table's first catalog.load infers its parquet schema with a
    # job; the loaded frame is cached, so a first build warms it.
    queries["d_queue_lifecycle"](spark, SF)
    sc = spark.sparkContext
    group = "test-d_queue_lifecycle-build"
    sc.setJobGroup(group, "d_queue_lifecycle build")
    try:
        df = queries["d_queue_lifecycle"](spark, SF)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()
    assert "ExistingRDD" not in _executed_plan(df)


def test_column_building_sends_no_call_site(spark, monkeypatch):
    """session.py pins spark.python.sql.dataFrameDebugging.enabled off,
    so building a Column sends no PySparkCurrentOrigin set/clear."""
    import py4j.clientserver

    sent = []
    real = py4j.clientserver.ClientServerConnection.send_command

    def spy(self, command):
        sent.append(command)
        return real(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", spy
    )
    (F.col("a") + F.lit(1)).alias("b")
    assert sent
    assert not [c for c in sent if "PySparkCurrentOrigin" in c]


def test_call_site_pin_keeps_ansi_errors_loud(spark):
    """The debugging pin drops only the Python call site from error
    context: an ANSI check still raises with its error class."""
    from pyspark.errors import ArithmeticException

    with pytest.raises(ArithmeticException) as exc:
        spark.range(1).select(F.lit(1) / F.lit(0)).collect()
    assert exc.value.getCondition() == "DIVIDE_BY_ZERO"


@pytest.mark.parametrize("name", [
    "a_percentile_disc", "a_mad_robust", "a_gini_coefficient",
    "a_weighted_median", "g_degree_distribution", "ev_time_to_convert",
    "ev_gap_percentiles",
])
def test_driver_built_results_plan_no_python_rdd(spark, queries, name):
    """The queries that finish on the driver hand their rows back
    through session.local_frame: a JVM LocalRelation, never a
    LogicalRDD over a Python RDD, which would run a Python-worker
    stage at execution that python_plan_violations cannot see."""
    analyzed = queries[name](spark, SF)._jdf.queryExecution().analyzed()
    assert "LogicalRDD" not in analyzed.toString()
