"""Exact-row tests for the closure operators on hand-built graphs:
cycles, the strength threshold edge, the level bound, min-level
semantics, and connected components."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators import closure
from metadata_wrangler_spark.operators.closure import (
    connected_components,
    equivalent_ids,
)
from tests.conftest import rows


def _edges(spark, triples):
    return spark.createDataFrame(
        triples, "src bigint, dst bigint, strength double"
    )


def _seeds(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node bigint")


def test_simple_chain_levels(spark):
    e = _edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)])
    out = equivalent_ids(e, _seeds(spark, [1]), levels=6, threshold=0.0)
    assert rows(out) == [(1, 0), (2, 1), (3, 2), (4, 3)]


def test_level_bound_stops_walk(spark):
    e = _edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)])
    out = equivalent_ids(e, _seeds(spark, [1]), levels=2, threshold=0.0)
    assert rows(out) == [(1, 0), (2, 1), (3, 2)]


def test_cycle_terminates_min_level(spark):
    e = _edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)])
    out = equivalent_ids(e, _seeds(spark, [1]), levels=6, threshold=0.0)
    assert rows(out) == [(1, 0), (2, 1), (3, 2)]


def test_threshold_exactly_at_cutoff_not_followed(spark):
    # reference follows only strength > threshold
    # (`oclc/linked_data.py:822-830`: <= 0.7 is cut)
    e = _edges(spark, [(1, 2, 0.7), (1, 3, 0.71)])
    out = equivalent_ids(e, _seeds(spark, [1]), levels=6, threshold=0.7)
    assert rows(out) == [(1, 0), (3, 1)]


def test_min_level_on_diamond(spark):
    # 1->2->4 and 1->4 directly: node 4 must report level 1
    e = _edges(spark, [(1, 2, 1.0), (2, 4, 1.0), (1, 4, 1.0)])
    out = equivalent_ids(e, _seeds(spark, [1]), levels=6, threshold=0.0)
    assert rows(out) == [(1, 0), (2, 1), (4, 1)]


def test_multiple_seeds(spark):
    e = _edges(spark, [(1, 2, 1.0), (10, 11, 1.0)])
    out = equivalent_ids(e, _seeds(spark, [1, 10]), levels=6, threshold=0.0)
    assert rows(out) == [(1, 0), (2, 1), (10, 0), (11, 1)]


def test_connected_components_two_islands(spark):
    e = _edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (10, 11, 1.0)])
    out = connected_components(e)
    assert rows(out) == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]


def test_connected_components_cycle_and_chain(spark):
    e = _edges(spark, [(5, 6, 1.0), (6, 7, 1.0), (7, 5, 1.0), (8, 7, 1.0)])
    out = connected_components(e)
    assert rows(out) == [(5, 5), (6, 5), (7, 5), (8, 5)]


def test_connected_components_long_path_converges_logarithmically(
    spark, monkeypatch
):
    # Adversarial diameter: a 4096-node chain. Plain min-label
    # propagation moves the label one hop per round, so a 30-round
    # cap could never converge (it would need ~4095 rounds). With
    # pointer jumping enabled after round 5 the remaining label
    # distance halves per round, so convergence inside the cap
    # proves the O(log diameter) path is active.
    n = 4096
    e = _edges(spark, [(i, i + 1, 1.0) for i in range(n - 1)])
    monkeypatch.setattr(closure, "LOCAL_SOLVE_MAX_EDGES", 0)
    monkeypatch.setattr(closure, "COMPONENTS_MAX_ROUNDS", 30)
    monkeypatch.setattr(closure, "POINTER_JUMP_AFTER", 5)
    out = connected_components(e)
    got = rows(out)
    assert len(got) == n
    assert all(component == 0 for _, component in got)


def test_connected_components_raises_past_its_round_cap(spark, monkeypatch):
    # A 64-node chain needs ~63 rounds of plain propagation; with
    # pointer jumping held off, a 4-round cap cannot reach the
    # fixpoint, and the loop must say so instead of returning
    # non-fixpoint labels.
    e = _edges(spark, [(i, i + 1, 1.0) for i in range(63)])
    monkeypatch.setattr(closure, "LOCAL_SOLVE_MAX_EDGES", 0)
    monkeypatch.setattr(closure, "COMPONENTS_MAX_ROUNDS", 4)
    monkeypatch.setattr(closure, "POINTER_JUMP_AFTER", 100)
    with pytest.raises(RuntimeError, match=r"closure_cc: no fixpoint after 4"):
        connected_components(e)


def test_local_and_distributed_tiers_agree(spark, monkeypatch):
    # The adaptive small-graph tier (driver-local BFS / union-find)
    # must be row-identical to the distributed loop on the same input.
    e = _edges(
        spark,
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (4, 5, 0.5),
         (5, 6, 1.0), (7, 8, 0.9), (2, 7, 0.2), (9, 9, 1.0)],
    )
    seeds = _seeds(spark, [1, 9])
    local_eq = equivalent_ids(e, seeds, levels=4, threshold=0.3)
    local_cc = connected_components(e)
    monkeypatch.setattr(closure, "LOCAL_SOLVE_MAX_EDGES", 0)
    dist_eq = equivalent_ids(e, seeds, levels=4, threshold=0.3)
    assert rows(local_eq) == rows(dist_eq)

    dist_cc = connected_components(e)
    assert rows(local_cc) == rows(dist_cc)


def test_closure_fuzz_matches_brute_force(spark):
    """Hypothesis fuzz: on random small graphs, the distributed BFS
    closure must equal a driver-side brute-force BFS — min level per
    reached node, strength threshold, level bound — and
    connected_components must equal union-find."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from metadata_wrangler_spark.operators.closure import (
        connected_components,
        equivalent_ids,
    )

    edge_st = st.lists(
        st.tuples(
            st.integers(0, 12), st.integers(0, 12),
            st.sampled_from([0.5, 0.8, 1.0]),
        ),
        min_size=0, max_size=25,
    )

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(edges=edge_st, seed_mod=st.integers(2, 5))
    def check(edges, seed_mod):
        seeds = sorted({a for a, _, _ in edges if a % seed_mod == 0})
        edf = spark.createDataFrame(
            edges or [(0, 0, 0.0)],
            "src long, dst long, strength double",
        )
        sdf = spark.createDataFrame(
            [(s,) for s in seeds] or [(-1,)], "node long"
        )
        got = {
            (r["node"], r["level"])
            for r in equivalent_ids(
                edf, sdf, levels=4, threshold=0.7
            ).collect()
        }
        # brute force BFS with min-level semantics
        adj = {}
        for a, b, w in edges:
            if w > 0.7:
                adj.setdefault(a, set()).add(b)
        exp, frontier = {}, {s: 0 for s in (seeds or [-1])}
        for s in frontier:
            exp[s] = 0
        for lvl in range(1, 5):
            nxt = set()
            for n in frontier:
                nxt |= adj.get(n, set())
            frontier = {n: lvl for n in nxt if n not in exp}
            for n in frontier:
                exp[n] = lvl
            if not frontier:
                break
        assert got == set(exp.items())

        # connected components vs union-find over strong edges
        strong = [(a, b) for a, b, w in edges if w > 0.7]
        nodes = {n for e in strong for n in e}
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in strong:
            parent[find(a)] = find(b)
        exp_cc = {}
        for n in nodes:
            exp_cc.setdefault(find(n), set()).add(n)
        exp_pairs = {
            (n, min(group)) for group in exp_cc.values() for n in group
        }
        if strong:
            ccdf = spark.createDataFrame(strong, "src long, dst long")
            got_cc = {
                (r["node"], r["component"])
                for r in connected_components(ccdf).collect()
            }
            assert got_cc == exp_pairs

    check()


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "u bigint, v bigint, code bigint")


def test_shortest_path_tiers_agree(spark, monkeypatch):
    """bounded_shortest_paths: the numpy Bellman-Ford local tier and
    the min-plus doubling distributed tier must be row-identical —
    including the zero-walk source row, cycles that cannot undercut
    it, multi-source minima, and a source with no out-edges."""
    from metadata_wrangler_spark.operators.closure import (
        bounded_shortest_paths,
    )

    e = _wedges(
        spark,
        [
            (1, 2, 5001), (2, 3, 1001), (3, 1, 2001), (1, 3, 9001),
            (3, 4, 1001), (4, 5, 1001), (5, 6, 1001), (6, 7, 1001),
            (7, 8, 1001),  # 8 is 6 hops from 1 via the 1->3 shortcut
            (8, 10, 1001),  # 10 needs 7 edges from 1: outside the bound
            (9, 9, 1001),
        ],
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 13)], "node bigint"
    )
    for srcs in ([1], [1, 9], [12]):
        sources = spark.createDataFrame([(s,) for s in srcs], "node bigint")
        local = bounded_shortest_paths(e, nodes, sources, hops=6)
        with monkeypatch.context() as m:
            m.setattr(closure, "LOCAL_SOLVE_MAX_EDGES", 0)
            dist = bounded_shortest_paths(e, nodes, sources, hops=6)
        assert rows(local) == rows(dist), srcs
    # hop bound honored in both tiers: node 8 needs 7 edges
    got = {
        r["node"]
        for r in bounded_shortest_paths(
            e, nodes, _seeds(spark, [1]), hops=6
        ).collect()
    }
    assert 10 not in got and 8 in got
    monkeypatch.setattr(closure, "LOCAL_SOLVE_MAX_EDGES", 0)
    got_d = {
        r["node"]
        for r in bounded_shortest_paths(
            e, nodes, _seeds(spark, [1]), hops=6
        ).collect()
    }
    assert got == got_d


def test_shortest_path_tiers_agree_on_random_graphs(spark, monkeypatch):
    """Seeded random graphs through BOTH tiers — cycles, parallel
    edges with different codes, unreachable islands, multi-source:
    the local numpy core and the distributed doubling must stay
    row-identical everywhere, not just on the hand graph above."""
    import random

    from metadata_wrangler_spark.operators.closure import (
        bounded_shortest_paths,
    )

    rng = random.Random(29)
    for trial in range(4):
        n = rng.randint(5, 24)
        m = rng.randint(0, 60)
        triples = [
            (
                rng.randint(0, n - 1),
                rng.randint(0, n - 1),
                1000 * rng.randint(1, 97) + 1,
            )
            for _ in range(m)
        ]
        e = _wedges(spark, triples)
        nodes = spark.createDataFrame(
            [(i,) for i in range(n)], "node bigint"
        )
        srcs = rng.sample(range(n), rng.randint(1, 2))
        sources = spark.createDataFrame(
            [(s,) for s in srcs], "node bigint"
        )
        hops = rng.choice([2, 4, 6])
        local = bounded_shortest_paths(e, nodes, sources, hops=hops)
        with monkeypatch.context() as m:
            m.setattr(closure, "LOCAL_SOLVE_MAX_EDGES", 0)
            dist = bounded_shortest_paths(e, nodes, sources, hops=hops)
        assert rows(local) == rows(dist), (trial, srcs, hops)


def test_fixpoint_logs_name_round_and_probe_value(spark, monkeypatch, caplog):
    """Each round of a ported loop logs its name, round and probe
    value, and the caller's job description survives the loop."""
    import logging

    from metadata_wrangler_spark.operators import lineage

    e = _edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)])
    monkeypatch.setattr(closure, "LOCAL_SOLVE_MAX_EDGES", 0)
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        with caplog.at_level(logging.INFO, logger=lineage.__name__):
            out = equivalent_ids(e, _seeds(spark, [1]), levels=2)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert rows(out) == [(1, 0), (2, 1), (3, 2)]
    assert [
        r.getMessage() for r in caplog.records if r.name == lineage.__name__
    ] == [
        "pin closure_ids edges: 3",
        "pin closure_ids round 0: 1",
        "pin closure_ids round 1: 1",
        "pin closure_ids round 2: 1",
        "closure_ids: stopped at its cap of 2 rounds",
    ]


def test_seeds_past_the_local_cap_take_the_distributed_tier(
    spark, monkeypatch, caplog
):
    """Both local tiers fetch their distinct seeds through
    ``fetch_at_most`` with the local tier's cap. Edges within the cap
    but more distinct seeds than it: the seed fetch logs ``over`` and
    the distributed tier answers, with the local tier's rows."""
    import logging

    from metadata_wrangler_spark.operators import driver_fetch
    from metadata_wrangler_spark.operators.closure import (
        bounded_shortest_paths,
    )

    # 3 edges; 5 distinct non-NULL seeds (a duplicate and a NULL too)
    e = _edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)])
    seeds = _seeds(spark, [1, 1, None, 5, 6, 7, 8])
    we = _wedges(spark, [(1, 2, 1001), (2, 3, 1001), (3, 4, 1001)])
    nodes = _seeds(spark, range(1, 9))
    local_eq = rows(equivalent_ids(e, seeds, levels=3))
    assert local_eq == [(1, 0), (2, 1), (3, 2), (4, 3),
                        (5, 0), (6, 0), (7, 0), (8, 0)]
    local_sp = rows(bounded_shortest_paths(we, nodes, seeds, hops=4))

    monkeypatch.setattr(closure, "LOCAL_SOLVE_MAX_EDGES", 4)
    with caplog.at_level(logging.INFO, logger=driver_fetch.__name__):
        assert rows(equivalent_ids(e, seeds, levels=3)) == local_eq
        assert rows(
            bounded_shortest_paths(we, nodes, seeds, hops=4)
        ) == local_sp
    assert [
        r.getMessage() for r in caplog.records
        if r.name == driver_fetch.__name__
    ] == [
        "driver fetch closure_ids_edges: cap=4 seen=3 -> within",
        "driver fetch closure_ids_seeds: cap=4 seen=5 -> over",
        "driver fetch closure_sp_edges: cap=4 seen=3 -> within",
        "driver fetch closure_sp_sources: cap=4 seen=5 -> over",
    ]
