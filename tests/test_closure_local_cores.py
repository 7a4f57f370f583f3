"""Fuzz the numpy cores of the closure local tiers against per-edge
reference implementations — no Spark session needed, so hundreds of
random graphs run in seconds.

The local tiers (operators/closure.py) must be ROW-IDENTICAL to the
distributed loops; tests/test_closure.py pins the cross-tier
equivalence on a handful of graphs, this file pins the array cores
themselves on randomized ones: chains (worst case for label
propagation), self-loops, duplicate and NULL edges, off-graph seeds,
zero-level walks, empty edge sets, and ids spread too sparsely for
the walk's dense-index path (so it factorizes).
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa

from metadata_wrangler_spark.operators.closure import (
    _edge_arrays,
    _min_label_arrays,
    _min_plus_arrays,
)


def _sparse_ids(rng, ids):
    """A random injection of ``ids`` into ±2^40: the id span then
    exceeds the walk's dense-index bound max(4m, 1M)."""
    out: dict[int, int] = {}
    taken = set()
    for i in sorted(set(ids)):
        while (x := rng.randint(-(2**40), 2**40)) in taken:
            pass
        taken.add(x)
        out[i] = x
    return out


def _walk(edges, sources, hops, codes=None):
    """``_min_plus_arrays`` over edge tuples as a {node: code} dict;
    every code 1 (BFS levels) unless ``codes`` is given."""
    u = np.array([e[0] for e in edges], np.int64)
    v = np.array([e[1] for e in edges], np.int64)
    w = np.ones_like(u) if codes is None else np.array(codes, np.int64)
    nodes, out = _min_plus_arrays(u, v, w, sources, hops)
    return dict(zip(nodes.tolist(), out.tolist()))


def _components(edges):
    a = np.array([u for u, _ in edges], np.int64)
    b = np.array([v for _, v in edges], np.int64)
    nodes, comp = _min_label_arrays(a, b)
    return dict(zip(nodes.tolist(), comp.tolist()))


def _ref_bfs(edges, seeds, levels):
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    level_of = {s: 0 for s in set(seeds)}
    frontier = list(level_of)
    for lvl in range(1, levels + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in level_of:
                    level_of[v] = lvl
                    nxt.append(v)
        if not nxt:
            break
        frontier = nxt
    return level_of


def _ref_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp: dict[int, list[int]] = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def test_bfs_core_fuzz():
    """BFS levels are the min-plus walk with every edge code 1, on
    dense ids and on the same graphs with sparse ids."""
    rng = random.Random(3)
    for trial in range(300):
        m = rng.randint(0, 80)
        edges = list(
            {(rng.randint(0, 50), rng.randint(0, 50)) for _ in range(m)}
        )
        seeds = [rng.randint(0, 60) for _ in range(rng.randint(1, 4))]
        levels = rng.randint(0, 8)
        assert _walk(edges, seeds, levels) == _ref_bfs(
            edges, seeds, levels
        ), trial
        ids = _sparse_ids(rng, [x for e in edges for x in e] + seeds)
        sp_edges = [(ids[u], ids[v]) for u, v in edges]
        sp_seeds = [ids[x] for x in seeds]
        assert _walk(sp_edges, sp_seeds, levels) == _ref_bfs(
            sp_edges, sp_seeds, levels
        ), trial


def test_bfs_core_nulls_dups_empty():
    tbl = pa.table(
        {
            "_src": pa.array([1, 1, None, 2], pa.int64()),
            "_dst": pa.array([2, 2, 3, None], pa.int64()),
        }
    )
    s, d = _edge_arrays(tbl)
    assert s.dtype == d.dtype == np.int64
    nodes, level = _min_plus_arrays(s, d, np.ones_like(s), [1, 99], 6)
    assert dict(zip(nodes.tolist(), level.tolist())) == {1: 0, 2: 1, 99: 0}
    empty = pa.table({"_src": pa.array([], pa.int64()),
                      "_dst": pa.array([], pa.int64())})
    s, d = _edge_arrays(empty)
    nodes, level = _min_plus_arrays(s, d, np.ones_like(s), [7], 6)
    assert dict(zip(nodes.tolist(), level.tolist())) == {7: 0}


def test_components_core_fuzz():
    rng = random.Random(7)
    for trial in range(200):
        n = rng.randint(1, 40)
        m = rng.randint(0, 60)
        edges = [
            (rng.randint(0, 10**6), rng.randint(0, 10**6))
            for _ in range(m)
        ]
        base = rng.randint(0, 100)
        edges += [(base + i, base + i + 1) for i in range(n)]  # chain
        sym = edges + [(v, u) for u, v in edges]
        nodes = {u for e in sym for u in e}
        assert _components(sym) == _ref_components(sym, nodes), trial


def test_components_long_chain_converges_fast():
    # 10^4-node chain: O(log diameter) outer rounds, sub-second.
    chain = [(i, i + 1) for i in range(10_000)]
    sym = chain + [(v, u) for u, v in chain]
    assert set(_components(sym).values()) == {0}


def test_components_core_fuzz_directed_input():
    """The tier probe ships RAW DIRECTED edges since round 8 (the
    core symmetrizes internally — union-find is direction-blind):
    the directed spelling must produce the identical component map
    as the pre-symmetrized one, including directed chains whose min
    label sits at the SINK (reachable only against edge direction)."""
    rng = random.Random(11)
    for trial in range(200):
        n = rng.randint(1, 40)
        m = rng.randint(0, 60)
        edges = [
            (rng.randint(0, 10**6), rng.randint(0, 10**6))
            for _ in range(m)
        ]
        base = rng.randint(0, 100)
        # directed chain pointing DOWN toward base: min label is the
        # sink, so a direction-sensitive relaxation would stall.
        edges += [(base + i + 1, base + i) for i in range(n)]
        nodes = {u for e in edges for u in e}
        assert _components(edges) == _ref_components(edges, nodes), trial


def _ref_min_plus(edges, sources, hops):
    """Per-edge reference: min packed code over walks of <= hops
    edges from any source; sources get a zero-walk code-0 row."""
    best = {s: 0 for s in set(sources)}
    cur = dict(best)
    for _ in range(hops):
        nxt = dict(cur)
        for u, v, c in edges:
            if u in cur and cur[u] + c < nxt.get(v, float("inf")):
                nxt[v] = cur[u] + c
        if nxt == cur:
            break
        cur = nxt
    for k, v in cur.items():
        if v < best.get(k, float("inf")):
            best[k] = v
    return best


def test_min_plus_core_fuzz():
    """Packed codes, on dense ids and on the same graphs with sparse
    ids."""
    rng = random.Random(11)
    for trial in range(300):
        m = rng.randint(0, 80)
        edges = list(
            {
                (rng.randint(0, 40), rng.randint(0, 40),
                 1000 * rng.randint(1, 97) + 1)
                for _ in range(m)
            }
        )
        sources = [rng.randint(0, 50) for _ in range(rng.randint(1, 3))]
        hops = rng.choice([2, 4, 6, 8])
        codes = [e[2] for e in edges]
        assert _walk(edges, sources, hops, codes) == _ref_min_plus(
            edges, sources, hops
        ), trial
        ids = _sparse_ids(rng, [x for e in edges for x in e[:2]] + sources)
        sp_edges = [(ids[u], ids[v], c) for u, v, c in edges]
        sp_sources = [ids[x] for x in sources]
        assert _walk(sp_edges, sp_sources, hops, codes) == _ref_min_plus(
            sp_edges, sp_sources, hops
        ), trial


def test_min_plus_core_nulls_dups_empty():
    tbl = pa.table(
        {
            "u": pa.array([1, 1, None, 2, 2], pa.int64()),
            "v": pa.array([2, 2, 3, None, 4], pa.int64()),
            "code": pa.array([1001, 1001, 2001, 3001, None], pa.int64()),
        }
    )
    u, v, code = _edge_arrays(tbl)
    nodes, out = _min_plus_arrays(u, v, code, [1], 6)
    assert dict(zip(nodes.tolist(), out.tolist())) == {1: 0, 2: 1001}
    empty = pa.table({c: pa.array([], pa.int64()) for c in ("u", "v", "code")})
    u, v, code = _edge_arrays(empty)
    nodes, out = _min_plus_arrays(u, v, code, [7], 6)
    assert dict(zip(nodes.tolist(), out.tolist())) == {7: 0}
    nodes, out = _min_plus_arrays(u, v, code, [], 6)
    assert len(nodes) == len(out) == 0
