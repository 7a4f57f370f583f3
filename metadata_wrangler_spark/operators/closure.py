"""Bounded weighted transitive closure over an identifier-equivalency
edge table — the reference's one genuinely non-relational algorithm.

Reference semantics being re-expressed (see SURVEY.md §2.3 J4):
  * `Identifier.recursively_equivalent_identifier_ids(levels, threshold)`
    — `/root/reference/scripts.py:493-496` (levels=6, threshold=0),
    `/root/reference/oclc/linked_data.py:958-962`.
  * per-edge strength cutoff while walking —
    `/root/reference/oclc/linked_data.py:820-830` (`strength <= 0.7`
    edges are not followed).

Spark design — adaptive two-tier, one walk core plus one gate:

  * **Distributed tier** (the 100 TB path): breadth-first frontier
    expansion with one equi-join per level (closure) / min-label
    propagation with pointer-jump acceleration (components) /
    min-plus doubling (shortest paths). The visited set is
    accumulated and each new frontier is anti-joined against it, so
    a node is expanded exactly once (min-level semantics,
    cycle-safe). Each level is one ``lineage.fixpoint`` round.
  * **Local tier**: one gate, ``_local_tier``, for all three
    operators: below ``LOCAL_SOLVE_MAX_EDGES`` raw edges it solves
    in-process on the driver (see the gate for the economics). Two
    numpy cores stand behind it: ``_min_plus_arrays``, the one
    bounded min-plus walk — BFS levels are that walk with every edge
    code 1, shortest paths pass packed codes — and
    ``_min_label_arrays``, min-label components (a different
    semiring). Both tiers produce identical rows; tests assert the
    equivalence.

Scale notes:
  * The frontier is usually far smaller than the edge table, which is
    materialized once and reused by every level.
  * Closure level count is bounded (default 6, per the reference), so
    the total work is ≤ levels × one join — no fixpoint risk.
  * For whole-graph consolidation (Work clustering) use
    ``connected_components``, the same loop run to fixpoint on
    min-id label propagation.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators.driver_fetch import fetch_at_most
from metadata_wrangler_spark.operators.lineage import (
    fixpoint,
    materialize,
    row_count,
)
from metadata_wrangler_spark.session import local_frame

# Above this many RAW (pre-dedup) edges the driver-local tier is
# skipped and the distributed loop runs (read at call time; the
# economics are at ``_local_tier``). It counts the return trip:
# solve + result ``local_frame`` + one downstream aggregate, local
# vs distributed tier, medians of 3 on random parquet graphs (ids
# in [0, m/2)), 4 cores, at 1M / 2M / 4M edges: equivalent_ids
# (15k seeds) 2.2/6.5, 3.5/9.5, 5.4/14.9 s; connected_components
# 2.9/32, 5.9/64, 13.5/113 s. The local tier wins at the cap; 4x10^6
# (src,dst) longs ≈ 64 MB of driver heap. Past it the probe
# early-stops into the distributed path (driver_fetch logs the
# count it saw).
LOCAL_SOLVE_MAX_EDGES = 4_000_000

# connected_components' round cap, and the round after which it turns
# on pointer jumping (see its docstring).
COMPONENTS_MAX_ROUNDS = 50
POINTER_JUMP_AFTER = 10


def _local_tier(
    edges: DataFrame,
    name: str,
    solve,
    schema: str,
    seeds: DataFrame | None = None,
    seeds_name: str | None = None,
    edge_count_hint: int | None = None,
) -> DataFrame | None:
    """The local tier of every closure operator: ``solve`` on the
    driver as a ``local_frame`` of ``schema``, or None when the
    distributed tier must answer.

    ``solve(*columns[, seed_vals])`` gets ``edges``' columns as int64
    numpy arrays, NULL rows dropped in Arrow, and with ``seeds`` the
    distinct non-NULL seed ids; it returns a dict of result columns.

    Economics: iterative jobs cost ~0.3-0.5 s each in scheduling
    alone, so the distributed tiers pay rounds × that floor
    REGARDLESS of size (6 levels ≈ 5-8 s on an idle local[32]; the
    shortest-path doubling a flat 5.2 s at sf10 where the oracle ran
    0.46 s), while the local tier is one Arrow transfer plus a numpy
    pass (~1-2 s per 10^7 edges) — the same trick every production
    graph system uses (a recursive-CTE engine IS the local tier).

    The probe runs BEFORE any shuffle: a bare scan + CollectLimit
    (``fetch_at_most``, named ``name``) early-stops once the budget
    is exceeded, and moves rows over Arrow ~2x faster than
    row-pickling collect. It therefore bounds RAW edges, not deduped
    ones — a graph whose duplicates push it over the line takes the
    distributed tier, which is merely conservative — and the local
    tier skips the dedup shuffle entirely. With ``edge_count_hint``
    (a known edge-row count) the decision is free and the admit path
    is a fully parallel ``toArrow``: the probe's CollectLimit
    funnels every row through one partition, which measured 2.3 s of
    the 5.6 s sf10 wall on a 3M-edge graph the parallel fetch moves
    in 0.3 s warm. A hint that undercounts raises ``ValueError``
    once the fetch returns more than ``LOCAL_SOLVE_MAX_EDGES`` rows.
    The seeds are fetched under the same cap (named ``seeds_name``);
    past it the distributed tier joins them instead."""
    if edge_count_hint is None:
        tbl = fetch_at_most(edges, LOCAL_SOLVE_MAX_EDGES, name)
    elif edge_count_hint <= LOCAL_SOLVE_MAX_EDGES:
        tbl = edges.toArrow()
        if tbl.num_rows > LOCAL_SOLVE_MAX_EDGES:
            raise ValueError(f"edge_count_hint={edge_count_hint} undercounts"
                             f" {tbl.num_rows} edges")
    else:
        tbl = None
    if tbl is None:
        return None
    args = _edge_arrays(tbl)
    if seeds is not None:
        seed_vals = _seed_values(seeds, seeds_name)
        if seed_vals is None:
            return None
        args.append(seed_vals)
    return local_frame(edges.sparkSession, solve(*args), schema)


def _edge_arrays(tbl) -> list:
    """``tbl``'s columns as int64 numpy arrays, rows holding a NULL
    dropped — straight from Arrow, no pandas frame in between."""
    return [
        c.to_numpy().astype(np.int64, copy=False)
        for c in tbl.drop_null().columns
    ]


def _seed_values(seeds: DataFrame, name: str):
    """The distinct non-NULL ids in ``seeds``' first column as an
    int64 array, or None past ``LOCAL_SOLVE_MAX_EDGES``."""
    distinct = (
        seeds.select(F.col(seeds.columns[0]).cast("bigint").alias("node"))
        .where(F.col("node").isNotNull())
        .dropDuplicates()
    )
    tbl = fetch_at_most(distinct, LOCAL_SOLVE_MAX_EDGES, name)
    return None if tbl is None else tbl.column("node").to_numpy()


def equivalent_ids(
    edges: DataFrame,
    seeds: DataFrame,
    levels: int = 6,
    threshold: float = 0.0,
    src: str = "src",
    dst: str = "dst",
    strength: str = "strength",
) -> DataFrame:
    """All nodes reachable from ``seeds`` in ≤ ``levels`` hops using
    edges with ``strength`` > ``threshold``.

    Parameters
    ----------
    edges : DataFrame with columns (src, dst, strength)
    seeds : DataFrame whose first column holds seed node ids
    Returns DataFrame(node BIGINT, level INT) — min hop distance.
    """
    seed_col = seeds.columns[0]
    filtered = edges.where(F.col(strength) > F.lit(threshold)).select(
        F.col(src).cast("bigint").alias("_src"),
        F.col(dst).cast("bigint").alias("_dst"),
    )

    def levels_walk(s, d, seed_vals):
        # BFS levels are the min-plus walk with every edge code 1.
        nodes, level = _min_plus_arrays(s, d, np.ones_like(s), seed_vals,
                                        levels)
        return {"node": nodes, "level": level}

    local = _local_tier(filtered, "closure_ids_edges", levels_walk,
                        "node bigint, level int", seeds, "closure_ids_seeds")
    if local is not None:
        return local
    # Distributed tier: materialize the deduped edge set ONCE. Every
    # level joins against it; without the pin each level re-runs the
    # upstream scan + filter + dedup (at 100 TB: levels × full-table
    # reads instead of one).
    with materialize(filtered.dropDuplicates(), "closure_ids edges") as (
        usable, _
    ):

        def expand(lvl, frontiers):
            # The visited set is a lazy union of the pinned frontiers —
            # one materialization per level (the frontier's), instead
            # of separately pinning the union.
            frontier = frontiers[-1]
            return (
                frontier.join(usable, frontier.node == usable._src)
                .select(F.col("_dst").alias("node"))
                .dropDuplicates()
                .join(_union(frontiers).select("node"), "node", "left_anti")
                .withColumn("level", F.lit(lvl))
            )

        # Each level's row count both materializes its frontier and
        # is the emptiness probe; the frontiers are the result data.
        frontiers = fixpoint(
            "closure_ids",
            seeds.select(
                F.col(seed_col).cast("bigint").alias("node"),
                F.lit(0).alias("level"),
            ).where(F.col("node").isNotNull()).dropDuplicates(["node"]),
            expand,
            cap=levels,
            probe=row_count,
            stop=lambda n, _: n == 0,
            keep=True,
        )
    return _union(frontiers)


def _union(frames: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, frames)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Connected components by min-id label propagation (the Work
    consolidation variant of the closure: every identifier cluster
    gets one canonical label).

    Returns DataFrame(node BIGINT, component BIGINT).

    Large-graph variant of the same loop as ``equivalent_ids`` — runs
    to fixpoint instead of a level bound; each round is one join +
    one aggregate. Plain propagation converges in O(diameter) rounds
    (the min label travels one hop per round), which is optimal for
    the shallow clusters real identifier graphs produce — a
    pointer-jump acceleration measured 12 -> 7 rounds on an
    11-diameter test graph but its extra label self-join cost more
    than the saved rounds. It is NOT optimal for
    adversarial long-path graphs (a 10^4-node chain would need 10^4
    rounds), so after ``POINTER_JUMP_AFTER`` rounds the loop turns on
    pointer jumping — each node also adopts the label of its label —
    which halves the remaining label distance per round and converges
    in O(log diameter) additional rounds. Shallow graphs never pay
    for the self-join; deep graphs finish ~10 + log2(diameter)
    rounds instead of diameter. Small graphs (``LOCAL_SOLVE_MAX_EDGES``)
    are solved driver-local by ``_min_label_arrays`` — identical
    rows, none of the per-round scheduling cost.
    Labels that still change after ``COMPONENTS_MAX_ROUNDS`` rounds
    raise instead of returning a non-fixpoint.
    """
    directed = edges.select(
        F.col(src).cast("bigint").alias("a"),
        F.col(dst).cast("bigint").alias("b"),
    )
    # The budget counts RAW DIRECTED rows: the local core is
    # direction-blind, so only the distributed tier symmetrizes
    # below, where it pays the dedup+checkpoint it needs anyway.
    local = _local_tier(
        directed, "closure_cc_edges",
        lambda a, b: dict(zip(("node", "component"), _min_label_arrays(a, b))),
        "node bigint, component bigint",
    )
    if local is not None:
        return local
    sym_raw = directed.unionByName(
        directed.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # Materialize the symmetrized edge set ONCE — every propagation
    # round joins against it; without the pin each round re-runs the
    # upstream scan + union + dedup from the source.
    with materialize(sym_raw.dropDuplicates(), "closure_cc edges") as (
        sym, _
    ):

        def propagate(rnd, rounds):
            # Every node adopts the min label among itself and its
            # neighbours' labels.
            labels = rounds[-1]
            neighbour_labels = (
                sym.join(labels, sym.b == labels.node)
                .select(F.col("a").alias("node"), "component")
            )
            candidates = labels.unionByName(neighbour_labels)
            if rnd > POINTER_JUMP_AFTER:
                # Pointer jump: adopt the label OF your label. Labels
                # only point within the component, so this is sound;
                # distance to the min label halves per round →
                # O(log diameter).
                parents = labels.select(
                    F.col("node").alias("component"),
                    F.col("component").alias("_jump"),
                )
                jumped = (
                    labels.join(parents, "component")
                    .select("node", F.col("_jump").alias("component"))
                )
                candidates = candidates.unionByName(jumped)
            return candidates.groupBy("node").agg(
                F.min("component").alias("component")
            )

        # Labels only ever decrease, so the label SUM is a strictly
        # decreasing convergence measure: equal sums ⇔ no label
        # changed. The probe is one single-stage aggregate that also
        # materializes the round — no separate change-detection join.
        return fixpoint(
            "closure_cc",
            sym.select(F.col("a").alias("node"))
            .dropDuplicates()
            .withColumn("component", F.col("node")),
            propagate,
            cap=COMPONENTS_MAX_ROUNDS,
            probe=lambda lab: lab.agg(F.sum("component")).collect()[0][0],
            stop=lambda total, prev: total == prev,
            converge=True,
        )


def _min_plus_arrays(u, v, w, source_vals, hops: int):
    """The one bounded min-plus walk of the local tier: min code over
    walks of ≤ ``hops`` edges from any source, each edge ``u`` → ``v``
    costing its code ``w``. Sources get a code-0 row (walk of zero
    edges, off-graph sources included); positive codes mean cycles
    never undercut it. With every code 1 this is BFS's min hop level
    (``equivalent_ids``); with the packed code 1000·dist + hop-count,
    additive over path concatenation, it is the bounded shortest path
    (``bounded_shortest_paths``). Duplicate and parallel edges just
    relax redundantly. Row-identical to the distributed tiers;
    fuzz-tested against per-edge references in
    tests/test_closure_local_cores.py.

    ``u``/``v``/``w`` are NULL-free int64 numpy arrays. Vectorization
    choices, each measured at the sf10 ladder (3M edges):

    * CSR by SOURCE + frontier-driven relaxation (bounded SPFA):
      each round gathers only the out-edges of nodes whose code
      improved last round and relaxes them with one
      ``np.minimum.at`` over that gathered slice — the exact
      per-round DP, since relaxing FROM last round's improved set
      reaches precisely the walks of one more edge. Single-source
      bounded walks touch a tiny reachable set (127 nodes on the
      3M-edge sf10 graph), so per-round work is the frontier's
      out-degree, not the full edge list — the whole-array
      alternative (relax every edge every round, by ``reduceat``
      over a destination-sorted copy) pays the full 3M-edge pass
      x ``hops`` regardless of how little actually changes, and
      lost to SPFA at sf10 (1.91 s end-to-end vs the 5.59 s
      whole-array round-8 tier). The worst case (every node
      improving every round) degrades to one full-edge pass per
      round, the same bound;
    * frontier shrink by comparing ``cur`` before/after on the
      unique destinations — no re-sort per round;
    * DENSE id fast path: when the id range is no wider than
      4x the edge count (+ a 1M floor), index arrays directly
      instead of factorizing — the shared hash pass measured
      0.9 s of the 2.2 s core at sf10, and real identifier graphs
      overwhelmingly have catalog-dense keys. Sparse/huge ids fall
      back to factorize, identical results.

    Returns (nodes int64 array, codes int64 array).
    """
    srcs = np.unique(np.asarray(source_vals, np.int64))
    m = len(u)
    if m == 0:
        return srcs, np.zeros(len(srcs), np.int64)
    ends = np.concatenate(
        [[u.min(), u.max(), v.min(), v.max()], srcs[:1], srcs[-1:]]
    )
    lo, hi = int(ends.min()), int(ends.max())
    span = hi - lo + 1
    dense = 0 <= span <= max(4 * m, 1_000_000)
    if dense:
        uc, vc, sc = u - lo, v - lo, srcs - lo
        n = span
    else:
        codes, uniq = pd.factorize(np.concatenate([u, v, srcs]))
        uc = codes[:m]
        vc = codes[m: 2 * m]
        sc = codes[2 * m:]
        n = len(uniq)
    order = np.argsort(uc)
    us, vs, ws = uc[order], vc[order], w[order]
    bounds = np.searchsorted(us, np.arange(n + 1))
    # INF chosen so INF + max edge code stays < 2^63 (one addition
    # per round, never compounded — relax always reads from cur,
    # which min() caps back at INF).
    INF = np.int64(2**62)
    cur = np.full(n, INF, np.int64)
    frontier = np.unique(sc)
    cur[frontier] = 0
    for _ in range(hops):
        cnt = bounds[frontier + 1] - bounds[frontier]
        total = int(cnt.sum())
        if total == 0:
            break
        eidx = np.repeat(bounds[frontier], cnt) + (
            np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        )
        dsts = vs[eidx]
        cand = cur[np.repeat(frontier, cnt)] + ws[eidx]
        udst = np.unique(dsts)
        before = cur[udst].copy()
        np.minimum.at(cur, dsts, cand)
        frontier = udst[cur[udst] < before]
    mask = cur < INF
    codes_out = cur[mask]
    if dense:
        nodes_out = (np.flatnonzero(mask) + lo).astype(np.int64)
    else:
        nodes_out = uniq[mask].astype(np.int64)
    return nodes_out, codes_out


def bounded_shortest_paths(
    edges: DataFrame,
    nodes: DataFrame,
    sources: DataFrame,
    hops: int = 6,
    edge_count_hint: int | None = None,
) -> DataFrame:
    """Min packed-code walk of ≤ ``hops`` edges from ``sources`` —
    the single-source bounded shortest path the reference's
    equivalency walk implies (strength-weighted chain traversal,
    `/root/reference/identifiers.py` bounded-depth recursion), in
    exact integer arithmetic.

    Parameters
    ----------
    edges : DataFrame(u, v, code) — positive integer edge codes
        (pack dist·K + 1 with hops < K so min(code) is
        "min dist, then min hops").
    nodes : DataFrame whose first column is the node universe —
        supplies the zero-cost self-loops the doubling composition
        needs (walks shorter than the composition width).
    sources : DataFrame whose first column holds seed node ids.
        CONTRACT: sources ⊆ nodes (a seed outside the node universe
        would get a code-0 row from the local tier but no self-loop
        row from the distributed tier).
    hops : even, ≥ 2 (the distributed tier composes 2-hop blocks).
    edge_count_hint : known edge-row count (catalog/ANALYZE
        statistics, or derivable by construction — the caller's
        equivalent of a cost-based optimizer's stats lookup). When
        given, the tier decision is free and the local tier fetches
        in parallel (see ``_local_tier``); a hint that undercounts
        raises ``ValueError``. Without a hint the early-stopping
        probe runs (the right call against a 100 TB table of
        unknown size).

    Local tier: ``_min_plus_arrays`` on the packed codes. Distributed
    tier: min-plus doubling, a fixed number of exchanges regardless
    of data size.
    """
    if hops < 2 or hops % 2:
        raise ValueError("bounded_shortest_paths needs even hops >= 2")
    node_col, src_col = nodes.columns[0], sources.columns[0]

    def walk(u, v, code, source_vals):
        return dict(zip(("node", "code"),
                        _min_plus_arrays(u, v, code, source_vals, hops)))

    local = _local_tier(edges, "closure_sp_edges", walk,
                        "node bigint, code bigint", sources,
                        "closure_sp_sources", edge_count_hint)
    if local is not None:
        return local

    # Distributed tier: min-plus doubling (see g_shortest_path's
    # docstring for the full derivation and broadcast contracts).
    # B2 = min-code over walks of ≤2 edges (one self-square of
    # edges ∪ zero-cost self-loops); the source rows composed with
    # B2 (hops/2 - 1) times cover walks of ≤hops edges.
    b1 = edges.unionByName(
        nodes.select(
            F.col(node_col).alias("u"),
            F.col(node_col).alias("v"),
            F.lit(0).cast("long").alias("code"),
        )
    )
    left = b1.select("u", F.col("v").alias("mid"), F.col("code").alias("c1"))
    right = b1.select(F.col("u").alias("mid"), "v", F.col("code").alias("c2"))
    # No broadcast hint on the self-square: b1 is a derived union the
    # optimizer cannot size statically; AQE sizes the materialized
    # side at runtime and converts while it fits (measured identical
    # to a forced hint at sf1, faster at sf10 where the hint
    # force-broadcast a 4.5M-row side).
    b2 = (
        left.join(right, "mid")
        .groupBy("u", "v")
        .agg(F.min(F.col("c1") + F.col("c2")).alias("code"))
    )
    state = (
        b2.join(
            F.broadcast(
                sources.select(F.col(src_col).alias("u")).dropDuplicates()
            ),
            "u",
        )
        .select(F.col("v").alias("node"), "code")
    )
    if hops == 2:
        # No extend round runs to aggregate multi-source duplicates.
        state = state.groupBy("node").agg(F.min("code").alias("code"))
    for _ in range(hops // 2 - 1):
        st = state.select(F.col("node").alias("u"), F.col("code").alias("c1"))
        hop = b2.select("u", F.col("v").alias("node"), F.col("code").alias("c2"))
        # Frontier side broadcasts at every scale: single-source
        # bounded-hop state is small by problem structure; the edge
        # blocks stream past it map-side.
        state = (
            F.broadcast(st).join(hop, "u")
            .groupBy("node")
            .agg(F.min(F.col("c1") + F.col("c2")).alias("code"))
        )
    return state


def _min_label_arrays(a, b):
    """Connected-components core of the local tier (component = min
    node id in the component) over NULL-free int64 edge arrays in
    EITHER orientation — the relaxation symmetrizes internally, so
    the caller ships raw directed rows; duplicates relax
    redundantly. Vectorized min-label propagation with full
    pointer-jump compression each round: the min id travels at least
    one hop per outer round and every compression pass halves
    pointer chains, so outer rounds are O(log diameter) — all numpy,
    no per-edge Python (the union-find dict spelling measured ~2 s/M
    edges). Fuzz-tested against union-find in
    tests/test_closure_local_cores.py.

    Returns (nodes int64 array, components int64 array)."""
    codes, uniq = pd.factorize(np.concatenate([a, b]))
    ac, bc = codes[: len(a)], codes[len(a):]
    # Symmetrize the relaxation: components are direction-blind.
    ac, bc = np.concatenate([ac, bc]), np.concatenate([bc, ac])
    # Labels are node VALUES (uniq order is first-appearance, not
    # sorted, so comparing codes would not be comparing ids).
    nodes = uniq.astype(np.int64)
    label = nodes.copy()
    pos = pd.Index(uniq)  # value -> code lookup for the jump step
    while True:
        prev = label
        cur = label.copy()
        # Edge relax: label[a] = min(label[a], label[b]) both ways
        # (the input is already symmetrized).
        np.minimum.at(cur, ac, label[bc])
        # Pointer jumping: adopt the label OF your label until fixed.
        while True:
            jump = cur[pos.get_indexer(cur)]
            if np.array_equal(jump, cur):
                break
            cur = jump
        if np.array_equal(cur, prev):
            break
        label = cur
    return nodes, label
