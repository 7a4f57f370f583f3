"""Bounded weighted transitive closure over an identifier-equivalency
edge table — the reference's one genuinely non-relational algorithm.

Reference semantics being re-expressed (see SURVEY.md §2.3 J4):
  * `Identifier.recursively_equivalent_identifier_ids(levels, threshold)`
    — `/root/reference/scripts.py:493-496` (levels=6, threshold=0),
    `/root/reference/oclc/linked_data.py:958-962`.
  * per-edge strength cutoff while walking —
    `/root/reference/oclc/linked_data.py:820-830` (`strength <= 0.7`
    edges are not followed).

Spark design — adaptive two-tier:

  * **Distributed tier** (the 100 TB path): breadth-first frontier
    expansion with one equi-join per level (closure) / min-label
    propagation with pointer-jump acceleration (components). The
    visited set is accumulated and each new frontier is anti-joined
    against it, so a node is expanded exactly once (min-level
    semantics, cycle-safe). Each level is one ``lineage.fixpoint``
    round.
  * **Local tier**: iterative jobs cost ~0.3-0.5 s each in scheduling
    alone, so when the raw edge set is small enough to hold on the
    driver (``LOCAL_SOLVE_MAX_EDGES``, read at call time — see the
    constant's rationale) the closure is solved in-process
    on the already-materialized edges — the same trick every
    production graph system uses (a recursive-CTE engine IS the
    local tier). Both tiers produce identical rows; tests assert
    the equivalence.

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
# skipped and the distributed loop runs. The budget is set by the
# economics of the two tiers, not by driver-heap fear: the local
# tier costs one Arrow transfer plus a numpy pass (~1-2 s per 10^7
# edges measured; 4x10^6 (src,dst) longs ≈ 64 MB, trivial against
# any sane driver heap), while the distributed tier costs
# rounds x per-round scheduling floor (6 levels ≈ 5-8 s on an idle
# local[32] REGARDLESS of size — measured at the 100x ladder, whose
# 3x10^6-edge graph sat just past the old 10^6 budget and paid 7 s
# distributed for a 2 s local problem). At 100 TB edge tables are
# billions of rows and the probe early-stops into the distributed
# path after reading at most this many rows (driver_fetch logs the
# count it saw).
LOCAL_SOLVE_MAX_EDGES = 4_000_000

# connected_components' round cap, and the round after which it turns
# on pointer jumping (see its docstring).
COMPONENTS_MAX_ROUNDS = 50
POINTER_JUMP_AFTER = 10


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
    spark = edges.sparkSession
    seed_col = seeds.columns[0]
    filtered = edges.where(F.col(strength) > F.lit(threshold)).select(
        F.col(src).cast("bigint").alias("_src"),
        F.col(dst).cast("bigint").alias("_dst"),
    )
    # Tier probe BEFORE any shuffle: a bare scan + CollectLimit
    # early-stops as soon as the budget is exceeded, and the Arrow
    # fetch moves the rows ~2x faster than row-pickling collect.
    # The budget therefore bounds RAW filtered edges, not deduped
    # ones — a graph whose duplicates push it over the line takes the
    # distributed tier, which is merely conservative. The small case
    # (local tier) then skips the dropDuplicates SHUFFLE entirely
    # (pandas dedups in-process); measured at 3x-scaled bench data
    # the old spelling paid 3.3 s of dedup+checkpoint plus a 3.0 s
    # row-collect before any BFS work.
    probe = fetch_at_most(filtered, LOCAL_SOLVE_MAX_EDGES, "closure_ids_edges")
    seed_vals = None if probe is None else _seed_values(
        seeds, "closure_ids_seeds"
    )
    if seed_vals is not None:
        # Driver-local tier: the numpy CSR walk of bfs_levels_pdf (a
        # per-edge Python dict build measured ~1 s/M edges).
        out = bfs_levels_pdf(probe.to_pandas(), seed_vals, levels)
        return local_frame(spark, out, "node bigint, level int")
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


def bfs_levels_pdf(edge_pdf, seed_vals, levels: int):
    """Pure numpy/pandas BFS core of the local tier: min hop level
    per reachable node, seeds at level 0 (off-graph seeds included).
    Row-identical to the distributed loop; fuzz-tested against a
    per-edge reference in tests/test_closure_local_cores.py.

    ``edge_pdf`` has columns ``_src``/``_dst`` (may contain NULLs and
    duplicates — dropped here); returns a pandas DataFrame
    (node int64, level int32)."""
    import numpy as np
    import pandas as pd

    edge_pdf = edge_pdf.dropna().drop_duplicates()
    s = edge_pdf["_src"].to_numpy(np.int64, copy=False)
    d = edge_pdf["_dst"].to_numpy(np.int64, copy=False)
    # Factorize both endpoints into one dense code space, then build
    # a CSR adjacency by stable-sorting edges on the source code.
    codes, uniq = pd.factorize(np.concatenate([s, d]))
    scode, dcode = codes[: len(s)], codes[len(s):]
    order = np.argsort(scode, kind="stable")
    ss, dd = scode[order], dcode[order]
    n = len(uniq)
    starts = np.searchsorted(ss, np.arange(n))
    ends = np.searchsorted(ss, np.arange(n) + 1)

    seed_vals = sorted(set(seed_vals))
    idx = pd.Index(uniq)
    seed_codes = (
        idx.get_indexer(np.asarray(seed_vals, np.int64))
        if seed_vals
        else np.empty(0, np.int64)
    )
    # Seeds absent from the edge table still get a level-0 row (they
    # have no code in the adjacency, so they ride a side list).
    off_graph = [v for v, c in zip(seed_vals, seed_codes) if c < 0]
    level = np.full(n, -1, np.int64)
    frontier = np.unique(seed_codes[seed_codes >= 0])
    level[frontier] = 0
    for lvl in range(1, levels + 1):
        cnt = ends[frontier] - starts[frontier]
        total = int(cnt.sum())
        if total == 0:
            break
        # Gather all frontier adjacency ranges in one shot.
        rep = np.repeat(starts[frontier], cnt)
        offs = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        cand = np.unique(dd[rep + offs])
        new = cand[level[cand] < 0]
        if new.size == 0:
            break
        level[new] = lvl
        frontier = new
    mask = level >= 0
    return pd.DataFrame(
        {
            "node": np.concatenate(
                [uniq[mask], np.asarray(off_graph, np.int64)]
            ),
            "level": np.concatenate(
                [level[mask], np.zeros(len(off_graph), np.int64)]
            ).astype(np.int32),
        }
    )


def _seed_values(seeds: DataFrame, name: str) -> list[int] | None:
    """The distinct non-NULL ids in ``seeds``' first column, or None
    past the local tier's cap (``LOCAL_SOLVE_MAX_EDGES``): the caller
    then takes the distributed tier, which joins the seeds instead of
    shipping them to the driver."""
    distinct = (
        seeds.select(F.col(seeds.columns[0]).cast("bigint").alias("node"))
        .where(F.col("node").isNotNull())
        .dropDuplicates()
    )
    tbl = fetch_at_most(distinct, LOCAL_SOLVE_MAX_EDGES, name)
    return None if tbl is None else tbl.column("node").to_pylist()


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
    are solved driver-local by union-find on the materialized edge
    set — identical rows, none of the per-round scheduling cost.
    Labels that still change after ``COMPONENTS_MAX_ROUNDS`` rounds
    raise instead of returning a non-fixpoint.
    """
    spark = edges.sparkSession
    directed = edges.select(
        F.col(src).cast("bigint").alias("a"),
        F.col(dst).cast("bigint").alias("b"),
    )
    # Tier probe BEFORE the dedup shuffle (see equivalent_ids): a
    # scan + CollectLimit over Arrow, budget counted on RAW DIRECTED
    # rows — union-find is direction-blind, so the local tier needs
    # no symmetrization and the probe moves half the rows the old
    # symmetrized probe did (the same budget then admits graphs
    # twice as large, consistently with equivalent_ids' raw-edge
    # semantics). The distributed tier symmetrizes below, where it
    # pays the dedup+checkpoint it needs anyway.
    probe = fetch_at_most(directed, LOCAL_SOLVE_MAX_EDGES, "closure_cc_edges")
    if probe is not None:
        return local_frame(
            spark,
            min_label_components_pdf(probe.to_pandas()),
            "node bigint, component bigint",
        )
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
    """Array core of the bounded min-plus walk (see
    ``bounded_min_plus_pdf`` for semantics). ``u``/``v``/``w`` are
    int64 numpy arrays (already NULL-free). Vectorization choices,
    each measured at the sf10 ladder (3M edges):

    * CSR by SOURCE + frontier-driven relaxation (bounded SPFA):
      each round gathers only the out-edges of nodes whose code
      improved last round and relaxes them with one
      ``np.minimum.at`` over that gathered slice. Single-source
      bounded walks touch a tiny reachable set (127 nodes on the
      3M-edge sf10 graph), so per-round work is the frontier's
      out-degree, not the full edge list — the whole-array
      alternative (relax every edge every round, by ``reduceat``
      over a destination-sorted copy) pays the full 3M-edge pass
      x ``hops`` regardless of how little actually changes, and
      lost to SPFA at sf10 (1.91 s end-to-end vs the 5.59 s
      whole-array round-8 tier). ``minimum.at``'s unbuffered-ufunc
      cost is proportional to the gathered slice here, which is
      why it is acceptable per-frontier when it was not per-full-
      edge-list;
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
    import numpy as np
    import pandas as pd

    srcs = np.asarray(sorted(set(source_vals)), np.int64)
    m = len(u)
    if m == 0:
        return srcs, np.zeros(len(srcs), np.int64)
    lo = min(int(u.min()), int(v.min()), int(srcs.min()) if srcs.size else 0)
    hi = max(int(u.max()), int(v.max()), int(srcs.max()) if srcs.size else 0)
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
    # CSR by SOURCE + frontier-driven relaxation (bounded SPFA):
    # each round relaxes only the out-edges of nodes whose code
    # improved last round. Single-source bounded walks touch a tiny
    # reachable set (127 nodes on the 3M-edge sf10 graph), so the
    # walk itself is microseconds; the worst case (every node
    # improving every round) degrades to one full-edge pass per
    # round, the same bound as whole-array relaxation. This is the
    # exact per-round DP — relaxing FROM last round's improved set
    # reaches precisely the walks of one more edge.
    order = np.argsort(uc)
    us, vs, ws = uc[order], vc[order], w[order]
    bounds = np.searchsorted(us, np.arange(n + 1))
    # INF chosen so INF + max edge code stays < 2^63 (one addition
    # per round, never compounded — relax always reads from cur,
    # which min() caps back at INF).
    INF = np.int64(2**62)
    cur = np.full(n, INF, np.int64)
    frontier = np.unique(sc) if sc.size else sc
    if sc.size:
        cur[frontier] = 0
    for _ in range(hops):
        if frontier.size == 0:
            break
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


def bounded_min_plus_pdf(edge_pdf, source_vals, hops: int):
    """Pure numpy bounded Bellman-Ford core of the shortest-path
    local tier: min packed code (1000·dist + hop-count — additive
    over path concatenation, so min over walks is a min-plus fold)
    over walks of ≤ ``hops`` edges from any source. Sources get a
    code-0 row (walk of zero edges); positive edge codes mean cycles
    never undercut it. Row-identical to the distributed min-plus
    doubling; fuzz-tested against a per-edge reference in
    tests/test_closure_local_cores.py.

    ``edge_pdf`` has columns ``u``/``v``/``code`` (NULL rows dropped
    here; duplicate and parallel edges just relax redundantly).
    Returns a pandas DataFrame (node int64, code int64).
    """
    import numpy as np
    import pandas as pd

    edge_pdf = edge_pdf.dropna()
    nodes, codes = _min_plus_arrays(
        edge_pdf["u"].to_numpy(np.int64),
        edge_pdf["v"].to_numpy(np.int64),
        edge_pdf["code"].to_numpy(np.int64),
        source_vals,
        hops,
    )
    return pd.DataFrame({"node": nodes, "code": codes})


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
        given, the tier decision is FREE and the admit path fetches
        with a fully parallel ``toArrow`` — the ``limit`` probe's
        CollectLimit funnels every row through one partition, which
        measured 2.3 s of the 5.6 s sf10 wall on a 3M-edge graph
        that the parallel fetch moves in 0.3 s warm. A hint that
        undercounts raises ``ValueError`` once the fetch returns more
        than ``LOCAL_SOLVE_MAX_EDGES`` rows. Without a hint the
        early-stopping probe runs (the right call against a 100 TB
        table of unknown size).

    Adaptive two-tier, same probe economics as ``equivalent_ids``:
    the distributed min-plus-doubling tier costs a fixed number of
    exchanges REGARDLESS of data size (measured flat 5.2 s at sf10
    where the oracle ran 0.46 s — all scheduling floor), while the
    local tier is one Arrow transfer + hops·O(E) numpy relaxations.
    Below the raw-edge budget the local tier wins at every measured
    SF; a 100 TB edge table early-stops the probe (or skips it via
    the hint) and takes the distributed tier.
    """
    if hops < 2 or hops % 2:
        raise ValueError("bounded_shortest_paths needs even hops >= 2")
    spark = edges.sparkSession
    node_col, src_col = nodes.columns[0], sources.columns[0]
    tbl = source_vals = None
    if edge_count_hint is None:
        tbl = fetch_at_most(edges, LOCAL_SOLVE_MAX_EDGES, "closure_sp_edges")
    elif edge_count_hint <= LOCAL_SOLVE_MAX_EDGES:
        tbl = edges.toArrow()
        if tbl.num_rows > LOCAL_SOLVE_MAX_EDGES:
            raise ValueError(f"edge_count_hint={edge_count_hint} undercounts"
                             f" {tbl.num_rows} edges")
    if tbl is not None:
        source_vals = _seed_values(sources, "closure_sp_sources")
    if source_vals is not None:
        out = bounded_min_plus_pdf(tbl.to_pandas(), source_vals, hops)
        return local_frame(spark, out, "node bigint, code bigint")

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


def min_label_components_pdf(edge_pdf):
    """Pure numpy/pandas connected-components core of the local tier
    (component = min node id in the component). Vectorized min-label
    propagation with full pointer-jump compression each round: the
    min id travels at least one hop per outer round and every
    compression pass halves pointer chains, so outer rounds are
    O(log diameter) — all numpy, no per-edge Python (the union-find
    dict spelling measured ~2 s/M edges). Fuzz-tested against
    union-find in tests/test_closure_local_cores.py.

    ``edge_pdf`` has columns ``a``/``b`` in EITHER orientation —
    the relaxation below symmetrizes internally (idempotent for
    already-symmetric input), so the caller's tier probe can ship
    the raw directed rows (NULLs and duplicates dropped here);
    returns a pandas DataFrame (node int64, component int64)."""
    import numpy as np
    import pandas as pd

    edge_pdf = edge_pdf.dropna().drop_duplicates()
    a = edge_pdf["a"].to_numpy(np.int64, copy=False)
    b = edge_pdf["b"].to_numpy(np.int64, copy=False)
    codes, uniq = pd.factorize(np.concatenate([a, b]))
    ac, bc = codes[: len(a)], codes[len(a):]
    # Symmetrize the relaxation: components are direction-blind.
    ac, bc = np.concatenate([ac, bc]), np.concatenate([bc, ac])
    # Labels are node VALUES (uniq order is first-appearance, not
    # sorted, so comparing codes would not be comparing ids).
    label = uniq.astype(np.int64).copy()
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
    return pd.DataFrame({"node": uniq.astype(np.int64), "component": label})

