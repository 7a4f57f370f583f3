"""Graph plans — equivalency-edge hops and the bounded closure
(SURVEY.md §2.3 J3/J4) phrased over the star schema.

The driver's tables have no explicit edge table, so we derive a
deterministic one from ``customer``: every customer key gets two
out-edges computed with pure modular arithmetic (chains, cycles and
dense components all occur), each with a strength in [0.5, 1.02).
Both engines build the identical edge set, so results are
hash-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from metadata_wrangler_spark.catalog import load, table_bytes
from metadata_wrangler_spark.operators.closure import (
    bounded_shortest_paths,
    connected_components,
    equivalent_ids,
)
from metadata_wrangler_spark.operators.lineage import (
    checkpoint,
    fixpoint,
    materialize,
)
from metadata_wrangler_spark.plans import register

# Shared edge definition (SQL fragment used verbatim by the DuckDB
# oracle; the Spark side mirrors it with Column arithmetic).
EDGES_SQL = """
    SELECT c_custkey AS src,
           (c_custkey * 7 + 3) % (SELECT COUNT(*) FROM customer) AS dst,
           0.5 + (c_custkey % 53) / 100.0 AS strength
    FROM customer
    UNION ALL
    SELECT c_custkey AS src,
           (c_custkey * 13 + 5) % (SELECT COUNT(*) FROM customer) AS dst,
           0.5 + (c_custkey % 29) / 100.0 AS strength
    FROM customer
"""


def build_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic equivalency edges over customer keys
    (keys are dense 0..N-1 in the test data).

    The row count enters the plan as a broadcast 1-row aggregate
    (scalar-subquery shape), not a driver-side ``count()`` — building
    the plan stays lazy, so no job runs until the query executes."""
    c = load(spark, sf_dir, "customer")
    cnt = c.agg(F.count(F.lit(1)).alias("_n"))
    base = c.crossJoin(F.broadcast(cnt))
    k = F.col("c_custkey")
    n = F.col("_n")
    e1 = base.select(
        k.alias("src"),
        ((k * 7 + 3) % n).alias("dst"),
        (0.5 + (k % 53) / 100.0).alias("strength"),
    )
    e2 = base.select(
        k.alias("src"),
        ((k * 13 + 5) % n).alias("dst"),
        (0.5 + (k % 29) / 100.0).alias("strength"),
    )
    return e1.unionByName(e2)


def _undirected(edges: DataFrame) -> DataFrame:
    """Self-loop-free edges as (a, b) = (least, greatest) endpoint."""
    return edges.where(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    )


def _degrees(und: DataFrame) -> DataFrame:
    """(node, d): each node's degree over (a, b) undirected edges."""
    return (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


@register(
    "g_edge_one_hop",
    oracle=f"""
    WITH edges AS ({EDGES_SQL})
    SELECT e.src, e.dst, e.strength, c.c_name AS dst_name
    FROM edges e
    JOIN customer c ON c.c_custkey = e.dst
    WHERE e.src % 97 = 1 AND e.strength > 0.7
    """,
)
def g_edge_one_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: one graph hop via the edge table (identifier → equivalent
    identifiers with names), with the reference's 0.7 strength cutoff.

    Reference: `monitor.py:74-89` (self-join via equivalents),
    `oclc/linked_data.py:822-830` (strength cutoff).
    """
    edges = build_edges(spark, sf_dir).where(
        (F.col("src") % 97 == 1) & (F.col("strength") > 0.7)
    )
    c = load(spark, sf_dir, "customer")
    return edges.join(c, edges.dst == c.c_custkey).select(
        "src", "dst", "strength", F.col("c_name").alias("dst_name")
    )


@register(
    "g_transitive_closure",
    oracle=f"""
    WITH RECURSIVE edges AS ({EDGES_SQL}),
    seeds AS (SELECT c_custkey AS node FROM customer WHERE c_custkey % 97 = 1),
    walk(node, level) AS (
        SELECT node, 0 FROM seeds
        UNION
        SELECT e.dst, w.level + 1
        FROM walk w
        JOIN edges e ON e.src = w.node
        WHERE w.level < 6 AND e.strength > 0.7
    )
    SELECT node, CAST(MIN(level) AS INT) AS level
    FROM walk
    GROUP BY node
    """,
)
def g_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: bounded weighted transitive closure — levels=6,
    strength threshold 0.7, min-hop-distance per reached node.

    Reference: `scripts.py:493-496`
    (`recursively_equivalent_identifier_ids(levels=6)`),
    `oclc/linked_data.py:820-830,958-962`.

    The engine implementation is `operators.closure.equivalent_ids`
    (BFS with per-level lineage checkpointing); the oracle is the
    equivalent recursive CTE.
    """
    edges = build_edges(spark, sf_dir)
    seeds = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 97 == 1)
        .select(F.col("c_custkey").alias("node"))
    )
    out = equivalent_ids(edges, seeds, levels=6, threshold=0.7)
    return out.select(F.col("node"), F.col("level").cast("int").alias("level"))


# The recursive-CTE twin uses UNION ALL in the recursive step (the
# only recursion mode Spark's UnionLoop guarantees) — termination
# comes from the level bound, and path multiplicity is erased by the
# final MIN(level) GROUP BY, so the result set is identical to the
# deduplicating-UNION walk above.
RCTE_WALK_SQL = f"""
    WITH RECURSIVE edges AS ({EDGES_SQL}),
    walk(node, level) AS (
        SELECT c_custkey AS node, 0 AS level
        FROM customer WHERE c_custkey % 97 = 1
        UNION ALL
        SELECT e.dst AS node, w.level + 1 AS level
        FROM walk w
        JOIN edges e ON e.src = w.node
        WHERE w.level < 6 AND e.strength > 0.7
    )
    SELECT node, CAST(MIN(level) AS INT) AS level
    FROM walk
    GROUP BY node
"""


@register("g_transitive_closure_rcte", oracle=RCTE_WALK_SQL)
def g_transitive_closure_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 twin: the SAME bounded closure expressed as an ANSI
    recursive CTE and executed natively by Catalyst (Spark 4.x
    UnionLoopExec) — the identical query text runs on DuckDB as the
    oracle, so this is the engine's "recursive SQL parity" proof.

    Reference: `scripts.py:493-496`, `oclc/linked_data.py:958-962`
    (`Identifier.recursively_equivalent_identifier_ids`, which the
    reference implements as a recursive SQL function in core).

    `operators.closure.equivalent_ids` (g_transitive_closure) stays
    the scale path: it checkpoints per level, dedups the frontier
    each hop (UnionLoop's UNION ALL re-expands every path, fine at
    depth 6 / fan-out 2, exponential on dense graphs), and applies
    the strength filter before the shuffle.

    Measured disposition (round 8, SCALE.md crossover ladder): this
    twin pays UnionLoop's fixed per-iteration tax (6 iterations x
    ~0.4-0.9 s of plan/schedule cost at any SF — 5.7 s at 30x data
    where the operator path runs 1.9 s), and the tax does NOT
    amortize with data because it is per-round, not per-row. It is
    registered as the Catalyst recursive-SQL parity proof, not a
    production path; callers wanting the closure take
    g_transitive_closure.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(RCTE_WALK_SQL)


@register(
    "g_connected_components",
    oracle=f"""
    WITH RECURSIVE edges AS ({EDGES_SQL}),
    strong AS (SELECT src, dst FROM edges WHERE strength > 0.85),
    sym AS (
        SELECT src AS a, dst AS b FROM strong
        UNION
        SELECT dst AS a, src AS b FROM strong
    ),
    reach(node, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.a, r.r FROM sym s JOIN reach r ON r.node = s.b
    )
    SELECT node, MIN(r) AS component
    FROM reach
    GROUP BY node
    """,
)
def g_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the strong-edge subgraph (strength
    > 0.85) — the Work-consolidation clustering: every identifier
    cluster gets one canonical (min-id) label.

    Reference: work clustering / contributor merge canonicalization
    (`viaf.py:777-798`, `oclc/classify.py:1311-1346`). Engine
    implementation is `operators.closure.connected_components`
    (min-label propagation to fixpoint, checkpointed per round); the
    oracle is the equivalent recursive reachability CTE.
    """
    edges = build_edges(spark, sf_dir).where(F.col("strength") > 0.85)
    return connected_components(edges)


# --- PageRank (fixed-iteration, deterministic) ----------------------------

_PR_D = 0.85
_PR_ITERS = 3
# rank scale ~1/N (N=15k at sf0.1): quantize at 1e-10 so the
# stability rounding sits far below rank magnitude
_PR_Q = "10000000000.0"


def _pr_oracle_sql() -> str:
    # every customer has exactly TWO out-edges (build_edges), so the
    # contribution is rank/2 — no dangling-mass term needed
    def step(prev: str, out: str) -> str:
        return f"""
    {out} AS (
        SELECT n.node,
               CAST(floor((0.15 / n.n + {_PR_D} * (
                   COALESCE(CAST(s.contrib AS DOUBLE), 0.0) / {_PR_Q}
               )) * {_PR_Q} + 0.5) AS BIGINT) / {_PR_Q} AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node,
                   SUM(CAST(floor(r.rank / 2 * {_PR_Q} + 0.5) AS BIGINT))
                       AS contrib
            FROM edges e JOIN {prev} r ON r.node = e.src
            GROUP BY e.dst
        ) s ON s.node = n.node
    )"""

    steps = ",".join(
        step(f"r{i}", f"r{i + 1}") for i in range(_PR_ITERS)
    )
    return f"""
    WITH edges AS ({EDGES_SQL}),
    nodes AS (
        SELECT c_custkey AS node,
               CAST((SELECT COUNT(*) FROM customer) AS DOUBLE) AS n
        FROM customer
    ),
    r0 AS (
        SELECT node, n,
               CAST(floor(1.0 / n * {_PR_Q} + 0.5) AS BIGINT) / {_PR_Q}
                   AS rank
        FROM nodes
    ),{steps}
    SELECT node, rank FROM r{_PR_ITERS}
    """


@register("g_pagerank", oracle=_pr_oracle_sql())
def g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, {_PR_ITERS} fixed iterations, damping {_PR_D} — the
    third iterative graph algorithm alongside the bounded closure and
    connected components. Every iteration is one equi-join on the
    edge source plus one aggregation on the destination; ranks are
    quantized at 1e-10 through the engine's floor-chain so the
    DuckDB oracle (the same iterations unrolled as CTEs) matches
    bit-for-bit regardless of partitioning.

    Scale shape (round-10 rewrite, sf10 A/B in SCALE.md: 11.8 s ->
    5.6 s steady-state): the edge and node tables are computed ONCE
    behind lazy checkpoints — without them every iteration re-ran
    the build_edges subtree (two customer scans + the count
    broadcast) and the nodes subtree, since each round's plan embeds
    full copies of both. The rank join is hinted shuffle_hash on the
    contrib side (both inputs are |V|-row; sort-merge paid two sorts
    per iteration for one hash pass). At real iteration counts
    checkpoint per ROUND exactly as operators/closure.py does. The
    synthetic graph gives every node out-degree 2, so contributions
    are rank/2 and no dangling-mass redistribution is needed (a
    production variant adds the dangling sum as a broadcast scalar).
    """
    edges = checkpoint(
        build_edges(spark, sf_dir).select("src", "dst").repartition("src"),
        "g_pagerank edges",
    )
    c = load(spark, sf_dir, "customer")
    cnt = c.agg(F.count(F.lit(1)).alias("_n"))
    nodes = checkpoint(
        c.crossJoin(F.broadcast(cnt)).select(
            F.col("c_custkey").alias("node"),
            F.col("_n").cast("double").alias("n"),
        ),
        "g_pagerank nodes",
    )
    q = float(_PR_Q)

    def quant(col):
        return F.floor(col * q + F.lit(0.5)).cast("bigint") / F.lit(q)

    ranks = nodes.select("node", "n", quant(F.lit(1.0) / F.col("n")).alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .groupBy("dst")
            .agg(
                F.sum(
                    F.floor(F.col("rank") / 2 * q + F.lit(0.5)).cast("bigint")
                ).alias("contrib")
            )
            .hint("shuffle_hash")
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                nodes.node,
                nodes.n,
                quant(
                    F.lit(0.15) / F.col("n")
                    + F.lit(_PR_D)
                    * (
                        F.coalesce(F.col("contrib").cast("double"), F.lit(0.0))
                        / F.lit(q)
                    )
                ).alias("rank"),
            )
        )
    # Round 11: return the LAZY plan. Its two input pins stay live as
    # long as the returned plan is reachable, so they are not freed
    # here; materializing the |V|-row result just to free them cost a
    # full result-sized pass per call (sf10 interleaved A/B, rows
    # identical: 6.00 -> 5.44 s median, oracle 5.2 s).
    return ranks.select("node", "rank")


# --- Triangle counting (degree-ordered) -----------------------------------

@register(
    "g_triangle_count",
    oracle=f"""
    WITH edges AS ({EDGES_SQL}),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst
    ),
    deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY node
    ),
    ord_e AS (
        SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS u,
               CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS v,
               CASE WHEN (da.d, a) < (db.d, b) THEN db.d ELSE da.d END AS vd
        FROM und
        JOIN deg da ON da.node = und.a
        JOIN deg db ON db.node = und.b
    ),
    tri AS (
        SELECT e1.v AS x, e2.v AS y, e1.u AS z
        FROM ord_e e1
        JOIN ord_e e2
          ON e1.u = e2.u AND (e1.vd, e1.v) < (e2.vd, e2.v)
        JOIN ord_e e3
          ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT node, COUNT(*) AS n_tri
    FROM (SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    GROUP BY node
    """,
)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation counts over the equivalency
    graph — the clustering-coefficient numerator used to score how
    tightly an identifier cluster is knit before merging it.

    Reference: cluster-quality gating before contributor/work merges
    (`viaf.py:777-798` picks the best cluster; triangle density is
    the classic graph-side strength signal for the same decision).

    Scale design — the Schank/Wagner degree-ordered node iterator:
    orient every undirected edge from its lower-(degree, id)
    endpoint to the higher one, so each triangle is counted exactly
    once from its lowest-degree corner and the wedge fan-out per
    node is bounded by its ORIENTED out-degree (O(sqrt(m)) on
    skewed graphs, vs O(max_degree^2) for naive wedge counting).
    Wedges come from ONE groupBy(u) into a sorted oriented
    adjacency array expanded map-side into ordered pairs (the same
    exchange-fusion as dd_ngram_jaccard’s _shared_counts_sized — the
    array is exactly the rows a wedge self-join's SMJ would buffer
    for the key group, so memory is bounded by the oriented degree);
    the closing probe is the single remaining equi-join, and corner
    counting explodes the 3-node array map-side so the triangle
    frame is computed once, not three times.
    """
    edges = build_edges(spark, sf_dir)
    # und feeds deg AND both endpoint joins; ord_e feeds the two
    # wedge sides AND the closing probe. ord_e is always cached
    # (recomputing its two joins per branch never wins). und's cache
    # is SCALE-TIERED (round 11): under ~1 MB of edge source the
    # InMemoryRelation build barrier costs more than exchange reuse
    # saves (honest per-query A/B at sf0.1: cached 2.57 s vs
    # uncached 1.54 s, rows identical), while at sf10 recomputing
    # the distinct for both consumers loses (8.6 vs 9.9 s) — so the
    # cache follows a zero-job driver-side probe of the edge
    # source's file size (sf1, in between, ties: 3.94/4.07/3.88
    # across cache-both / no-cache / ord_e-only). Unknown sizes
    # (remote storage) default to cached — the at-scale-safe side.
    _bytes = table_bytes(sf_dir, "customer")
    _small = _bytes is not None and _bytes < (1 << 20)
    und = _undirected(edges).distinct()
    if not _small:
        und = und.cache()
    deg = _degrees(und)
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    a_first = F.struct("da", "a") < F.struct("db", "b")
    ord_e = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("vd"),
        )
        .cache()
    )
    adj = ord_e.groupBy("u").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("vd"), F.col("v")))
        ).alias("nbrs")
    )
    # ordered wedge pairs (x < y in (degree, id) order) expanded
    # map-side from the sorted adjacency array.
    wedges = adj.select(
        "u",
        F.explode(
            F.expr(
                "flatten(transform(nbrs, (lhs, i) ->"
                " transform(slice(nbrs, i + 2, size(nbrs) - i - 1),"
                "           rhs -> struct(lhs.v AS x, rhs.v AS y))))"
            )
        ).alias("p"),
    ).select("u", "p.x", "p.y")
    closing = ord_e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"])
    return (
        tri.select(F.explode(F.array("x", "y", "u")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )


# ---------------------------------------------------------------------------
# single-source shortest path (bounded Bellman-Ford)
# ---------------------------------------------------------------------------

# Integer edge weights derived from the shared edge set: exact
# arithmetic in both engines, no float path sums. The per-node
# minimum is taken over the packed code dist*1000 + hops (hops <= 6,
# dist <= 6*97 < 2^31), which is "min dist, then min hops" without
# relying on cross-engine struct-min semantics.

@register(
    "g_shortest_path",
    oracle=f"""
    WITH RECURSIVE edges AS ({EDGES_SQL}),
    wedges AS (
        SELECT src, dst, 1 + (src * 3 + dst) % 97 AS w FROM edges
    ),
    walk(node, code, hops) AS (
        -- seed from the node set, not a bare literal: the source's
        -- distance-0 row exists iff node 1 exists (empty-input
        -- convention; the plan derives the same row from the
        -- customer self-loops)
        SELECT CAST(c_custkey AS BIGINT) AS node,
               CAST(0 AS BIGINT) AS code, 0 AS hops
        FROM customer WHERE c_custkey = 1
        UNION ALL
        SELECT e.dst, wk.code + 1000 * e.w + 1, wk.hops + 1
        FROM walk wk JOIN wedges e ON e.src = wk.node
        WHERE wk.hops < 6
    )
    SELECT node,
           MIN(code) // 1000 AS dist,
           MIN(code) % 1000 AS hops
    FROM walk
    GROUP BY node
    """,
)
def g_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest path, bounded at 6 hops, from node 1
    over the shared weighted edge set — adaptive two-tier via
    ``operators.closure.bounded_shortest_paths``: a numpy bounded
    Bellman-Ford local tier under the closure family's raw-edge
    probe budget (round-9: the distributed spelling's wall was a
    FLAT 5.2 s at sf10 vs a 0.46 s oracle — pure exchange/schedule
    floor on a graph that fits the driver with room to spare), and
    MIN-PLUS DOUBLING (pointer jumping), not per-hop Bellman-Ford,
    past the budget.

    The packed code 1000·dist + hops is ADDITIVE over path
    concatenation (dist and hops both sum, hops ≤ 6 < 1000), so
    min(code) over walks is a min-plus semiring fold and walk sets
    compose: B2 = min-code over walks of ≤2 edges between any pair
    (one self-squaring of edges ∪ zero-cost self-loops), and the
    source row composed with B2 three times is exactly min-code
    over walks of ≤6 edges — the same set the oracle's bounded
    recursive CTE enumerates, bit-exact in integer arithmetic.

    Reference behavior: the reference walks identifier-equivalency
    chains to a bounded depth with a strength product
    (`identifiers.py` equivalency traversal); this is the same walk
    with additive costs and an explicit argmin per reached node.

    Scale design: the per-hop spelling pays 6 sequential
    join+aggregate levels (12 shuffle barriers end to end — at any
    scale, wall-clock is depth × latency; measured 3.16 s at sf0.1,
    nearly all scheduling floor). Doubling halves the depth: ONE
    self-join builds B2, then two frontier extensions reach hop 6 —
    3 exchanges total (one per min-aggregate; measured 1.5 s /
    half the jobs at sf0.1, the residual being the ~6-barrier
    floor). The trade is materializing the ≤2-hop PAIR set, sized
    Σ_u outdeg(u)² — bounded here (the edge set is exactly
    2-out-regular, so |B2| ≤ 7·|V|) and fine for any degree-capped
    graph; for hub-skewed graphs the per-hop frontier (the shape
    `operators/closure.py` keeps for transitive closure) remains
    the right fallback.

    Broadcast choices, each with its at-scale contract: (a) the
    FRONTIER side of each extension — single-source bounded-hop
    state is small by problem structure (≤ Σ outdeg^k reachable
    rows); a 100 TB edge set streams past it map-side, exactly the
    broadcast a planner should pick. (b) the right side of the B2
    self-square — |V|+|E| rows, justified only while that side is
    executor-memory small. (b) carries NO hint: the side is a
    derived union the optimizer cannot size statically, so the call
    is left to AQE, which sizes the materialized side exactly at
    runtime and converts to broadcast via local shuffle read while
    it fits the threshold — measured identical to a forced hint at
    sf1 and faster at the 100x ladder, where the old unconditional
    hint force-broadcast a 4.5M-row side. (a) keeps its
    hint at every scale. The per-composition min-aggregate is NOT
    optional at scale: skipping it composes raw walk multisets,
    which blow up as outdeg^hops on dense graphs.
    """
    edges = build_edges(spark, sf_dir)
    one_hop = edges.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        (1000 * (1 + (F.col("src") * 3 + F.col("dst")) % 97) + 1)
        .alias("code"),
    )
    # node set = customer keys directly: keys are dense 0..N-1 and
    # both edge endpoints are taken mod N, so no distinct needed.
    # The source frame derives from the SAME node set (empty-input
    # convention: the distance-0 row exists iff node 1 exists), and
    # satisfies the operator's sources ⊆ nodes contract.
    customer = load(spark, sf_dir, "customer")
    nodes = customer.select(F.col("c_custkey").alias("node"))
    sources = customer.where(F.col("c_custkey") == 1).select(
        F.col("c_custkey").alias("node")
    )
    # Edge count is known BY CONSTRUCTION (2 out-edges per customer):
    # one parquet-metadata count (~0.2 s warm at sf10) replaces the
    # operator's CollectLimit probe, whose single-partition funnel
    # measured 2.3 s on the same graph — the same stats lookup a
    # cost-based optimizer would make.
    out = bounded_shortest_paths(
        one_hop, nodes, sources, hops=6,
        edge_count_hint=2 * customer.count(),
    )
    return out.select(
        "node",
        F.expr("code div 1000").alias("dist"),
        (F.col("code") % 1000).alias("hops"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peeling)
# ---------------------------------------------------------------------------

# A degree-varied deterministic graph (out-degree 1 + key%4) — the
# shared 2-out-edge set is 3-regular-or-denser everywhere, which
# makes every k-core trivially full or empty. Shared fragment, both
# engines build the identical undirected edge set.
KCORE_EDGES_SQL = """
    SELECT DISTINCT
           least(c_custkey, (c_custkey * (7 + 2*j) + 3 + 5*j)
                            % (SELECT COUNT(*) FROM customer)) AS a,
           greatest(c_custkey, (c_custkey * (7 + 2*j) + 3 + 5*j)
                               % (SELECT COUNT(*) FROM customer)) AS b
    FROM customer, unnest(generate_series(0, c_custkey % 4)) AS t(j)
    WHERE c_custkey <> (c_custkey * (7 + 2*j) + 3 + 5*j)
                       % (SELECT COUNT(*) FROM customer)
"""


def _kcore_oracle_sql(k: int = 3, rounds: int = 4) -> str:
    steps = []
    prev = "v0"
    for r in range(1, rounds + 1):
        steps.append(
            f"""v{r} AS (
        SELECT node FROM (
            SELECT s.node, COUNT(*) AS deg
            FROM sym s
            JOIN {prev} x ON x.node = s.node
            JOIN {prev} y ON y.node = s.other
            GROUP BY s.node
        ) d WHERE deg >= {k}
    )"""
        )
        prev = f"v{r}"
    return f"""
    WITH und AS ({KCORE_EDGES_SQL}),
    sym AS (
        SELECT a AS node, b AS other FROM und
        UNION ALL
        SELECT b AS node, a AS other FROM und
    ),
    v0 AS (SELECT DISTINCT node FROM sym),
    {", ".join(steps)}
    SELECT s.node, COUNT(*) AS core_deg
    FROM sym s
    JOIN {prev} x ON x.node = s.node
    JOIN {prev} y ON y.node = s.other
    GROUP BY s.node
    """


@register("g_kcore", oracle=_kcore_oracle_sql())
def g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core decomposition by bounded peeling (4 rounds): repeatedly
    drop nodes with degree < 3 in the surviving subgraph, then report
    each survivor with its degree inside the final core. Four rounds
    reach the true 3-core fixpoint on this graph at every test SF
    (the property test checks convergence against an unbounded peel);
    on graphs needing more rounds the bounded result is a sound
    over-approximation that further rounds only shrink.

    Reference behavior: pruning weakly-connected identifiers before
    clustering (the reference trims sparse equivalency nodes before
    grouping, `identifiers.py` threshold recursion); k-core is the
    standard corpus-graph version (junk-page pruning in link graphs).

    Scale design: each peel round is two semi-joins (endpoint
    membership) + one map-side-combinable count per node — the same
    iterative equi-join shape as the closure/shortest-path family,
    with per-round lineage collapsed by the aggregate. Degree-varied
    synthetic edges, so the peel actually does work. No driver
    state; node sets stay partitioned on the join key throughout.
    """
    c = load(spark, sf_dir, "customer")
    cnt = c.agg(F.count(F.lit(1)).alias("_n"))
    base = c.crossJoin(F.broadcast(cnt))
    key, n = F.col("c_custkey"), F.col("_n")
    directed = (
        base.select(
            key.alias("src"),
            F.explode(F.sequence(F.lit(0), key % 4)).alias("j"),
            n.alias("_n"),
        )
        .select(
            "src",
            ((F.col("src") * (7 + 2 * F.col("j")) + 3 + 5 * F.col("j"))
             % F.col("_n")).alias("dst"),
        )
    )
    und = _undirected(directed).distinct()
    # Same lineage discipline as operators/closure.py: materialize
    # the edge set once (every round reuses it), and pin each round's
    # plan so the iteration never nests (without this the 5-round
    # plan re-executes the explode+distinct ~11x and compounds:
    # measured 288 s -> ~2 s at sf0.01).
    sym_plan = und.select(
        F.col("a").alias("node"), F.col("b").alias("other")
    ).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("other"))
    )
    with materialize(sym_plan, "g_kcore edges") as (sym, _):

        def degrees(nodes, name="deg"):
            return (
                sym.join(nodes, "node", "left_semi")
                .join(
                    nodes.withColumnRenamed("node", "other"), "other",
                    "left_semi",
                )
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias(name))
            )

        # The final core (|V| rows — the same work the caller's first
        # action would run, done once) is materialized so the peel
        # rounds can be freed.
        return fixpoint(
            "g_kcore peel",
            sym.select("node").distinct(),
            lambda _r, rounds: degrees(rounds[-1])
            .where(F.col("deg") >= 3)
            .select("node"),
            cap=4,
            finish=lambda nodes: degrees(nodes, "core_deg"),
        )


# --- Label propagation (community detection) -------------------------------

_LP_ITERS = 4


def _lp_oracle_sql() -> str:
    def step(prev: str, out: str) -> str:
        return f"""
    {out} AS (
        SELECT node, label FROM (
            SELECT e.src AS node, p.label,
                   row_number() OVER (PARTITION BY e.src
                                      ORDER BY COUNT(*) DESC,
                                               p.label ASC) AS rn
            FROM uedges e JOIN {prev} p ON p.node = e.dst
            GROUP BY e.src, p.label
        ) WHERE rn = 1
    )"""

    steps = ",".join(
        step(f"l{i}", f"l{i + 1}") for i in range(_LP_ITERS)
    )
    return f"""
    WITH edges AS ({EDGES_SQL}),
    uedges AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ),
    l0 AS (
        SELECT c_custkey AS node, c_custkey AS label FROM customer
    ),{steps}
    SELECT node, label FROM l{_LP_ITERS}
    """


@register("g_label_propagation", oracle=_lp_oracle_sql())
def g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation: every
    node starts as its own community and repeatedly adopts the label
    most frequent among its (undirected) neighbors, ties broken by
    smallest label — {_LP_ITERS} fixed synchronous rounds so both
    engines see the identical update schedule (asynchronous LPA is
    order-dependent and unverifiable). Complements connected
    components (g_connected_components finds ANY linkage; LPA finds
    densely-linked cores inside a component).

    Scale shape per round (round-8 rewrite, 5.5 -> 3.3 s at sf1;
    the remainder is per-stage scheduling floor, see SCALE.md's
    decomposition): the symmetrized edge table is repartitioned by
    dst ONCE and materialized, so no round re-shuffles
    or re-sorts the edge side — the per-round join is hinted
    SHUFFLE_HASH (labels, the small changing side, builds the hash
    table; the default sort-merge re-SORTED the full edge table
    every round, the dominant cost at sf1). Each round then pays
    exactly TWO exchanges: the labels shuffle into the join, and one
    repartition("src") of the joined rows that BOTH the (src,label)
    hash-aggregate and the per-node top-1 window ride —
    HashPartitioning(src) satisfies the aggregate's clustering
    requirement on (src,label) (src is a subset of the keys) and the
    window's partitionBy(src), so neither inserts its own exchange
    (a bare groupBy(src,label) re-shuffled its output a third time
    for the window; map-side combine bought nothing back because a
    node's neighbor labels are mostly distinct within a partition,
    so the partial aggregate barely shrank the join output).
    Multi-edges deliberately count twice (both engines): edge
    multiplicity IS the tie-strength weight. (Tried and rejected:
    max_by instead of the rank window — the struct-ordered ObjectAgg
    measured slower than the window sort at every SF.)
    """
    edges = build_edges(spark, sf_dir).select("src", "dst")
    ue_plan = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).repartition("dst")
    c = load(spark, sf_dir, "customer")
    labels = c.select(
        F.col("c_custkey").alias("node"), F.col("c_custkey").alias("label")
    )
    with materialize(ue_plan, "g_label_propagation edges") as (ue, _):
        for _ in range(_LP_ITERS):
            neigh = (
                ue.join(
                    labels.select(F.col("node").alias("dst"), "label")
                    .hint("shuffle_hash"),
                    "dst",
                )
                .repartition("src")
                .groupBy("src", "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            w = W.partitionBy("src").orderBy(F.desc("c"), F.asc("label"))
            labels = (
                neigh.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select(F.col("src").alias("node"), "label")
            )
        # The final labels (|V| rows — the same 4-round computation
        # the caller's action would run, done once) are materialized
        # so the 2|E|-row edge pin can be freed.
        labels, _ = materialize(labels, "g_label_propagation labels")
    return labels


# ---------------------------------------------------------------------------
# link prediction: neighbor-set Jaccard similarity
# ---------------------------------------------------------------------------

_JACCARD_MIN_PPM = 300_000  # keep pairs with neighbor-Jaccard >= 0.30


@register(
    "g_neighbor_jaccard",
    oracle=f"""
    WITH edges AS ({EDGES_SQL}),
    sym AS (
        SELECT src AS v, dst AS n FROM edges WHERE src <> dst
        UNION
        SELECT dst AS v, src AS n FROM edges WHERE src <> dst
    ),
    deg AS (SELECT v, COUNT(*) AS d FROM sym GROUP BY v),
    co AS (
        SELECT s1.v AS node_a, s2.v AS node_b, COUNT(*) AS common
        FROM sym s1 JOIN sym s2 ON s1.n = s2.n AND s1.v < s2.v
        GROUP BY s1.v, s2.v
    )
    SELECT node_a, node_b, common,
           da.d AS deg_a, db.d AS deg_b,
           (1000000 * common) // (da.d + db.d - common) AS jaccard_ppm
    FROM co
    JOIN deg da ON da.v = node_a
    JOIN deg db ON db.v = node_b
    WHERE (1000000 * common) // (da.d + db.d - common)
          >= {_JACCARD_MIN_PPM}
    """,
)
def g_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard (the classic
    common-neighbors similarity the reference's equivalency engine
    implies when two identifiers share most of their equivalents,
    `monitor.py:74-89`): for every node pair with at least one
    common neighbor, |N(a) ∩ N(b)| / |N(a) ∪ N(b)| in exact ppm
    integer arithmetic, kept when >= 0.30. Self-loops are dropped
    and edges are symmetrized + deduplicated first.

    Scale shape: the candidate pairs come from a co-neighbor
    equi-join (two sym-table scans joined on the shared neighbor),
    so work is sum-over-nodes of deg^2 — the standard triangle/
    co-occurrence bound — never all-pairs. At 100 TB the guard is
    capping hub degrees (drop or sample neighbors of celebrity
    nodes above a threshold) exactly as in the degree-ordered
    triangle count (g_triangle_count); degrees here are bounded by
    the edge generator (<= 4).
    """
    edges = build_edges(spark, sf_dir).where(F.col("src") != F.col("dst"))
    sym = (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("n"))
        .unionByName(
            edges.select(F.col("dst").alias("v"), F.col("src").alias("n"))
        )
        .distinct()
    )
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    s1 = sym.select(F.col("v").alias("node_a"), "n")
    s2 = sym.select(F.col("v").alias("node_b"), "n")
    co = (
        s1.join(s2, "n")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        co.join(deg.select(F.col("v").alias("node_a"),
                           F.col("d").alias("deg_a")), "node_a")
        .join(deg.select(F.col("v").alias("node_b"),
                         F.col("d").alias("deg_b")), "node_b")
        .withColumn(
            "jaccard_ppm",
            F.expr("(1000000 * common) DIV (deg_a + deg_b - common)"),
        )
        .where(F.col("jaccard_ppm") >= _JACCARD_MIN_PPM)
    )
    return out.select(
        "node_a", "node_b", "common", "deg_a", "deg_b", "jaccard_ppm"
    )


# ---------------------------------------------------------------------------
# bipartite projection: co-fulfillment supplier graph with lift
# ---------------------------------------------------------------------------

# g_bipartite_project and a_assoc_rules scan/dedup the SAME
# (l_orderkey, l_suppkey) projection, shuffle it on the same key,
# share the same pair-count numerator (confidence and lift differ
# only in denominators), AND both broadcast the same two
# denominators. _basket_and_pairs persists the four intermediates
# (basket, undirected pair counts, per-supplier counts, 1-row order
# count); Spark's CacheManager matches the rebuilt plans to the
# persisted ones, so a batch or dashboard refresh that runs both
# queries does the heavy work once; release_session_caches frees
# the frames. Each call still rebuilds and analyses the four plans
# on the driver (about 35 ms at sf0.1, uncontended). Every frame is
# counter-sized (distinct basket lines; distinct co-occurring pairs;
# one row per supplier; one scalar), so MEMORY_AND_DISK persistence
# is safe at any SF.
def _basket_and_pairs(spark: SparkSession, sf_dir: str):
    from pyspark import StorageLevel

    li = load(spark, sf_dir, "lineitem")
    # Partitioning: one explicit exchange on l_orderkey up front.
    # HashPartitioning(l_orderkey) satisfies the clustered
    # distribution of the (l_orderkey, l_suppkey) dedup, BOTH sides
    # of the order-key self-join, and the per-order count — so the
    # dedup, the join, and n_orders all run exchange-free on top of
    # this single shuffle (measured: 1.70 -> 1.49 s at sf0.1); the
    # cached frame preserves that partitioning for every consumer.
    os_ = (
        li.select("l_orderkey", "l_suppkey")
        .repartition("l_orderkey")
        .dropDuplicates(["l_orderkey", "l_suppkey"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Measured plan choice (sf1, 60M lineitem rows): this
    # distinct + order-key self-join spelling runs 5.9 s; the
    # "one-shuffle" alternative — collect_set per order + array-side
    # pair generation — measured 20 s, because the object-hash
    # collect_set over the full fact table costs more than the extra
    # columnar shuffle it saves. Kept the join.
    a = os_.select("l_orderkey", F.col("l_suppkey").alias("supp_a"))
    b = os_.select("l_orderkey", F.col("l_suppkey").alias("supp_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).alias("weight"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sc = (
        os_.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = (
        os_.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("sz"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return os_, pairs, sc, n


_LIFT_MIN_PPM = 1_100_000  # keep pairs with lift >= 1.1x independence


@register(
    "g_bipartite_project",
    oracle=f"""
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM os),
    sc AS (SELECT l_suppkey, COUNT(*) AS c FROM os GROUP BY l_suppkey),
    pairs AS (
        SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
               COUNT(*) AS weight
        FROM os a JOIN os b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY a.l_suppkey, b.l_suppkey
    )
    SELECT supp_a, supp_b, weight,
           (1000000 * weight * n.n_orders) // (ca.c * cb.c) AS lift_ppm
    FROM pairs
    JOIN sc ca ON ca.l_suppkey = supp_a
    JOIN sc cb ON cb.l_suppkey = supp_b
    CROSS JOIN n
    WHERE (1000000 * weight * n.n_orders) // (ca.c * cb.c)
          >= {_LIFT_MIN_PPM}
    """,
)
def g_bipartite_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite-to-unipartite projection (market-basket style): the
    order→supplier bipartite graph projected onto suppliers, edge
    weight = number of orders both suppliers fulfilled, kept when
    the LIFT — observed co-occurrence over the independence
    expectation, weight·N / (c_a·c_b) — is >= 1.1 in exact ppm
    integer arithmetic. Lift makes the threshold scale-invariant:
    the same query works at sf0.001 and 100 TB without retuning an
    absolute count cutoff.

    Scale shape: distinct-project the bipartite edges, self-join on
    the order key (work bounded by per-order supplier count squared
    — <= 13 lines per order in this schema, and real baskets are
    similarly bounded), one hash-aggregate per pair, then two
    per-node joins and a broadcast 1-row scalar for N. No all-pairs
    stage anywhere; skew guard at scale is the usual hot-basket cap.
    The basket and pair-count intermediates are persisted
    (_basket_and_pairs) and shared with a_assoc_rules through
    Spark's CacheManager.
    """
    _os, pairs, sc, n = _basket_and_pairs(spark, sf_dir)
    out = (
        pairs.join(
            F.broadcast(sc.select(F.col("l_suppkey").alias("supp_a"),
                                  F.col("c").alias("ca"))), "supp_a")
        .join(
            F.broadcast(sc.select(F.col("l_suppkey").alias("supp_b"),
                                  F.col("c").alias("cb"))), "supp_b")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "lift_ppm",
            F.expr("(1000000 * weight * n_orders) DIV (ca * cb)"),
        )
        .where(F.col("lift_ppm") >= _LIFT_MIN_PPM)
    )
    return out.select("supp_a", "supp_b", "weight", "lift_ppm")


# ---------------------------------------------------------------------------
# association rules: directional confidence over co-fulfillment pairs
# ---------------------------------------------------------------------------

_RULE_MIN_CONF_PPM = 50_000  # keep rules with confidence >= 5%


@register(
    "a_assoc_rules",
    oracle=f"""
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM os),
    sc AS (SELECT l_suppkey, COUNT(*) AS c FROM os GROUP BY l_suppkey),
    p AS (
        SELECT a.l_suppkey AS antecedent, b.l_suppkey AS consequent,
               COUNT(*) AS w
        FROM os a JOIN os b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_suppkey <> b.l_suppkey
        GROUP BY a.l_suppkey, b.l_suppkey
    )
    SELECT p.antecedent, p.consequent, p.w AS n_joint,
           (1000000 * p.w) // ca.c AS confidence_ppm,
           (1000000 * p.w) // n.n_orders AS support_ppm
    FROM p
    JOIN sc ca ON ca.l_suppkey = p.antecedent
    CROSS JOIN n
    WHERE (1000000 * p.w) // ca.c >= {_RULE_MIN_CONF_PPM}
    """,
)
def a_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules over the co-fulfillment
    baskets: confidence(a→b) = P(b | a) in exact ppm, with joint
    support — the rule-mining metric that complements
    g_bipartite_project's symmetric lift (lift says the pair
    co-occurs beyond chance; confidence says which DIRECTION the
    implication is strong in, the quantity a recommender thresholds
    on). Rules kept at confidence >= 5% — confidence is already
    row-normalized, so the threshold is scale-invariant like the
    lift one.

    Scale shape: identical to the projection — and it literally
    SHARES the projection's intermediates: the persisted basket and
    the undirected pair counts from _basket_and_pairs, which Spark's
    CacheManager serves to both queries (the directed
    w(a,b) for a ≠ b equals the unordered pair's weight, so the
    directed table is the undirected one unioned with its swap — a
    map-side mirror, no second self-join). Broadcast antecedent
    totals and the 1-row order count finish it.
    """
    _os, pairs, sc, n = _basket_and_pairs(spark, sf_dir)
    p = pairs.select(
        F.col("supp_a").alias("antecedent"),
        F.col("supp_b").alias("consequent"),
        F.col("weight").alias("w"),
    ).unionByName(
        pairs.select(
            F.col("supp_b").alias("antecedent"),
            F.col("supp_a").alias("consequent"),
            F.col("weight").alias("w"),
        )
    )
    return (
        p.join(
            F.broadcast(sc.select(F.col("l_suppkey").alias("antecedent"),
                                  F.col("c").alias("ca"))), "antecedent")
        .crossJoin(F.broadcast(n))
        .where(F.expr(f"(1000000 * w) DIV ca >= {_RULE_MIN_CONF_PPM}"))
        .select(
            "antecedent",
            "consequent",
            F.col("w").alias("n_joint"),
            F.expr("(1000000 * w) DIV ca").alias("confidence_ppm"),
            F.expr("(1000000 * w) DIV n_orders").alias("support_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# degree distribution: the graph's shape profile
# ---------------------------------------------------------------------------


@register(
    "g_degree_distribution",
    oracle=f"""
    WITH edges AS ({EDGES_SQL}),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst
    ),
    deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY node
    ),
    hist AS (SELECT d AS degree, COUNT(*) AS n_nodes FROM deg GROUP BY d),
    tot AS (SELECT SUM(n_nodes) AS t FROM hist)
    SELECT degree, n_nodes,
           CAST((1000000 * SUM(n_nodes) OVER (
                    ORDER BY degree ROWS UNBOUNDED PRECEDING))
                // (SELECT t FROM tot) AS BIGINT) AS cum_nodes_ppm
    FROM hist
    """,
)
def g_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the undirected equivalency graph with the
    cumulative node share in exact ppm — the shape profile (how
    heavy is the tail?) a graph pipeline reads before choosing skew
    strategies: a hot node that would blow up the wedge join in
    g_triangle_count or the label shuffle in g_label_propagation
    shows up here first, as mass far right of cum ≈ 99%.

    Reference: cluster-size sanity checks before merges
    (`viaf.py:777-798` picks among candidate clusters; degree shape
    is the aggregate version of that per-cluster signal).

    Scale design: distinct-edge dedup and per-node degree count are
    the usual hash aggregates; the HISTOGRAM is bounded by the
    number of DISTINCT degrees (≤ max degree, in practice O(100)
    buckets for power-law graphs), so everything after the degree
    count is counter-sized. The cumulative share rides the
    range-bucketed prefix operator over that bounded table — no
    global single-partition window even in the worst case.
    """
    from metadata_wrangler_spark.operators import prefix
    from metadata_wrangler_spark.operators.driver_fetch import fetch_at_most

    edges = build_edges(spark, sf_dir)
    und = _undirected(edges).distinct()
    deg = _degrees(und)
    hist = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    # Two-tier finish: the histogram is the OUTPUT and is bounded by
    # the distinct degree count — when it fits a bounded driver
    # collect, the cumulative share is a driver cumsum (one job); the
    # sqrt(2m)-degrees pathological case falls back to the
    # distributed prefix operator. Finishing on global_order_stats
    # alone measured -0.13 to +0.16 s per run against this (sf0.01
    # and sf0.1, 4 cores): no clear win, so the driver tier stays.
    tbl = fetch_at_most(hist, prefix._DRIVER_TOTALS_MAX, "graph_degree_hist")
    if tbl is not None:
        rows = sorted(tbl.to_pylist(), key=lambda r: r["degree"])
        total = sum(r["n_nodes"] for r in rows)
        out, run = [], 0
        for r in rows:
            run += r["n_nodes"]
            out.append(
                (r["degree"], r["n_nodes"], (1000000 * run) // total)
            )
        return spark.createDataFrame(
            out, "degree bigint, n_nodes bigint, cum_nodes_ppm bigint"
        )
    cum = prefix.global_order_stats(
        hist, [F.asc("degree")], cum_cols=["n_nodes"], rank_col=None,
        total_col="__nb",
    )
    return cum.select(
        "degree",
        "n_nodes",
        F.expr("CAST((1000000 * cum_n_nodes) DIV tot_n_nodes AS BIGINT)")
        .alias("cum_nodes_ppm"),
    )


# ---------------------------------------------------------------------------
# degree assortativity: do hubs link to hubs?
# ---------------------------------------------------------------------------


@register(
    "g_assortativity",
    oracle=f"""
    WITH edges AS ({EDGES_SQL}),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst
    ),
    deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY node
    ),
    de AS (
        SELECT da.d AS x, db.d AS y
        FROM und
        JOIN deg da ON da.node = und.a
        JOIN deg db ON db.node = und.b
    ),
    s AS (
        -- symmetrized moments derived from ONE pass over the edge
        -- list: adding the mirrored pair (y,x) for every (x,y)
        -- gives sx = sy = SUM(x + y), sxy = 2*SUM(x*y),
        -- sxx = syy = SUM(x^2 + y^2), and n doubles.
        SELECT 2 * COUNT(*) AS n,
               SUM(CAST(x AS HUGEINT) + y) AS sx,
               SUM(CAST(x AS HUGEINT) + y) AS sy,
               2 * SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x + CAST(y AS HUGEINT) * y) AS sxx,
               SUM(CAST(x AS HUGEINT) * x + CAST(y AS HUGEINT) * y) AS syy
        FROM de
    )
    SELECT n AS n_edge_ends,
           CAST((1000000 * (n * sxy - sx * sy))
                // NULLIF(CAST(floor(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)))
                       AS HUGEINT), 0) AS BIGINT) AS assortativity_ppm
    FROM s
    """,
)
def g_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the equivalency graph: the Pearson
    correlation between the degrees at the two ends of every edge
    (Newman's r) in ppm — positive means hubs prefer hubs (social
    shape), negative means hubs fan out to leaves (star/broadcast
    shape). Together with g_degree_distribution this pins the
    graph's shape class before choosing skew strategies for the
    closure and propagation plans.

    Exactness: all five moments accumulate in HUGEINT over the
    symmetrized edge-end pairs; the single irrational step
    (√ of the two variance products) runs on the exact integer
    moments in one correctly-rounded double sqrt, floored back to
    integer before the ppm division — both engines execute the
    identical chain.

    Scale design: distinct-edge dedup, degree count, two node-key
    joins to annotate edge ends, one 6-moment aggregate — every
    stage a hash join/aggregate on node keys, counters only after
    the joins.
    """
    edges = build_edges(spark, sf_dir)
    # Round-9 floor cut: repartition on `a` BEFORE the dedup —
    # HashPartitioning(a) satisfies the distinct's clustering on
    # (a, b) (equal pairs co-locate under any superset-key hash) AND
    # the degree join on `a`, so one exchange serves both where the
    # old spelling paid a (a,b) exchange for the dedup plus another
    # on `a` for the join.
    und = (
        _undirected(edges).repartition("a").dropDuplicates(["a", "b"]).cache()
    )
    deg = _degrees(und)
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("x"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("y"))
    de = und.join(da, "a").join(db, "b").select("x", "y")
    # symmetrized moments from ONE pass (no union): over the
    # implicit {(x,y)} U {(y,x)} multiset, sx = sy = SUM(x+y),
    # sxy = 2*SUM(xy), sxx = syy = SUM(x^2 + y^2), n doubles.
    d38 = "decimal(38,0)"
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    s = de.agg(
        (2 * F.count(F.lit(1))).alias("n"),
        F.sum((xd + yd).cast(d38)).alias("sx"),
        F.sum((xd + yd).cast(d38)).alias("sy"),
        (F.lit(2).cast(d38) * F.sum((xd * yd).cast(d38))).alias("sxy"),
        F.sum((xd * xd + yd * yd).cast(d38)).alias("sxx"),
        F.sum((xd * xd + yd * yd).cast(d38)).alias("syy"),
    )
    return s.select(
        F.col("n").alias("n_edge_ends"),
        F.expr(
            "CAST((1000000 * (n * sxy - sx * sy))"
            " DIV NULLIF(CAST(floor(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
            "            * CAST(n * syy - sy * sy AS DOUBLE)))"
            "      AS DECIMAL(38,0)), 0) AS BIGINT)"
        ).alias("assortativity_ppm"),
    )
