"""Named query plans — the engine's public query surface.

Every operator family from SURVEY.md §2.11 is exposed as a named
query: a callable ``(spark, sf_dir) -> DataFrame`` registered in
``QUERIES``, paired (where SQL-expressible) with an ANSI-SQL oracle
string in ``ORACLES`` that DuckDB runs on the same parquet tables.

Numeric-stability convention: any aggregate over DOUBLE columns goes
through an exact DECIMAL(18,4) accumulation and is cast back to
DOUBLE, so Spark and the oracle produce bit-identical values
regardless of floating-point summation order (which differs between
engines and, at scale, between partitionings of the same data).
Non-aggregated doubles pass through untouched — they are the same
bits in both engines.

NULL convention (round 7, enforced by tools/null_ladder.py and
tests/test_null_ladder.py): rows whose MEASURE / WEIGHT / PAYLOAD is
NULL are excluded from the computation on BOTH engines (the SQL
aggregate rule, applied before ranks, ECDFs, selections, top-k lists
and serialized source payloads — the places where engine defaults
silently diverge: Spark orders NULLS FIRST ascending, DuckDB NULLS
LAST; DuckDB's max_by skips NULL values, Spark's does not; || nulls
a concatenation, concat_ws skips the field). NULL GROUP KEYS are
real groups (NULL-safe joins where an oracle joins group summaries
back). Each plan/oracle pair states its rule inline, AND declares it
under a named convention in ``plans/null_rules.py`` —
``tests/test_null_convention.py`` fails any oracle whose NULL
constructs are undeclared, so per-query rules cannot drift from the
documented convention (round-7 verdict, governance item).

Empty-input convention (round 8, enforced by tools/empty_ladder.py
and tests/test_empty_ladder.py): every query over an EMPTY input
returns an EMPTY result — Spark's grouping-set/aggregate plans
expand from the input rows, so there is no ANSI one-row-of-NULLs
global aggregate and no zero-count grand-total ROLLUP/CUBE row;
oracles align with ``HAVING COUNT(*) > 0`` (a no-op on any
non-empty input) or by seeding recursions from the node/row set
instead of bare literals. Empty inputs are every cold-start
partition and every predicate-prunes-everything incremental run at
100 TB, so the whole 221-query surface is pinned against a
zero-row mirror: plans must neither crash (unguarded ``rows[0]``
probes, zero-length numpy tiers) nor drift from their oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator registering a plan under ``name`` with an optional
    DuckDB oracle. Plans without an oracle get a rows-only check."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness gate hash-checks the FIRST
# VERIFICATION_WINDOW entries of `queries()` each round (dict
# iteration order); VERIFICATION_PRIORITY is curated to exactly that
# many. Every registered query is also covered by pytest's
# all-queries oracle sweep (tests/test_all_oracles.py, sf0.001).
VERIFICATION_WINDOW = 50

# WINDOW POLICY: a new or rewritten query lands at the FRONT of
# VERIFICATION_PRIORITY in the change that makes it, so no query
# goes unverified by the driver. Remaining slots go to the
# previously-green queries whose last driver verification is OLDEST
# (stalest-first rotation), with every SURVEY.md §2 family keeping
# at least one representative.
VERIFICATION_PRIORITY: tuple[str, ...] = (
    # Block 1 — plans whose rows come from code changed since their
    # last driver check (window policy: a rewritten plan re-certifies
    # in the window), led by the carry-over g_triangle_count.
    "g_triangle_count",         # carry-over; logged size tier
    "ev_gap_percentiles",       # carry-over; local_frame, size tier
    "a_percentile_disc",        # lazy join against local_frame picks
    "a_mad_robust",             # local_frame result
    "a_weighted_median",        # local_frame result
    "txt_contamination_frac",   # capped eval-shingle fetch
    "sim_ivf_topk",             # query rows from the scan
    "g_shortest_path",          # local tier via local_frame
    "g_transitive_closure",     # local tier via local_frame
    "g_connected_components",   # local tier via local_frame
    "sim_quantized_topk",       # kernel is the only scoring path
    "sim_pq_topk",              # kernel is the only scoring path
    "g_pagerank",               # displaced r10; r11 lazy result plan
    "ev_matview_refresh",       # displaced r10; r11 bootstrap fold
    "s_cached_fetch",           # displaced r10 (drain fix)
    "sim_lsh_multitable_topk",  # displaced r10; r11 ANN cap raise
    "a_gini_coefficient",       # r11 rank-moment kernel; local_frame
    "ev_time_to_convert",       # r11 selection rewrite; local_frame
    "dd_ngram_jaccard",         # r11: shingle kernel + sized pairs
    "dd_ngram_jaccard_pruned",  # r11 shingle kernel; lazy cutoff
    "dd_minhash_lsh",           # r11: Arrow signature fold
    "f_title_token_jaccard",    # r11: block-local pair kernel
    "pipe_corpus_curation",     # r11: Arrow signature fold (via LSH)
    "dd_minhash_clusters",      # connected_components local tier gate
    "dd_cluster_keep",          # connected_components local tier gate
    # Block 2 — the r6-stale block, covered since round 6 by the
    # pytest all-oracle sweep and the mirror ladders. Twelve of it
    # made room for Block 1 (reasons in CHANGES.md).
    "a_ks_drift",
    "a_moments_skew_kurt",
    "a_mutual_info",
    "d_cdc_apply",
    "d_status_transitions",
    "dd_est_vs_exact",
    "ev_activity_streaks",
    "ev_attribution_credit",
    "ev_seasonal_anomaly",
    "f_binary_prefix",
    "g_degree_distribution",    # also: local_frame result
    "j_anti_join_queue",
    "j_asof_nearest",
    "j_band_join",
    "j_bloom_prune",
    "mm_image_features",
    "p_projection_filter",
    "s_compaction_plan",
    "sim_cosine_topk",
    "sim_label_outliers",
    "so_except_intersect",
    "txt_bpe_merge_step",
    "txt_pii_scrub",
    "txt_repetition_filter",
    "w_topk_per_group",
)


if len(VERIFICATION_PRIORITY) != VERIFICATION_WINDOW:  # not assert: -O
    raise ValueError(
        f"VERIFICATION_PRIORITY has {len(VERIFICATION_PRIORITY)} entries; "
        f"the driver window is {VERIFICATION_WINDOW}"
    )


def ordered_queries() -> dict[str, QueryFn]:
    """QUERIES re-keyed so VERIFICATION_PRIORITY names come first
    (in that order), then everything else in registration order."""
    missing = [n for n in VERIFICATION_PRIORITY if n not in QUERIES]
    if missing:
        raise KeyError(f"VERIFICATION_PRIORITY names not registered: {missing}")
    rest = [n for n in QUERIES if n not in set(VERIFICATION_PRIORITY)]
    return {n: QUERIES[n] for n in (*VERIFICATION_PRIORITY, *rest)}


def release_session_caches(spark) -> None:
    """Drop every persisted intermediate and nudge the JVM so the
    ContextCleaner reclaims unreachable localCheckpoint blocks.

    This is the only release point. Plans persist shared
    intermediates (the basket-analytics frames of
    g_bipartite_project/a_assoc_rules, dd_source_overlap's shingle
    baskets, the pairwise scorers' tables) and never unpersist them;
    Spark's CacheManager matches a rebuilt plan to the persisted one,
    so cross-query reuse needs no memo of our own. That reuse is a
    deliberate WORKLOAD property — bench.py's concurrent batch keeps
    it. But a PER-QUERY measurement harness must release it between
    queries, or one query's pinned storage distorts every successor:
    measured at the 100x ladder, a_iqr_outliers read 30.7 s inside
    the ladder session vs 3.1 s standalone — the tfidf/basket frames
    persisted by earlier queries had squeezed execution memory into
    spilling. tools/bench_vs_oracle.py calls this between queries;
    long-lived production sessions running heterogeneous queries (or
    switching scale factors) should do the same at workload
    boundaries.

    The JVM-GC nudge is a classic-session extra: under Spark Connect
    there is no ``sparkContext``/``_jvm`` bridge, so the nudge is
    skipped and the cache clearing above still runs (the server's
    own GC reclaims checkpoint blocks on its schedule)."""
    spark.catalog.clearCache()
    # Unreachable pins wait for a driver JVM GC (operators/lineage.py).
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # Spark Connect / no JVM bridge
        pass


def load_all_plans() -> None:
    """Import every plan module so registration side effects run,
    then apply the cross-module oracle rewrites."""
    from metadata_wrangler_spark.plans import (  # noqa: F401
        documents,
        dml,
        events,
        functions,
        graph,
        pipeline,
        relational,
        sources,
        vectors,
    )

    _apply_null_vector_rule()


def _apply_null_vector_rule() -> None:
    """Rewrite the vector-family oracles so every scan of the
    ``embeddings`` table excludes NULL vectors — matching the
    Spark-side rule (the Arrow scorers and bucket projections drop
    NULL payloads at operator entry; see the NULL-content sweep in
    tests/test_empty_inputs.py and the NULL-ladder equivalence sweep
    in tools/null_ladder.py). Without this, a NULL embedding reaches
    the oracle's dot/norm arithmetic as NULL, ranks under NULLS
    LAST, and pads top-k lists the plan correctly omits.

    A registration-time rewrite rather than 23 hand edits: the
    substitution is a word-boundary table-reference swap, so aliased
    scans (``embeddings c``), comma joins and WHERE-suffixed scans
    all keep their shape. Idempotent (the rewritten text no longer
    contains the bare table token in vector oracles it already
    wrapped — the inner reference is inside the replacement subquery
    and rewriting it again is harmless but guarded anyway).

    Guarded against the two spellings a blind token swap would
    corrupt (round-7 advice): a QUALIFIED column reference
    (``embeddings.vec_id`` — the swap would yield the invalid
    ``(SELECT ...).vec_id``) and a CTE/alias that REBINDS the name
    (``WITH embeddings AS`` / ``AS embeddings`` — the swap would
    silently change which relation the query reads). Either pattern
    raises at registration time with instructions to hand-write the
    NULL rule inline instead; every rewritten oracle is then executed
    end-to-end by tests/test_all_oracles.py and the NULL-ladder
    sweep, so a rewrite that parses but misbehaves cannot go green.
    """
    import re

    nn = "(SELECT * FROM embeddings WHERE embedding IS NOT NULL)"
    pat = re.compile(r"\bembeddings\b(?!\s*WHERE embedding IS NOT NULL\))"
                     r"(?!\.)")
    hazards = re.compile(
        r"\bembeddings\s*\.|\bWITH\s+embeddings\b|\bAS\s+embeddings\b",
        re.IGNORECASE,
    )
    for name, sql in list(ORACLES.items()):
        if name.startswith(("sim_", "pipe_")) and "embeddings" in sql:
            if hazards.search(sql):
                raise ValueError(
                    f"oracle {name!r} uses a qualified 'embeddings.' "
                    "reference or rebinds the name as a CTE/alias; the "
                    "automatic NULL-vector rewrite would corrupt it — "
                    "write the IS NOT NULL rule into the SQL by hand"
                )
            ORACLES[name] = pat.sub(nn, sql)
