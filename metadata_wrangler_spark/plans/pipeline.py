"""Composed pipeline plans — the reference's §3.3 coverage-provider
lifecycle and §1.3 nested-Metadata application, each as ONE
oracle-checked DAG.

These are the integration proof: every stage is an operator that
also ships standalone (queue anti-join, TTL cache fetch, XML parse,
policy merge, nested explode), composed exactly the way the cron
pipeline in the reference chains them.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from metadata_wrangler_spark.catalog import load
from metadata_wrangler_spark.operators import merge
from metadata_wrangler_spark.plans import register
from metadata_wrangler_spark.sources import http_cache, xmlsrc


def _classify_xml(tag: str, ident: str) -> str:
    return (
        '<classify><workList>'
        f'<work title="{tag}{ident}" author="Author {ident}" '
        f'owi="{ident}" editions="1" holdings="2"/>'
        "</workList></classify>"
    )


def _xml_fetcher(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Fake remote classify endpoint: deterministic XML per url
    (title prefix 'F' marks a live fetch; cache rows carry 'C')."""
    for pdf in batches:
        ids = pdf["url"].map(lambda u: re.search(r"c([0-9]+)$", u).group(1))
        yield pd.DataFrame({
            "url": pdf["url"],
            "content": ids.map(lambda i: _classify_xml("F", i)),
        })


@register(
    "pipe_provider_end_to_end",
    oracle="""
    WITH latest AS (
        SELECT o_custkey, o_orderstatus FROM (
            SELECT o_custkey, o_orderstatus,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC,
                                               o_orderkey DESC) AS rn
            FROM orders
        ) t WHERE rn = 1
    ), needs AS (
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey % 3 = 0
          AND NOT EXISTS (
              SELECT 1 FROM latest l
              WHERE l.o_custkey = c_custkey AND l.o_orderstatus = 'F'
          )
    ), resolved AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 4 = 0 THEN 'cache' ELSE 'fetch' END
                   AS via,
               CASE WHEN c_custkey % 4 = 0
                    THEN 'C' || CAST(c_custkey AS VARCHAR)
                    ELSE 'F' || CAST(c_custkey AS VARCHAR) END AS new_title
        FROM needs
    )
    SELECT c_custkey AS key,
           CASE WHEN c_custkey % 7 = 0 THEN
                    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_name END
                ELSE new_title END AS title,
           'Author ' || CAST(c_custkey AS VARCHAR) AS author,
           via
    FROM resolved
    """,
)
def pipe_provider_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 end to end: coverage queue → needs-coverage anti-join →
    TTL'd cached fetch (cache hits short-circuit, misses go through
    the Arrow-batched fetcher) → XML parse → policy-guarded metadata
    merge (staged NULL titles never clobber).

    Reference chain: `coverage_provider.py:273-354` (resolution
    pipeline), `viaf.py:829-841` (Representation.get),
    `oclc/classify.py:68-128` (parse), `Metadata.apply` call sites.
    Every stage is the standalone operator; this plan is the proof
    they compose.
    """
    # 1. the catalog's identifiers and the coverage queue's state
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") % 3 == 0)
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    covered = (
        o.select("o_custkey", "o_orderstatus",
                 F.row_number().over(w).alias("rn"))
        .where((F.col("rn") == 1) & (F.col("o_orderstatus") == "F"))
        .select("o_custkey")
    )
    # The identifier spine is read THREE times downstream (the fetch
    # requests, plus cached_get's hit/miss split re-running its
    # upstream, plus the merge's `current` side) — checkpoint it so
    # the orders window + anti-join run once, not three times
    # (neutral at bench scale where `needs` is cheap; load-bearing at
    # real scale where the window is the expensive subtree).
    needs = (
        c.join(covered, c.c_custkey == covered.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .localCheckpoint(eager=False)
    )

    # 2. cached fetch: cache rows exist (fresh) for custkey%4==0
    url = F.concat(F.lit("https://classify.example.org/c"),
                   F.col("c_custkey").cast("string"))
    requests = needs.select(url.alias("url"))
    cache_rows = (
        load(spark, sf_dir, "customer")
        .where((F.col("c_custkey") % 3 == 0) & (F.col("c_custkey") % 4 == 0))
        .select(
            url.alias("url"),
            F.concat(
                F.lit('<classify><workList><work title="C'),
                F.col("c_custkey").cast("string"),
                F.lit('" author="Author '),
                F.col("c_custkey").cast("string"),
                F.lit('" owi="'), F.col("c_custkey").cast("string"),
                F.lit('" editions="1" holdings="2"/></workList></classify>'),
            ).alias("content"),
            F.lit("2024-01-10").cast("timestamp").alias("fetched_at"),
        )
    )
    resolved = http_cache.cached_get(
        requests, cache_rows, now="2024-01-15 00:00:00",
        max_age_seconds=30 * 24 * 3600, fetcher=_xml_fetcher,
    )

    # 3. parse the payloads (one row per <work>)
    parsed = xmlsrc.parse_classify(
        resolved.withColumnsRenamed({"content": "xml"}), "xml"
    ).select(
        F.regexp_extract("url", r"c([0-9]+)$", 1).cast("bigint").alias("key"),
        F.col("title").alias("staged_title"),
        F.col("author").alias("staged_author"),
        F.col("source").alias("via"),
    )

    # 4. policy merge onto current editions: staged titles for
    # custkey%7==0 are nulled to exercise the null-guard; current
    # titles for custkey%5==0 are null (recoverable)
    staged = parsed.select(
        "key",
        F.when(F.col("key") % 7 == 0, F.lit(None))
        .otherwise(F.col("staged_title")).alias("title"),
        F.col("staged_author").alias("author"),
        "via",
    )
    current = needs.select(
        F.col("c_custkey").alias("key"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("c_name")).alias("title"),
        F.lit(None).cast("string").alias("author"),
        F.lit(None).cast("string").alias("via"),
    )
    post = merge.policy_merge(
        current, staged, ["key"], ["title", "author", "via"],
        insert_missing=False,
    )
    return post.select("key", "title", "author", "via")


@register(
    "pipe_lookup_urn",
    oracle="""
    WITH reqs AS (
        SELECT CASE
                 WHEN c_custkey % 3 = 0
                     THEN 'urn:isbn:c' || CAST(c_custkey AS VARCHAR)
                 WHEN c_custkey % 3 = 1
                     THEN 'urn:isbn:x' || CAST(c_custkey AS VARCHAR)
                 ELSE 'badurn:' || CAST(c_custkey AS VARCHAR)
               END AS urn
        FROM customer WHERE c_custkey % 11 = 0
    ), parsed AS (
        SELECT urn,
               regexp_extract(urn, '^urn:isbn:(.+)$', 1) AS body,
               CASE WHEN regexp_matches(urn, '^urn:isbn:c[0-9]+$')
                    THEN CAST(regexp_extract(urn, '^urn:isbn:c([0-9]+)$', 1)
                              AS BIGINT) END AS key
        FROM reqs
    ), latest AS (
        SELECT o_custkey FROM (
            SELECT o_custkey, o_orderstatus,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC,
                                               o_orderkey DESC) AS rn
            FROM orders
        ) t WHERE rn = 1 AND o_orderstatus = 'F'
    )
    SELECT p.urn,
           CASE WHEN p.body = '' THEN 400
                WHEN c.c_custkey IS NULL THEN 404
                WHEN l.o_custkey IS NOT NULL THEN 200
                ELSE 202 END AS status,
           CASE WHEN p.body = '' THEN 'Could not parse identifier.'
                WHEN c.c_custkey IS NULL
                    THEN 'Identifier not found in collection'
                WHEN l.o_custkey IS NOT NULL THEN c.c_name
                ELSE 'Metadata needed.' END AS message
    FROM parsed p
    LEFT JOIN customer c ON c.c_custkey = p.key
    LEFT JOIN latest l ON l.o_custkey = c.c_custkey
    """,
)
def pipe_lookup_urn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 end to end: the `GET /lookup?urn=…` read-or-compute path —
    URN parse (malformed → 400), identifier resolution against the
    catalog (missing → 404 OPDSMessage), coverage check (resolved →
    200 + entry, unresolved → 202 "Metadata needed.").

    Reference chain: urn parse `controller.py:344,513`, lookup
    dispatch `controller.py:1111-1128`, OPDSMessage statuses
    `controller.py:566-607` (matching sources/opds.py). The request
    set is synthesized deterministically from the catalog so the
    oracle can mirror it: %3==0 known ids, %3==1 well-formed but
    unknown, else malformed.
    """
    c = load(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    reqs = c.where(key % 11 == 0).select(
        F.when(key % 3 == 0,
               F.concat(F.lit("urn:isbn:c"), key.cast("string")))
        .when(key % 3 == 1,
              F.concat(F.lit("urn:isbn:x"), key.cast("string")))
        .otherwise(F.concat(F.lit("badurn:"), key.cast("string")))
        .alias("urn")
    )
    parsed = reqs.select(
        "urn",
        F.regexp_extract("urn", r"^urn:isbn:(.+)$", 1).alias("body"),
        F.when(
            F.col("urn").rlike(r"^urn:isbn:c[0-9]+$"),
            F.regexp_extract("urn", r"^urn:isbn:c([0-9]+)$", 1)
            .cast("bigint"),
        ).alias("key"),
    )
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    latest = (
        load(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderstatus",
                F.row_number().over(w).alias("rn"))
        .where((F.col("rn") == 1) & (F.col("o_orderstatus") == "F"))
        .select("o_custkey")
    )
    ident = c.select("c_custkey", "c_name")
    joined = (
        parsed.join(ident, parsed.key == ident.c_custkey, "left")
        .join(latest, F.col("c_custkey") == latest.o_custkey, "left")
    )
    status = (
        F.when(F.col("body") == "", F.lit(400))
        .when(F.col("c_custkey").isNull(), F.lit(404))
        .when(F.col("o_custkey").isNotNull(), F.lit(200))
        .otherwise(F.lit(202))
    )
    message = (
        F.when(F.col("body") == "", F.lit("Could not parse identifier."))
        .when(F.col("c_custkey").isNull(),
              F.lit("Identifier not found in collection"))
        .when(F.col("o_custkey").isNotNull(), F.col("c_name"))
        .otherwise(F.lit("Metadata needed."))
    )
    return joined.select(
        "urn", status.alias("status"), message.alias("message")
    )


@register(
    "pipe_updates_feed",
    oracle="""
    WITH updated AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_seen_epoch
        FROM events
        WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY user_id
    )
    SELECT user_id, n_events, last_seen_epoch,
           (SELECT COUNT(*) FROM updated) AS feed_total
    FROM updated
    WHERE user_id > 40
    ORDER BY user_id ASC
    LIMIT 35
    """,
)
def pipe_updates_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 end to end: the `GET /updates?last_update_time=…` feed —
    high-watermark incremental filter (pushes to the scan; partition
    pruning on a date-partitioned 100 TB layout), per-work rollup,
    one keyset page (cursor > 40, page size 35 = the reference's
    UPDATES_SIZE), and the feed-size probe the controller uses to
    decide whether a next-page link is emitted.

    Reference chain: param parse `controller.py:417-427`, updated
    works query `controller.py:434-461`, UPDATES_SIZE=35
    `controller.py:365-369`, feed-size probe `controller.py:396`.
    """
    from metadata_wrangler_spark.operators.pagination import keyset_page

    from metadata_wrangler_spark.catalog import events_since
    ev = events_since(spark, sf_dir, "2024-01-20 00:00:00")
    updated = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor(F.unix_timestamp(F.max("ts"))).cast("bigint")
        .alias("last_seen_epoch"),
    )
    # feed-size probe as a scalar subquery (stays lazy — no driver
    # action), broadcast onto the page rows
    total = updated.agg(F.count(F.lit(1)).alias("feed_total"))
    page = keyset_page(updated, "user_id", last_seen=40, size=35)
    return page.join(F.broadcast(total)).select(
        "user_id", "n_events", "last_seen_epoch", "feed_total"
    )


@register(
    "pipe_metadata_nested_apply",
    oracle="""
    WITH meta AS (
        SELECT p_partkey AS identifier_id,
               list_value(
                   struct_pack(stype := 'DDC',
                               sid := CAST(p_partkey % 100 AS VARCHAR),
                               weight := 10),
                   struct_pack(stype := 'FAST',
                               sid := p_brand,
                               weight := CAST(p_size AS INT))
               ) AS subjects
        FROM part WHERE p_partkey % 3 = 1
    ), exploded AS (
        SELECT identifier_id, unnest(subjects, recursive := true)
        FROM meta
    )
    SELECT stype AS subject_type, sid AS subject_id,
           COUNT(*) AS n_identifiers,
           CAST(SUM(weight) AS BIGINT) AS total_weight
    FROM exploded
    GROUP BY 1, 2
    """,
)
def pipe_metadata_nested_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.3: the nested Metadata record — ARRAY<STRUCT> satellite
    columns exploded into per-satellite tables and re-aggregated
    (the classification-weight accumulation of `identifier.classify`).

    Reference: the Metadata DTO schema (SURVEY.md §1.3),
    `oclc/classify.py:980-990` (classify = append + re-aggregate),
    `:233-249` (weight accumulation).
    """
    p = load(spark, sf_dir, "part").where(F.col("p_partkey") % 3 == 1)
    meta = p.select(
        F.col("p_partkey").alias("identifier_id"),
        F.array(
            F.struct(
                F.lit("DDC").alias("stype"),
                (F.col("p_partkey") % 100).cast("string").alias("sid"),
                F.lit(10).alias("weight"),
            ),
            F.struct(
                F.lit("FAST").alias("stype"),
                F.col("p_brand").alias("sid"),
                F.col("p_size").cast("int").alias("weight"),
            ),
        ).alias("subjects"),
    )
    exploded = meta.select(
        "identifier_id", F.explode("subjects").alias("s")
    ).select("identifier_id", "s.stype", "s.sid", "s.weight")
    return exploded.groupBy(
        F.col("stype").alias("subject_type"),
        F.col("sid").alias("subject_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_identifiers"),
        F.sum("weight").cast("bigint").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# composed LLM-corpus curation pipeline (the training-data §3.3 twin)
# ---------------------------------------------------------------------------

_CURATE_QUALITY_MIN = 0.45


def _curation_oracle_sql() -> str:
    from metadata_wrangler_spark.plans.documents import (
        _DECON_EVAL_PRED,
        _DECON_N,
        _lsh_pairs_ctes,
        _shingles_sql,
        _WORDS_SQL,
        _count_token_sql,
    )

    stop_sum = " + ".join(
        _count_token_sql(t) for t in ("the", "a", "and", "is", "of")
    )
    return f"""
    WITH RECURSIVE {_lsh_pairs_ctes()},
    sym AS (
        SELECT id_a AS a, id_b AS b FROM lsh_pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM lsh_pairs
    ),
    walk(node, lbl) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.b, w.lbl FROM walk w JOIN sym s ON s.a = w.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk
        GROUP BY node
    ),
    clustered AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               d.n_chars
        FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    rep AS (
        SELECT doc_id, cluster_id,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM clustered
    ),
    ws AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    evs AS (
        SELECT DISTINCT unnest({_shingles_sql(_DECON_N)}) AS sh
        FROM ws WHERE {_DECON_EVAL_PRED}
    ),
    contam AS (
        SELECT DISTINCT t.doc_id FROM (
            SELECT doc_id, unnest({_shingles_sql(_DECON_N)}) AS sh
            FROM ws WHERE NOT ({_DECON_EVAL_PRED})
        ) t JOIN evs USING (sh)
    ),
    qual AS (
        SELECT doc_id,
               CASE WHEN len({_WORDS_SQL}) < 10 THEN 0.0
                    ELSE 0.5 * least(len({_WORDS_SQL}) / 100.0, 1.0)
                         + 0.5 * (len(list_distinct({_WORDS_SQL}))
                                  / len({_WORDS_SQL})) END AS quality
        FROM documents
    )
    SELECT r.doc_id, r.cluster_id,
           CASE WHEN r.doc_id % 13 = 7 THEN 'eval_holdout'
                WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                WHEN r.rn > 1 THEN 'near_dup'
                WHEN q.quality < {_CURATE_QUALITY_MIN} THEN 'low_quality'
                ELSE 'kept' END AS verdict
    FROM rep r
    LEFT JOIN contam ct ON ct.doc_id = r.doc_id
    JOIN qual q ON q.doc_id = r.doc_id
    """


@register("pipe_corpus_curation", oracle=_curation_oracle_sql())
def pipe_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-training-data twin of pipe_provider_end_to_end: one
    DAG that runs the full corpus-curation policy and emits a
    verdict per document — 'eval_holdout' (the benchmark slice is
    never trained on), 'contaminated' (shares a 5-gram with the
    holdout, dd_decontaminate's rule), 'near_dup' (MinHash-LSH
    cluster member that is not the longest representative,
    dd_cluster_keep's rule), 'low_quality' (the txt_quality_score
    heuristic under {_CURATE_QUALITY_MIN}), else 'kept'. First
    failing gate wins, mirroring how production mixes order the
    cheap-to-expensive filters.

    Every stage is an operator that also ships standalone; this
    query is the integration proof that they compose in one plan.
    Scale shape: each gate keeps its standalone shape (broadcast
    eval shingles, linear LSH banding, checkpointed components,
    per-cluster window, codegen quality expression) and the final
    assembly is three per-doc-keyed left joins.
    """
    from metadata_wrangler_spark.operators import closure, dedup, textstats
    from metadata_wrangler_spark.plans.documents import (
        _BANDS,
        _DECON_EVAL_PRED,
        _DECON_N,
        _NUM_HASHES,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS
    )
    cc = closure.connected_components(pairs, src="id_a", dst="id_b")
    clustered = (
        docs.select("doc_id", "n_chars")
        .join(
            cc.select(
                F.col("node").alias("doc_id"),
                F.col("component").alias("cluster_id"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            "n_chars",
        )
    )
    rep = clustered.select(
        "doc_id",
        "cluster_id",
        F.row_number().over(
            W.partitionBy("cluster_id")
            .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        ).alias("rn"),
    )
    ev = docs.where(F.expr(_DECON_EVAL_PRED))
    tr = docs.where(~F.expr(_DECON_EVAL_PRED))
    evs = (
        dedup.distinct_shingles(ev, "doc_id", "text", _DECON_N)
        .select("sh").distinct()
    )
    contam = (
        dedup.distinct_shingles(tr, "doc_id", "text", _DECON_N)
        .join(F.broadcast(evs), "sh")
        .select(F.col("id").alias("doc_id"))
        .distinct()
        .withColumn("is_contam", F.lit(1))
    )
    qual = textstats.quality_score(docs).select("doc_id", "quality")
    return (
        rep.join(contam, "doc_id", "left")
        .join(qual, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            F.when(F.col("doc_id") % 13 == 7, "eval_holdout")
            .when(F.col("is_contam").isNotNull(), "contaminated")
            .when(F.col("rn") > 1, "near_dup")
            .when(F.col("quality") < _CURATE_QUALITY_MIN, "low_quality")
            .otherwise("kept")
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# composed semantic-search serving pipeline
# ---------------------------------------------------------------------------

_SEARCH_POOL = 10   # LSH candidate pool reranked exactly
_SEARCH_K = 5       # final results per query
_SEARCH_THETA = 0.4  # diversity radius (see sim_diversified_topk)


def _search_oracle_sql() -> str:
    from metadata_wrangler_spark.plans.vectors import (
        _DOT,
        _NORM,
        _PLANES,
        _QUERY_PRED,
    )

    plane_lits = [
        "[" + ", ".join(repr(x) for x in row) + "]::DOUBLE[]"
        for row in _PLANES
    ]
    bucket = " + ".join(
        f"(CASE WHEN {_DOT.format(a='embedding', b=p)} >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(plane_lits)
    )

    def r6(x: str) -> str:
        return (f"((CASE WHEN {x} < 0 THEN -1.0 ELSE 1.0 END)"
                f" * CAST(floor(abs({x}) * 1000000 + 0.5) AS BIGINT)"
                f" / 1000000.0)")

    cos_qc = (f"{_DOT.format(a='q.qvec', b='c.embedding')}"
              f" / ({_NORM.format(a='q.qvec')}"
              f" * {_NORM.format(a='c.embedding')})")
    cos_ab = (f"{_DOT.format(a='a.vec', b='b.vec')}"
              f" / ({_NORM.format(a='a.vec')} * {_NORM.format(a='b.vec')})")
    norm_txt = r"trim(regexp_replace(lower(d.text), '\s+', ' ', 'g'))"
    return f"""
    WITH b AS (
        SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qvec, bucket
        FROM b WHERE {_QUERY_PRED}
    ), cand AS (
        SELECT query_id, corpus_id, vec, cosine, rank FROM (
            SELECT q.query_id, c.vec_id AS corpus_id,
                   c.embedding AS vec, {r6(cos_qc)} AS cosine,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                                      ORDER BY {r6(cos_qc)} DESC,
                                               c.vec_id ASC) AS rank
            FROM b c JOIN q ON q.bucket = c.bucket
                           AND q.query_id <> c.vec_id
        ) t WHERE rank <= {_SEARCH_POOL}
    ), dominated AS (
        SELECT DISTINCT b.query_id, b.corpus_id
        FROM cand a JOIN cand b
          ON a.query_id = b.query_id AND a.rank < b.rank
        WHERE {r6(cos_ab)} > {_SEARCH_THETA}
    ), final AS (
        SELECT query_id, corpus_id, cosine, div_rank FROM (
            SELECT c.query_id, c.corpus_id, c.cosine,
                   ROW_NUMBER() OVER (PARTITION BY c.query_id
                                      ORDER BY c.cosine DESC,
                                               c.corpus_id ASC) AS div_rank
            FROM cand c
            WHERE NOT EXISTS (SELECT 1 FROM dominated x
                              WHERE x.query_id = c.query_id
                                AND x.corpus_id = c.corpus_id)
        ) t WHERE div_rank <= {_SEARCH_K}
    )
    SELECT f.query_id, f.corpus_id, f.cosine, f.div_rank,
           d.lang, d.source,
           array_to_string(
               list_slice(string_split({norm_txt}, ' '), 1, 8), ' ')
               AS snippet
    FROM final f JOIN documents d ON d.doc_id = f.corpus_id
    """


@register("pipe_semantic_search", oracle=_search_oracle_sql())
def pipe_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-search SERVING pipeline, end to end in one DAG:
    hyperplane-LSH candidate generation (the 100 TB tier — corpus
    hashed once, bucket equi-join), exact cosine rerank of the
    {_SEARCH_POOL}-candidate pool, pairwise-dominance
    diversification (sim_diversified_topk's rule), and a metadata
    join that decorates the final top-{_SEARCH_K} with the matched
    document's language, source, and an 8-word snippet — the row a
    search API actually returns. Every stage ships standalone
    (sim_lsh_topk / sim_cosine_topk / sim_diversified_topk /
    catalog join); this query is the composition proof, like
    pipe_provider_end_to_end for the metadata side and
    pipe_corpus_curation for the training-data side.

    Scale shape: candidate generation is the only stage that sees
    the corpus (one scan + bucket equi-join); everything after is
    bounded by |Q|·pool — rerank, C² dominance pairs, and a
    broadcast-able doc-metadata join on the final handful of ids.
    """
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators import similarity
    from metadata_wrangler_spark.operators.dedup import normalize_text
    from metadata_wrangler_spark.operators.similarity import (
        dot, norm, round6,
    )
    from metadata_wrangler_spark.plans.vectors import _PLANES, _QUERY_PRED

    emb = load(spark, sf_dir, "embeddings")
    cand = similarity.lsh_cosine_topk(
        emb, None, _PLANES, k=_SEARCH_POOL,
        query_pred=lambda c: c % 101 == 0,
    ).join(
        emb.select(
            F.col("vec_id").alias("corpus_id"),
            F.col("embedding").alias("vec"),
        ),
        "corpus_id",
    )
    a = cand.select(
        "query_id", F.col("rank").alias("rank_a"),
        F.col("vec").alias("vec_a"),
    )
    b = cand.select(
        "query_id", "corpus_id", F.col("rank").alias("rank_b"),
        F.col("vec").alias("vec_b"),
    )
    pair_cos = round6(
        dot(F.col("vec_a"), F.col("vec_b"))
        / (norm(F.col("vec_a")) * norm(F.col("vec_b")))
    )
    dominated = (
        a.join(b, "query_id")
        .where(F.col("rank_a") < F.col("rank_b"))
        .where(pair_cos > _SEARCH_THETA)
        .select("query_id", "corpus_id")
        .distinct()
    )
    wq = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    final = (
        cand.join(dominated, ["query_id", "corpus_id"], "left_anti")
        .withColumn("div_rank", F.row_number().over(wq))
        .where(F.col("div_rank") <= _SEARCH_K)
        .select("query_id", "corpus_id", "cosine", "div_rank")
    )
    # join FIRST, build the snippet after: the regex normalization +
    # split/slice runs on the |Q|·k joined rows, not on every corpus
    # document (Catalyst prunes columns down through a projection but
    # never defers row-wise expression work past a join — measured
    # r10: the full-corpus normalize was most of this pipeline's wall)
    docs = load(spark, sf_dir, "documents")
    meta = docs.select(
        F.col("doc_id").alias("corpus_id"), "lang", "source", "text",
    )
    return final.join(meta, "corpus_id").select(
        "query_id", "corpus_id", "cosine", "div_rank",
        "lang", "source",
        F.array_join(
            F.slice(F.split(normalize_text(F.col("text")), " "), 1, 8), " "
        ).alias("snippet"),
    )
