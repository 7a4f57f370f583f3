"""Similarity-search plans over the ``embeddings`` table
(`array<float>` column) — brute-force exact cosine top-k as the
correctness baseline, hyperplane-LSH bucketing as the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_wrangler_spark.catalog import load
from metadata_wrangler_spark.operators import similarity
from metadata_wrangler_spark.operators.driver_fetch import fetch_capped
from metadata_wrangler_spark.plans import register
from metadata_wrangler_spark.session import local_frame

# Query set: a deterministic slice of the corpus.
_QUERY_PRED = "vec_id % 101 = 0"
_K = 5


# DuckDB spelling of the deterministic sequential-fold dot product /
# norm used by operators.similarity (both engines fold doubles left
# to right, so values match bit-for-bit before the safety rounding).
_DOT = ("list_sum(list_transform(list_zip(CAST({a} AS DOUBLE[]), "
        "CAST({b} AS DOUBLE[])), x -> x[1] * x[2]))")
_NORM = ("sqrt(list_sum(list_transform(CAST({a} AS DOUBLE[]), "
         "x -> x * x)))")


@register(
    "sim_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE {_QUERY_PRED}
    ), scored AS (
        SELECT q.query_id, c.vec_id AS corpus_id,
               ((CASE WHEN {_DOT.format(a='q.qvec', b='c.embedding')}
                   / ({_NORM.format(a='q.qvec')} * {_NORM.format(a='c.embedding')}) < 0 THEN -1.0 ELSE 1.0 END) * CAST(floor(abs({_DOT.format(a='q.qvec', b='c.embedding')}
                   / ({_NORM.format(a='q.qvec')} * {_NORM.format(a='c.embedding')})) * 1000000 + 0.5) AS BIGINT) / 1000000.0) AS cosine
        FROM embeddings c
        JOIN q ON q.query_id <> c.vec_id
    )
    SELECT query_id, corpus_id, cosine, rank FROM (
        SELECT query_id, corpus_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM scored
    ) t
    WHERE rank <= {_K}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k for a broadcast query set —
    one corpus scan, per-query top-k. The baseline ANN tier, scored
    by the Arrow-vectorized path (bit-identical to the HOF fold in
    similarity.cosine_topk, which remains the pure-expression
    spelling)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.expr(_QUERY_PRED))
    return similarity.cosine_topk_arrow(emb, queries, k=_K)


def _fixed_planes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no RNG state,
    reproducible across runs and languages).

    The top 32 bits of the LCG state map to [-1, 1) — the components
    must be symmetric around zero or the "random" directions all
    correlate (an earlier [-1, 0) spelling concentrated 47% of the
    corpus into 2 of 64 sign-pattern buckets, inflating the candidate
    join ~7× and gutting recall-per-candidate).
    """
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 32) / float(1 << 31)) - 1.0)
        planes.append(row)
    return planes


_PLANES = _fixed_planes(n_planes=6, dim=64, seed=42)


def _r6(x: str) -> str:
    """DuckDB: ``x`` rounded half away from zero to 1e-6."""
    return (f"((CASE WHEN {x} < 0 THEN -1.0 ELSE 1.0 END)"
            f" * CAST(floor(abs({x}) * 1000000 + 0.5) AS BIGINT)"
            f" / 1000000.0)")


def _bucket_expr_sql(vec: str, planes: list[list[float]]) -> str:
    plane_lits = [
        "[" + ", ".join(repr(x) for x in row) + "]::DOUBLE[]"
        for row in planes
    ]
    return " + ".join(
        f"(CASE WHEN {_DOT.format(a=vec, b=p)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(plane_lits)
    )


def _lsh_oracle_sql() -> str:
    """DuckDB twin of the hyperplane bucketing: the plane constants
    are embedded as DOUBLE[] literals (repr round-trips the exact
    bits), so both engines compute identical sign-pattern buckets."""
    return f"""
    WITH b AS (
        SELECT vec_id, embedding,
               {_bucket_expr_sql('embedding', _PLANES)} AS bucket
        FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qvec, bucket
        FROM b WHERE {_QUERY_PRED}
    ), scored AS (
        SELECT q.query_id, c.vec_id AS corpus_id,
               ((CASE WHEN {_DOT.format(a='q.qvec', b='c.embedding')}
                   / ({_NORM.format(a='q.qvec')} * {_NORM.format(a='c.embedding')}) < 0 THEN -1.0 ELSE 1.0 END) * CAST(floor(abs({_DOT.format(a='q.qvec', b='c.embedding')}
                   / ({_NORM.format(a='q.qvec')} * {_NORM.format(a='c.embedding')})) * 1000000 + 0.5) AS BIGINT) / 1000000.0) AS cosine
        FROM b c
        JOIN q ON q.bucket = c.bucket AND q.query_id <> c.vec_id
    )
    SELECT query_id, corpus_id, cosine, rank FROM (
        SELECT query_id, corpus_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM scored
    ) t
    WHERE rank <= {_K}
    """


@register("sim_lsh_topk", oracle=_lsh_oracle_sql())
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed cosine top-k — the 100 TB path.

    Planes are derived from a fixed seed (reproducible), so the
    DuckDB oracle embeds the same plane constants and hash-checks the
    bucketed result exactly; recall@k vs the exact tier is asserted
    in tests/test_similarity.py.
    """
    emb = load(spark, sf_dir, "embeddings")
    return similarity.lsh_cosine_topk(
        emb, None, _PLANES, k=_K,
        query_pred=lambda c: c % 101 == 0,
    )


def _lsh_probe_oracle_sql() -> str:
    """Multi-probe twin of the LSH oracle: each query also probes the
    6 buckets at Hamming distance 1 from its own (p=0 keeps the home
    bucket; p=1..6 flips bit p-1). A corpus vector holds exactly one
    bucket, so probe hits are already distinct pairs."""
    bucket = _bucket_expr_sql("embedding", _PLANES)
    n = len(_PLANES)
    return f"""
    WITH b AS (
        SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qvec, bucket
        FROM b WHERE {_QUERY_PRED}
    ), probes AS (
        SELECT query_id, qvec,
               CASE WHEN p = 0 THEN bucket
                    ELSE xor(bucket, (1 << (p - 1))) END AS bucket
        FROM q, UNNEST(range(0, {n + 1})) AS t(p)
    ), scored AS (
        SELECT pr.query_id, c.vec_id AS corpus_id,
               ((CASE WHEN {_DOT.format(a='pr.qvec', b='c.embedding')}
                   / ({_NORM.format(a='pr.qvec')} * {_NORM.format(a='c.embedding')}) < 0 THEN -1.0 ELSE 1.0 END) * CAST(floor(abs({_DOT.format(a='pr.qvec', b='c.embedding')}
                   / ({_NORM.format(a='pr.qvec')} * {_NORM.format(a='c.embedding')})) * 1000000 + 0.5) AS BIGINT) / 1000000.0) AS cosine
        FROM b c
        JOIN probes pr ON pr.bucket = c.bucket
                      AND pr.query_id <> c.vec_id
    )
    SELECT query_id, corpus_id, cosine, rank FROM (
        SELECT query_id, corpus_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM scored
    ) t
    WHERE rank <= {_K}
    """


@register("sim_lsh_probe_topk", oracle=_lsh_probe_oracle_sql())
def sim_lsh_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane LSH top-k: each query probes its own
    bucket plus the 6 at Hamming distance 1 (the sign bits nearest a
    hyperplane are the ones that flip for near neighbours) — ~7×
    recall lift for 7 probe keys on the QUERY side only; the corpus
    is still hashed once and the join stays an equi-join."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.lsh_cosine_topk(
        emb, None, _PLANES, k=_K, probe_hamming=1,
        query_pred=lambda c: c % 101 == 0,
    )


# --- multi-table LSH (the recall lever for wide-angle corpora) ------------

_N_TABLES = 8
_TABLE_BITS = 3
_TABLES = [
    _fixed_planes(n_planes=_TABLE_BITS, dim=64, seed=1000 + t)
    for t in range(_N_TABLES)
]


def _multitable_oracle_sql() -> str:
    per_table = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, embedding, {t} AS table_no, "
        f"{_bucket_expr_sql('embedding', planes)} AS bucket FROM embeddings"
        for t, planes in enumerate(_TABLES)
    )
    return f"""
    WITH cb AS (
        {per_table}
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qvec, table_no, bucket
        FROM cb WHERE {_QUERY_PRED}
    ), cand AS (
        SELECT DISTINCT q.query_id, c.vec_id AS corpus_id,
               q.qvec, c.embedding AS cvec
        FROM cb c
        JOIN q ON q.table_no = c.table_no AND q.bucket = c.bucket
              AND q.query_id <> c.vec_id
    ), scored AS (
        SELECT query_id, corpus_id,
               ((CASE WHEN {_DOT.format(a='qvec', b='cvec')}
                   / ({_NORM.format(a='qvec')} * {_NORM.format(a='cvec')}) < 0 THEN -1.0 ELSE 1.0 END) * CAST(floor(abs({_DOT.format(a='qvec', b='cvec')}
                   / ({_NORM.format(a='qvec')} * {_NORM.format(a='cvec')})) * 1000000 + 0.5) AS BIGINT) / 1000000.0) AS cosine
        FROM cand
    )
    SELECT query_id, corpus_id, cosine, rank FROM (
        SELECT query_id, corpus_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM scored
    ) t
    WHERE rank <= {_K}
    """


@register("sim_lsh_multitable_topk", oracle=_multitable_oracle_sql())
def sim_lsh_multitable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane LSH (8 tables x 3 bits) — the recall
    lever when neighbours sit at wide angles: a candidate needs to
    collide in ANY table (catch prob 1-(1-p^3)^8 vs p^6 single
    table). tests/test_similarity.py pins recall@5 >= 0.9 with the
    24-table configuration; this plan hash-checks the 8-table
    mechanism end to end against DuckDB."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.expr(_QUERY_PRED))
    # The bucket projection is CPU-bound (L×b dot folds per vector)
    # and the sf parquet is one small file → one input split;
    # spread it across cores first. At cluster scale the scan is
    # already many splits and this repartition is a no-op to remove.
    # (The query side deliberately does NOT reuse the corpus branch:
    # it would inherit this repartition and serialize behind it.)
    corpus = emb.repartition(spark.sparkContext.defaultParallelism)
    return similarity.lsh_cosine_topk_multitable(
        corpus, queries, _TABLES, k=_K
    )


# --- IVF (inverted-file) ANN tier -----------------------------------------

_N_CENTROIDS = 16
_NPROBE = 2
# Deterministic coarse centroids (same LCG as the hyperplanes). At
# production scale these come from a sampled k-means job; the plan
# shape — argmax-cell assignment + nprobe probing — is identical.
_CENTROIDS = _fixed_planes(n_planes=_N_CENTROIDS, dim=64, seed=7)


def _ivf_oracle_sql() -> str:
    cent_lits = [
        "[" + ", ".join(repr(x) for x in row) + "]::DOUBLE[]"
        for row in _CENTROIDS
    ]
    scores = "list_value(" + ", ".join(
        _DOT.format(a="embedding", b=c) for c in cent_lits
    ) + ")"
    return f"""
    WITH cs AS (
        SELECT vec_id, embedding, {scores} AS scores
        FROM embeddings
    ), assigned AS (
        SELECT vec_id, embedding,
               list_indexof(scores, list_aggregate(scores, 'max')) - 1 AS cell
        FROM cs
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qvec, scores
        FROM cs WHERE {_QUERY_PRED}
    ), qp AS (
        SELECT query_id, qvec, cell FROM (
            SELECT query_id, qvec, i - 1 AS cell,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY scores[i] DESC, i ASC) AS rn
            FROM q, UNNEST(range(1, {_N_CENTROIDS + 1})) AS t(i)
        ) WHERE rn <= {_NPROBE}
    ), scored AS (
        SELECT qp.query_id, c.vec_id AS corpus_id,
               ((CASE WHEN {_DOT.format(a='qp.qvec', b='c.embedding')}
                   / ({_NORM.format(a='qp.qvec')} * {_NORM.format(a='c.embedding')}) < 0 THEN -1.0 ELSE 1.0 END) * CAST(floor(abs({_DOT.format(a='qp.qvec', b='c.embedding')}
                   / ({_NORM.format(a='qp.qvec')} * {_NORM.format(a='c.embedding')})) * 1000000 + 0.5) AS BIGINT) / 1000000.0) AS cosine
        FROM assigned c
        JOIN qp ON qp.cell = c.cell AND qp.query_id <> c.vec_id
    )
    SELECT query_id, corpus_id, cosine, rank FROM (
        SELECT query_id, corpus_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM scored
    ) t
    WHERE rank <= {_K}
    """


@register("sim_ivf_topk", oracle=_ivf_oracle_sql())
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate cosine top-k — the data-adaptive ANN tier.

    Every corpus vector is assigned to its nearest coarse centroid
    (argmax dot over {_N_CENTROIDS} cells); each query probes its
    2 best cells. One Arrow pass assigns cells AND scores each cell
    block against the queries probing it — no candidate join, no
    per-pair interpreted HOF dot. At cluster scale the cell
    assignment is written once as cell-partitioned parquet and a
    query batch reads only its probed cells (partition pruning = the
    IVF inverted lists).
    Complements the LSH tiers: same shape, but the partition follows
    the corpus's own geometry rather than random hyperplanes.
    """
    emb = load(spark, sf_dir, "embeddings")
    # queries off the scan: a slice of the repartitioned corpus would
    # shuffle it all for the build-time query fetch (2 jobs, not 1)
    queries = emb.where(F.expr(_QUERY_PRED))
    corpus = emb.repartition(spark.sparkContext.defaultParallelism)
    return similarity.ivf_cosine_topk(
        corpus, queries, _CENTROIDS, k=_K, nprobe=_NPROBE
    )


# --- embedding-cosine near-duplicate pairs (dedup tier) -------------------

_DUP_THRESHOLD = 0.35  # tuned to the synthetic corpus (top-pair ~0.42)


def _cosine_pairs_oracle_sql() -> str:
    bucket = _bucket_expr_sql("embedding", _PLANES)
    return f"""
    WITH b AS (
        SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ((CASE WHEN {_DOT.format(a='a.embedding', b='b.embedding')}
               / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}) < 0 THEN -1.0 ELSE 1.0 END) * CAST(floor(abs({_DOT.format(a='a.embedding', b='b.embedding')}
               / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')})) * 1000000 + 0.5) AS BIGINT) / 1000000.0) AS cosine
    FROM b a
    JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ((CASE WHEN {_DOT.format(a='a.embedding', b='b.embedding')}
               / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}) < 0 THEN -1.0 ELSE 1.0 END) * CAST(floor(abs({_DOT.format(a='a.embedding', b='b.embedding')}
               / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')})) * 1000000 + 0.5) AS BIGINT) / 1000000.0) >= {_DUP_THRESHOLD}
    """


@register("dd_embedding_cosine", oracle=_cosine_pairs_oracle_sql())
def dd_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the semantic dedup
    tier: LSH-bucketed candidate self-join (same 6-bit sign pattern
    → candidates; never all-pairs) + exact cosine threshold.

    Candidate recall follows the single-table LSH curve measured in
    tests/test_similarity.py; for exhaustive semantic dedup stack
    more tables exactly as in sim_lsh_multitable_topk.
    """
    emb = load(spark, sf_dir, "embeddings")
    b = similarity.hyperplane_buckets(emb, _PLANES)
    # One shuffle on the bucket key; each bucket's pairwise cosine
    # matrix is Arrow-vectorized (bit-identical to the expression
    # fold — see cosine_pairs_arrow).
    return similarity.cosine_pairs_arrow(b, threshold=_DUP_THRESHOLD)


# --- SemDeDup-style semantic pruning --------------------------------------


def _semantic_prune_oracle_sql() -> str:
    cent_lits = [
        "[" + ", ".join(repr(x) for x in row) + "]::DOUBLE[]"
        for row in _CENTROIDS
    ]
    scores = "list_value(" + ", ".join(
        _DOT.format(a="embedding", b=c) for c in cent_lits
    ) + ")"
    return f"""
    WITH cs AS (
        SELECT vec_id, embedding, {scores} AS scores
        FROM embeddings
    ), assigned AS (
        SELECT vec_id, embedding,
               list_indexof(scores, list_aggregate(scores, 'max')) - 1 AS cell
        FROM cs
    ), pairs AS (
        SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
               ((CASE WHEN {_DOT.format(a='a.embedding', b='b.embedding')}
                   / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}) < 0 THEN -1.0 ELSE 1.0 END) * CAST(floor(abs({_DOT.format(a='a.embedding', b='b.embedding')}
                   / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')})) * 1000000 + 0.5) AS BIGINT) / 1000000.0) AS cosine
        FROM assigned a
        JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
    )
    SELECT id_b AS pruned_id,
           CAST(MIN(cell) AS INT) AS cell,
           MIN(id_a) AS dup_of,
           COUNT(*) AS n_dup_partners
    FROM pairs
    WHERE cosine >= {_DUP_THRESHOLD}
    GROUP BY id_b
    """


@register("dd_semantic_prune", oracle=_semantic_prune_oracle_sql())
def dd_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023): cluster
    the corpus into coarse cells (argmax-centroid, the IVF
    assignment), then within each cell drop every vector that has a
    near-duplicate (cosine >= threshold) with a SMALLER id — the
    deterministic keep-first rule. Emits the prune log: each pruned
    vector, its cell, its lowest-id duplicate partner, and how many
    smaller-id partners it had.

    Cross-cell duplicates are not candidates — that is SemDeDup's
    own documented approximation (duplicates cluster together). For
    exact transitive duplicate GROUPS, feed the same pairs into
    operators.closure.connected_components (the dd_minhash_clusters
    pattern).

    Scale shape: equi-join on cell id, quadratic only within a cell;
    at 100 TB the centroid count grows with the corpus (k ~ N/1e5)
    so cell occupancy — and per-cell cost — stays bounded, and the
    cell assignment is written once as cell-partitioned parquet.
    """
    emb = load(spark, sf_dir, "embeddings")
    assigned = similarity.ivf_assign(emb, _CENTROIDS).select(
        "vec_id", "embedding", "cell"
    )
    pairs = similarity.cosine_pairs_arrow(
        assigned.withColumnRenamed("cell", "bucket"),
        threshold=_DUP_THRESHOLD,
    )
    pruned = pairs.groupBy("id_b").agg(
        F.min("id_a").alias("dup_of"),
        F.count(F.lit(1)).alias("n_dup_partners"),
    )
    return pruned.join(
        assigned.select(F.col("vec_id").alias("id_b"), "cell"), "id_b"
    ).select(
        F.col("id_b").alias("pruned_id"),
        F.col("cell").cast("int").alias("cell"),
        "dup_of",
        "n_dup_partners",
    )


# --- IVF training: one distributed k-means (Lloyd) step -------------------


def _ivf_train_oracle_sql() -> str:
    cent_lits = [
        "[" + ", ".join(repr(x) for x in row) + "]::DOUBLE[]"
        for row in _CENTROIDS
    ]
    scores = "list_value(" + ", ".join(
        _DOT.format(a="embedding", b=c) for c in cent_lits
    ) + ")"
    dim = len(_CENTROIDS[0])
    return f"""
    WITH cs AS (
        SELECT vec_id, embedding, {scores} AS scores
        FROM embeddings
    ), assigned AS (
        SELECT vec_id, embedding,
               list_indexof(scores, list_aggregate(scores, 'max')) - 1 AS cell
        FROM cs
    ), dims AS (
        SELECT cell, CAST(i - 1 AS INT) AS pos,
               CAST(embedding[i] AS DOUBLE) AS v
        FROM assigned, UNNEST(range(1, {dim + 1})) AS t(i)
    )
    SELECT CAST(cell AS INT) AS cell, pos,
           COUNT(*) AS n_members,
           CAST(floor(SUM(CAST(floor(v * 10000 + 0.5) AS BIGINT))
                      / 10000.0 / COUNT(*) * 1000000 + 0.5) AS BIGINT)
               / 1000000.0 AS mean
    FROM dims
    GROUP BY 1, 2
    """


@register("sim_ivf_train_step", oracle=_ivf_train_oracle_sql())
def sim_ivf_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed k-means (Lloyd) step for the IVF coarse
    quantizer, as pure DataFrame ops: assign every vector to its
    argmax-centroid cell, then emit the per-(cell, dimension) member
    count and mean — the refreshed centroid components. This is the
    "sampled k-means job" the IVF tier's docstring defers to,
    actually shipped.

    Scale shape (round-10 fused kernel): one Arrow pass
    (`operators.similarity.ivf_partial_moments`) scores, assigns AND
    folds each batch into per-(cell, pos) int64 partial aggregates —
    the shuffle feeding the final (cell, pos) aggregation carries at
    most tasks x k x dim partial rows instead of the posexplode's
    dim-fanned full stream, and the 16x64 HOF score evaluation per
    row becomes numpy multiply-adds. Iterating K steps is a driver
    loop over this plan with the new centroids re-broadcast each
    round (same checkpoint cadence as operators/closure.py); at
    100 TB you train on a deterministic hash-sample
    (txt_mixture_sample's gate) and assign the full corpus once.

    Means derive from integer partial sums (associative), so the
    refreshed centroids are bit-identical across engines and
    partitionings; the final re-quantization uses the explicit floor
    trick, NOT a DECIMAL cast: double→decimal tie rounding differs
    between engines on boundary values; floor(x*1e6+0.5) is the
    same IEEE chain everywhere.
    """
    emb = load(spark, sf_dir, "embeddings")
    partial = similarity.ivf_partial_moments(emb, _CENTROIDS)
    return (
        partial.groupBy("cell", "pos")
        .agg(
            F.sum("cnt").alias("n_members"),
            (
                F.floor(
                    (F.sum("qsum") / F.lit(10000.0))
                    / F.sum("cnt")
                    * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / F.lit(1000000.0)
            ).alias("mean"),
        )
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("pos").cast("int").alias("pos"),
            "n_members",
            "mean",
        )
    )


# ---------------------------------------------------------------------------
# ANN tier: int8 scalar quantization + exact rerank
# ---------------------------------------------------------------------------

_COS_ROUND = ("((CASE WHEN {c} < 0 THEN -1.0 ELSE 1.0 END) "
              "* CAST(floor(abs({c}) * 1000000 + 0.5) AS BIGINT) "
              "/ 1000000.0)")
_COS_RAW = (f"{_DOT.format(a='q.qvec', b='c.v')} "
            f"/ ({_NORM.format(a='q.qvec')} * {_NORM.format(a='c.v')})")


def _rank_and_rerank(emb: DataFrame, scored: DataFrame, order) -> DataFrame:
    """The compression tiers' finish: the global per-query top-_K of
    a kernel's (query_id, corpus_id, score) batch top-k rows
    (``order``, then corpus id), each winner with the exact cosine of
    its raw vectors. The |Q|·k winners broadcast back against the
    raw-vector projection."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(order, F.asc("corpus_id"))
    winners = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _K)
    )
    vv = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("v"),
    )
    rer = vv.withColumnRenamed("vec_id", "corpus_id").join(
        F.broadcast(winners.join(
            F.broadcast(vv.select(
                F.col("vec_id").alias("query_id"),
                F.col("v").alias("qvec"),
            )),
            "query_id",
        )),
        "corpus_id",
    )
    return rer.select(
        "query_id", "corpus_id", scored.columns[2],
        similarity.round6(
            similarity.dot(F.col("qvec"), F.col("v"))
            / (similarity.norm(F.col("qvec")) * similarity.norm(F.col("v")))
        ).alias("cosine"),
        "rank",
    )


@register(
    "sim_quantized_topk",
    oracle=f"""
    WITH mx AS (
        SELECT MAX(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> abs(x)))) AS m
        FROM embeddings
    ), qz AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor((x * 127.0) / mx.m + 0.5)
                                        AS BIGINT)) AS qv
        FROM embeddings, mx
    ), q AS (
        SELECT vec_id AS query_id, v AS qvec, qv AS qq
        FROM qz WHERE {_QUERY_PRED}
    ), scored AS (
        SELECT q.query_id, c.vec_id AS corpus_id,
               CAST(list_sum(list_transform(list_zip(q.qq, c.qv),
                                            x -> x[1] * x[2]))
                    AS BIGINT) AS qdot,
               {_COS_ROUND.format(c=_COS_RAW)} AS cosine
        FROM qz c JOIN q ON q.query_id <> c.vec_id
    )
    SELECT query_id, corpus_id, qdot, cosine, rank FROM (
        SELECT query_id, corpus_id, qdot, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY qdot DESC, corpus_id ASC) AS rank
        FROM scored
    ) t
    WHERE rank <= {_K}
    """,
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) retrieval tier: the corpus is
    symmetrically quantized to q = round(127·x/max|x|), candidates
    are ranked by the exact INTEGER dot product of quantized vectors,
    and the winners get an exact-cosine rerank column — the standard
    memory-bandwidth tier between brute-force float scan
    (sim_cosine_topk) and the bucketed tiers (LSH/IVF): 4× less
    bytes/vector scanned, integer SIMD scoring, and because the
    scores are integers the tier is bit-reproducible cross-engine
    (the one ANN tier with NO float-compare hazard at all).

    One scoring path: the quantization scalar is one MAX aggregate,
    read through the bounded fetch ``sim_int8_scale``; then the fused
    Arrow kernel (operators/similarity.py::int8_dot_topk_arrow) scans
    the corpus once, scores each batch with a float64 GEMM (exact —
    every integer partial sum < 2^21) and keeps its per-query top-k.
    No broadcast-join spelling: it pays |Q|·|C|·dim interpreted
    lambda calls with |Q| growing with the corpus, ran unbounded at
    sf10 and never beat the kernel at a measured scale (SCALE.md, "ANN
    scoring paths"). An empty or all-NULL corpus has no scale and
    returns no rows. On a cluster the int8 corpus is
    ~16 GB/billion×64d instead of 64 GB, usually the difference
    between in-memory and spilling.
    """
    emb = load(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()  # NULL-payload rule
    )
    mx = emb.agg(
        F.max(
            F.array_max(F.transform("embedding", lambda v: F.abs(v.cast("double"))))
        ).alias("m")
    )
    scale = fetch_capped(mx, 1, "sim_int8_scale").column("m")[0].as_py()
    if scale is None:  # empty or all-NULL corpus
        return local_frame(spark, [], "query_id long, corpus_id long, "
                           "qdot long, cosine double, rank long")
    qdf = emb.where(F.expr(_QUERY_PRED))
    return _rank_and_rerank(
        emb, similarity.int8_dot_topk_arrow(emb, qdf, float(scale), k=_K),
        F.desc("qdot"),
    )


# ---------------------------------------------------------------------------
# ANN tier: product quantization (PQ) + asymmetric-distance scoring
# ---------------------------------------------------------------------------

_PQ_M = 8       # subspaces
_PQ_D = 8       # dims per subspace (8 x 8 = the 64-dim embedding)
_PQ_KC = 16     # centroids per subspace codebook
# squared-L2 between two double sublists, DuckDB spelling (sequential
# left-to-right fold, same order as Spark's aggregate HOF)
_PQ_SQDIST = ("list_sum(list_transform(list_zip({a}, {b}), "
              "x -> (x[1] - x[2]) * (x[1] - x[2])))")


@register(
    "sim_pq_topk",
    oracle=f"""
    WITH sub AS (
        SELECT vec_id, m,
               CAST(embedding AS DOUBLE[])[(m * {_PQ_D}) + 1 :
                                           (m * {_PQ_D}) + {_PQ_D}] AS sv
        FROM embeddings,
             unnest(generate_series(0, {_PQ_M - 1})) AS t(m)
    ), cents AS (
        SELECT m, vec_id AS cid, sv AS cv FROM sub
        WHERE vec_id < {_PQ_KC}
    ), dists AS (
        SELECT s.vec_id, s.m, c.cid,
               {_PQ_SQDIST.format(a="s.sv", b="c.cv")} AS dist
        FROM sub s JOIN cents c USING (m)
    ), codes AS (
        SELECT vec_id, m, cid AS code FROM (
            SELECT vec_id, m, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist ASC, cid ASC) AS rk
            FROM dists) WHERE rk = 1
    ), lut AS (
        SELECT vec_id AS query_id, m, cid,
               CAST(floor(dist * 1000000 + 0.5) AS BIGINT) AS lutq
        FROM dists WHERE {_QUERY_PRED}
    ), adc AS (
        SELECT l.query_id, c.vec_id AS corpus_id,
               CAST(SUM(l.lutq) AS BIGINT) AS adist
        FROM codes c
        JOIN lut l ON l.m = c.m AND l.cid = c.code
                   AND l.query_id <> c.vec_id
        GROUP BY 1, 2
    ), topk AS (
        SELECT query_id, corpus_id, adist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist ASC, corpus_id ASC) AS rank
        FROM adc
    ), vv AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT t.query_id, t.corpus_id, t.adist,
           {_COS_ROUND.format(c=_COS_RAW)} AS cosine,
           t.rank
    FROM topk t
    JOIN (SELECT vec_id, v AS qvec FROM vv) q ON q.vec_id = t.query_id
    JOIN (SELECT vec_id, v FROM vv) c ON c.vec_id = t.corpus_id
    WHERE t.rank <= {_K}
    """,
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization retrieval (Jegou et al. 2011, the
    memory-compression tier between int8 scalar quantization and the
    bucketed LSH/IVF tiers): the 64-dim embedding is split into 8
    subspaces of 8 dims; each subspace gets a 16-entry codebook
    (deterministically sample-initialized from the 16 lowest-id
    corpus vectors — the same seeding convention as the IVF tier);
    every corpus vector is encoded as 8 one-byte codes (64 bytes ->
    8 bytes, 8x compression); queries score the WHOLE corpus through
    per-subspace lookup tables (asymmetric distance, ADC): approx
    squared-L2 = sum over subspaces of lut[m][code]. The LUT entries
    are quantized to integer micro-units so the ADC sum is
    order-independent and bit-identical cross-engine; winners get the
    exact-cosine rerank column like every other ANN tier here.

    One scoring path: the codebook (8 x 16 x 8 doubles, read through
    the bounded fetch ``sim_pq_codebook``) is broadcast, and the
    fused Arrow kernel (operators/similarity.py::pq_adc_topk_arrow)
    scans the corpus once, encodes each batch and scores it with M
    int64 LUT gathers — the ADC contract (per-pair work = M table
    lookups, zero pair materialization). No join spelling: it
    materializes |Q|·|C|·M rows through a hash aggregate, was killed
    after 25 minutes at sf10 and never beat the kernel at a measured
    scale (SCALE.md, "ANN scoring paths"). At warehouse
    scale the encode persists the 8-byte code column and the scan
    touches codes, not vectors (8x memory-bandwidth drop vs the int8
    tier). Recall at this codebook size is bounded by the
    sample-initialized codebooks; ivf_train's Lloyd iterations
    (operators/similarity.py::ivf_train) apply verbatim per subspace
    to close the gap — same train step, subvector inputs.
    """
    emb = load(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()  # NULL-payload rule
    )
    book = fetch_capped(
        emb.where(F.col("vec_id") < _PQ_KC).select(
            "vec_id",
            F.transform("embedding", lambda v: v.cast("double")).alias("v"),
        ),
        _PQ_KC, "sim_pq_codebook",
    )
    cents = sorted(zip(book.column("vec_id").to_pylist(),
                       book.column("v").to_pylist()))
    qdf = emb.where(F.expr(_QUERY_PRED))
    return _rank_and_rerank(
        emb,
        similarity.pq_adc_topk_arrow(emb, qdf, cents, _PQ_M, _PQ_D, k=_K),
        F.asc("adist"),
    )


# ---------------------------------------------------------------------------
# ANN tier 6: random-projection (Johnson-Lindenstrauss) scan + rerank
# ---------------------------------------------------------------------------

# 64-dim -> 32-dim dense projection; same LCG constant generator as
# the LSH planes (different seed), embedded verbatim in the oracle SQL.
# Halving (not quartering) the dimension is forced by the data: these
# embeddings are near-isotropic (high intrinsic dimension), so a JL
# map to 8 or 16 dims scrambles the top-5 ordering (recall 0.08-0.4
# measured); 32 dims + a 100-candidate rerank reaches 0.72 — the
# honest ceiling for dimensionality reduction on this corpus, pinned
# in tests/test_rp_sliding_abc_split.py. Real text/image embeddings
# have far lower intrinsic dimension and compress much harder.
_RP_PLANES = _fixed_planes(n_planes=32, dim=64, seed=20240814)
_RP_C = 100  # candidates per query surviving the projected-space scan


def _rp_oracle_sql() -> str:
    plane_lits = [
        "[" + ", ".join(repr(x) for x in row) + "]::DOUBLE[]"
        for row in _RP_PLANES
    ]
    proj = "list_value(" + ", ".join(
        _DOT.format(a="embedding", b=p) for p in plane_lits
    ) + ")"
    pcos = (f"{_DOT.format(a='q.qproj', b='c.proj')}"
            f" / ({_NORM.format(a='q.qproj')} * {_NORM.format(a='c.proj')})")
    cos = (f"{_DOT.format(a='q.qvec', b='c.embedding')}"
           f" / ({_NORM.format(a='q.qvec')} * {_NORM.format(a='c.embedding')})")

    return f"""
    WITH p AS (
        SELECT vec_id, embedding, {proj} AS proj FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qvec, proj AS qproj
        FROM p WHERE {_QUERY_PRED}
    ), cand AS (
        SELECT query_id, corpus_id, qvec, cvec FROM (
            SELECT q.query_id, c.vec_id AS corpus_id,
                   q.qvec, c.embedding AS cvec,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_r6(pcos)} DESC, c.vec_id ASC) AS prank
            FROM p c JOIN q ON q.query_id <> c.vec_id
        ) t WHERE prank <= {_RP_C}
    ), scored AS (
        SELECT query_id, corpus_id,
               {_r6(f"{_DOT.format(a='qvec', b='cvec')}"
                   f" / ({_NORM.format(a='qvec')} * {_NORM.format(a='cvec')})")}
                   AS cosine
        FROM cand
    )
    SELECT query_id, corpus_id, cosine, rank FROM (
        SELECT query_id, corpus_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM scored
    ) t
    WHERE rank <= {_K}
    """


@register("sim_rp_topk", oracle=_rp_oracle_sql())
def sim_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection retrieval (Johnson-Lindenstrauss): the
    corpus is projected ONCE through a fixed dense 64→8 matrix, the
    candidate scan ranks projected-space cosine (a 2× cheaper
    inner product than the full vector; see the constants note on
    why this corpus resists harder compression), and the top {_RP_C}
    candidates per query are re-ranked by exact cosine for the
    final top-{_K}. Complements the other compressed-domain tiers:
    scalar quantization (sim_quantized_topk) shrinks the VALUE
    width, PQ (sim_pq_topk) shrinks via codebooks, JL shrinks the
    DIMENSION — the right tier when vectors are wide but dense.

    The projection constants come from the same LCG generator as
    the LSH planes (fixed seed, reproducible anywhere); the oracle
    embeds them as DOUBLE[] literals, and every score is the
    deterministic sequential-fold double chain + sign-aware 1e-6
    rounding used across the whole similarity family.

    Scale shape: the projection is a one-off map (materialize it
    columnar next to the vectors), the candidate stage broadcasts the projected
    query set against the projected corpus, and the exact rerank
    touches only |Q|·{_RP_C} full vectors. At 100 TB the projected
    scan composes with the IVF cell partitioning (project within
    probed cells) exactly as PQ does.
    """
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators.similarity import dot, norm, round6

    emb = load(spark, sf_dir, "embeddings")
    # Projection AND candidate scoring both run Arrow-vectorized with
    # dimension-ordered accumulation — bit-identical to the `dot()`
    # HOF fold and the oracle's list_sum, so the hash is unchanged,
    # but the 32-plane × 64-dim interpreted fold per corpus row
    # (measured 1.2 s of the 2.4 s sf0.1 span) drops to one numpy
    # FMA pass per Arrow batch.
    p = similarity.rp_project_arrow(emb, _RP_PLANES)
    cand = similarity.cosine_topk_arrow(
        p.select("vec_id", F.col("proj").alias("embedding")),
        p.where(F.expr(_QUERY_PRED)).select(
            "vec_id", F.col("proj").alias("embedding")
        ),
        k=_RP_C,
    ).select("query_id", "corpus_id")
    qv = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    cv = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("cvec"),
    )
    cand = cand.join(F.broadcast(qv), "query_id").join(cv, "corpus_id")
    cos = round6(
        dot(F.col("qvec"), F.col("cvec"))
        / (norm(F.col("qvec")) * norm(F.col("cvec")))
    )
    wf = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return (
        cand.select("query_id", "corpus_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= _K)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# retrieval diversification: pairwise-dominance MMR approximation
# ---------------------------------------------------------------------------

_DIV_C = 20     # exact top-C candidate pool per query
_DIV_THETA = 0.4  # diversity radius: drop the lower-ranked of any pair


def _div_oracle_sql() -> str:
    cos_qc = (f"{_DOT.format(a='q.qvec', b='c.embedding')}"
              f" / ({_NORM.format(a='q.qvec')}"
              f" * {_NORM.format(a='c.embedding')})")
    cos_ab = (f"{_DOT.format(a='a.vec', b='b.vec')}"
              f" / ({_NORM.format(a='a.vec')} * {_NORM.format(a='b.vec')})")
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE {_QUERY_PRED}
    ), cand AS (
        SELECT query_id, corpus_id, vec, cosine, rank FROM (
            SELECT q.query_id, c.vec_id AS corpus_id, c.embedding AS vec,
                   {_r6(cos_qc)} AS cosine,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                                      ORDER BY {_r6(cos_qc)} DESC,
                                               c.vec_id ASC) AS rank
            FROM embeddings c JOIN q ON q.query_id <> c.vec_id
        ) t WHERE rank <= {_DIV_C}
    ), dominated AS (
        SELECT DISTINCT b.query_id, b.corpus_id
        FROM cand a JOIN cand b
          ON a.query_id = b.query_id AND a.rank < b.rank
        WHERE {_r6(cos_ab)} > {_DIV_THETA}
    )
    SELECT query_id, corpus_id, cosine, div_rank FROM (
        SELECT c.query_id, c.corpus_id, c.cosine,
               ROW_NUMBER() OVER (PARTITION BY c.query_id
                                  ORDER BY c.cosine DESC,
                                           c.corpus_id ASC) AS div_rank
        FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM dominated d
                          WHERE d.query_id = c.query_id
                            AND d.corpus_id = c.corpus_id)
    ) t WHERE div_rank <= {_K}
    """


@register("sim_diversified_topk", oracle=_div_oracle_sql())
def sim_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval (MMR-lite): exact top-{_DIV_C}
    candidates per query, then the lower-ranked member of any
    candidate pair closer than {_DIV_THETA} cosine is dropped
    (pairwise dominance) and the survivors re-rank into the final
    top-{_K} — search-result diversification, the post-retrieval
    step that keeps five DIFFERENT answers instead of five copies
    of the best one. Pairwise dominance is the ONE-SHOT
    deterministic approximation of greedy MMR (a dropped item still
    dominates its own neighbors — slightly more aggressive than the
    sequential greedy, and order-free, which is what makes it a
    single declarative plan both engines can hash-match).

    Scale shape: the candidate pool bounds everything — the
    pairwise stage is C²/2 per query (190 pairs here) via a
    per-query self-join of a {_DIV_C}-row set, the anti-join and
    re-rank are per-query windows. The candidate generation itself
    is whichever ANN tier fits the corpus (exact here; LSH/IVF/PQ
    at 100 TB) — diversification cost is independent of corpus
    size.
    """
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators.similarity import (
        dot, norm, round6,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.expr(_QUERY_PRED))
    cand = similarity.cosine_topk(emb, queries, k=_DIV_C).join(
        emb.select(
            F.col("vec_id").alias("corpus_id"),
            F.col("embedding").alias("vec"),
        ),
        "corpus_id",
    )
    a = cand.select(
        "query_id",
        F.col("rank").alias("rank_a"),
        F.col("vec").alias("vec_a"),
    )
    b = cand.select(
        "query_id",
        F.col("corpus_id").alias("corpus_id"),
        F.col("rank").alias("rank_b"),
        F.col("vec").alias("vec_b"),
    )
    pair_cos = round6(
        dot(F.col("vec_a"), F.col("vec_b"))
        / (norm(F.col("vec_a")) * norm(F.col("vec_b")))
    )
    dominated = (
        a.join(b, "query_id")
        .where(F.col("rank_a") < F.col("rank_b"))
        .where(pair_cos > _DIV_THETA)
        .select("query_id", "corpus_id")
        .distinct()
    )
    wq = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return (
        cand.join(dominated, ["query_id", "corpus_id"], "left_anti")
        .withColumn("div_rank", F.row_number().over(wq))
        .where(F.col("div_rank") <= _K)
        .select("query_id", "corpus_id", "cosine", "div_rank")
    )


# ---------------------------------------------------------------------------
# embedding evaluation: per-label centroids, cohesion, separation
# ---------------------------------------------------------------------------

_CENT_Q = 10_000_000  # 1e-7 fixed-point for centroid component sums


def _centroid_oracle_sql() -> str:
    vc = (f"{_DOT.format(a='e.embedding', b='c.cent')}"
          f" / ({_NORM.format(a='e.embedding')} * {_NORM.format(a='c.cent')})")
    cc = (f"{_DOT.format(a='a.cent', b='b.cent')}"
          f" / ({_NORM.format(a='a.cent')} * {_NORM.format(a='b.cent')})")
    return f"""
    WITH dims AS (
        SELECT label, i,
               SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE)
                              * {_CENT_Q} + 0.5) AS BIGINT)) AS s
        FROM embeddings, unnest(generate_series(0, 63)) AS t(i)
        GROUP BY label, i
    ),
    cents AS (
        SELECT label,
               list(CAST(s AS DOUBLE) ORDER BY i) AS cent
        FROM dims GROUP BY label
    ),
    intra AS (
        SELECT e.label,
               COUNT(*) AS n_vectors,
               CAST(SUM(CAST(floor({vc} * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) // COUNT(*) AS intra_cos_ppm
        FROM embeddings e JOIN cents c USING (label)
        GROUP BY e.label
    ),
    inter AS (
        SELECT a.label, b.label AS nearest_label,
               CAST(floor({_r6(cc)} * 1000000 + 0.5) AS BIGINT)
                   AS inter_cos_ppm,
               ROW_NUMBER() OVER (
                   PARTITION BY a.label
                   ORDER BY {_r6(cc)} DESC, b.label ASC) AS rn
        FROM cents a JOIN cents b ON a.label <> b.label
    )
    SELECT i.label, i.n_vectors, i.intra_cos_ppm,
           x.nearest_label, x.inter_cos_ppm
    FROM intra i JOIN inter x ON x.label = i.label AND x.rn = 1
    """


@register("sim_label_centroids", oracle=_centroid_oracle_sql())
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space evaluation by label: per-class centroid
    (exact integer component sums — a float mean would be
    partition-order-dependent), mean cosine of members to their own
    centroid (cohesion), and the most-similar OTHER centroid with
    its cosine (separation) — the silhouette-style health check a
    team runs on a new embedding model before trusting its clusters
    for dedup or retrieval. All scores quantized per-term to 1e-6
    and integer-averaged, so the report is bit-stable.

    Scale shape: one dimension explode + hash aggregate for the
    centroid sums (|labels|×dim rows), centroids reassembled with a
    bounded per-label sort (64 components); cohesion is one corpus
    scan against the BROADCAST centroid table; separation is a
    |labels|² centroid self-join — all tiny. Nothing quadratic in
    the corpus.
    """
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators.similarity import dot, norm

    emb = load(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()  # NULL-payload rule: a NULL
        # vector is in no cluster (posexplode already skips it in
        # the centroid leg; the cohesion COUNT must skip it too)
    )
    dims = (
        emb.select(
            "label",
            F.posexplode("embedding").alias("i", "v"),
        )
        .groupBy("label", "i")
        .agg(
            F.sum(
                F.floor(F.col("v").cast("double") * _CENT_Q + F.lit(0.5))
                .cast("bigint")
            ).alias("s")
        )
    )
    cents = dims.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s"))),
            lambda x: x["s"].cast("double"),
        ).alias("cent")
    )
    vcos = dot(F.col("embedding"), F.col("cent")) / (
        norm(F.col("embedding")) * norm(F.col("cent"))
    )
    # name the per-row cosine so the aggregate expression can see it
    intra = (
        emb.join(F.broadcast(cents), "label")
        .select("label", vcos.alias("_vc"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.expr(
                "CAST(SUM(CAST(floor(_vc * 1000000 + 0.5) AS BIGINT))"
                " AS BIGINT) DIV COUNT(*)"
            ).alias("intra_cos_ppm"),
        )
    )
    a = cents.select(F.col("label"), F.col("cent").alias("cent_a"))
    b = cents.select(
        F.col("label").alias("nearest_label"), F.col("cent").alias("cent_b")
    )
    from metadata_wrangler_spark.operators.similarity import round6

    ccos = round6(
        dot(F.col("cent_a"), F.col("cent_b"))
        / (norm(F.col("cent_a")) * norm(F.col("cent_b")))
    )
    wn = W.partitionBy("label").orderBy(
        F.desc("_cc"), F.asc("nearest_label")
    )
    inter = (
        a.join(b, F.col("label") != F.col("nearest_label"))
        .select("label", "nearest_label", ccos.alias("_cc"))
        .withColumn("rn", F.row_number().over(wn))
        .where(F.col("rn") == 1)
        .select(
            "label",
            "nearest_label",
            F.floor(F.col("_cc") * 1000000 + F.lit(0.5))
            .cast("bigint").alias("inter_cos_ppm"),
        )
    )
    return intra.join(inter, "label").select(
        "label", "n_vectors", "intra_cos_ppm",
        "nearest_label", "inter_cos_ppm",
    )


# ---------------------------------------------------------------------------
# ANN recall evaluation harness (approx tier vs exact tier, as a query)
# ---------------------------------------------------------------------------


def _recall_eval_oracle_sql() -> str:
    """Exact-tier and LSH-tier top-k CTEs (the same SQL the two
    standalone oracles run) joined into per-query recall counts."""
    from metadata_wrangler_spark.plans import ORACLES

    exact_sql = ORACLES["sim_cosine_topk"]
    approx_sql = ORACLES["sim_lsh_topk"]
    return f"""
    WITH exact AS ({exact_sql}),
    approx AS ({approx_sql})
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.rank) AS BIGINT) AS n_hit,
           CAST((1000000 * COUNT(a.rank)) // COUNT(*) AS BIGINT)
               AS recall_ppm
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
    GROUP BY e.query_id
    """


@register("sim_recall_eval", oracle=_recall_eval_oracle_sql())
def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH tier against the exact tier, per query —
    the evaluation loop an ANN deployment runs continuously (recall
    regression = silently worse retrieval, invisible to any
    per-tier hash check). Both tiers are the PRODUCTION operators
    (cosine_topk_arrow, lsh_cosine_topk), so this measures the code
    that serves, not a copy; the oracle composes the two standalone
    oracle SQLs verbatim, so the comparison itself is hash-checked.

    Scale shape: both tiers already bound their own cost (broadcast
    query set; bucketed candidates); the eval join is top-k-sized
    (|queries|·k rows a side) — negligible against either tier.
    """
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.expr(_QUERY_PRED))
    exact = similarity.cosine_topk_arrow(emb, queries, k=_K).select(
        "query_id", "corpus_id"
    )
    approx = similarity.lsh_cosine_topk(
        emb, None, _PLANES, k=_K, query_pred=lambda c: c % 101 == 0,
    ).select("query_id", "corpus_id", F.col("rank").alias("a_rank"))
    return (
        exact.join(
            approx,
            ["query_id", "corpus_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.count("a_rank").cast("bigint").alias("n_hit"),
            F.expr(
                "CAST((1000000 * COUNT(a_rank)) DIV COUNT(*) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# k-NN graph: every vector's top-k neighbors among its LSH co-occupants
# ---------------------------------------------------------------------------

_KNN_K = 3


def _knn_graph_oracle_sql() -> str:
    bucket = _bucket_expr_sql("embedding", _PLANES)
    cos = (
        f"((CASE WHEN {_DOT.format(a='a.embedding', b='c.embedding')}"
        f" / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='c.embedding')})"
        f" < 0 THEN -1.0 ELSE 1.0 END)"
        f" * CAST(floor(abs({_DOT.format(a='a.embedding', b='c.embedding')}"
        f" / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='c.embedding')}))"
        f" * 1000000 + 0.5) AS BIGINT) / 1000000.0)"
    )
    return f"""
    WITH b AS (
        SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
    ), scored AS (
        SELECT a.vec_id AS vec_id, c.vec_id AS nbr_id, {cos} AS cosine
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
    )
    SELECT vec_id, nbr_id, cosine, rank FROM (
        SELECT vec_id, nbr_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, nbr_id ASC) AS rank
        FROM scored
    ) t
    WHERE rank <= {_KNN_K}
    """


@register("sim_knn_graph", oracle=_knn_graph_oracle_sql())
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-wide k-NN GRAPH: every vector's top-{_KNN_K}
    cosine neighbors among its LSH-bucket co-occupants — the edge
    set semantic-dedup (SemDeDup), density-based pruning, and graph
    clustering all consume. Unlike sim_cosine_topk (a bounded QUERY
    set against the corpus), every vector is a query, so the exact
    all-pairs spelling is quadratic and the bucketed candidate
    graph IS the scale path, not an approximation bolted on later.

    Scale design: one bucket hash per vector (map-side), one shuffle
    on the bucket key, per-bucket pairwise scoring in the Arrow
    kernel (cost = occupancy² — the LSH design bound; more planes /
    multi-table unioning tighten it exactly as in
    sim_lsh_multitable_topk), then a per-vector top-k window whose
    partition key is the vector id — maximal parallelism, no global
    order anywhere. Each unordered pair is scored ONCE and emitted
    in both directions.

    Reference: `viaf.py:777-798` picks the best candidate cluster
    per contributor; the k-NN graph is the all-at-once version the
    batch pipeline wants.
    """
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id",
        "embedding",
        F.expr(similarity._bucket_sql("embedding", _PLANES))
        .alias("bucket"),
    )
    pairs = similarity.cosine_pairs_arrow(
        b, threshold=-1.01, bucket_col="bucket"
    )
    both = pairs.select(
        F.col("id_a").alias("vec_id"),
        F.col("id_b").alias("nbr_id"),
        "cosine",
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("vec_id"),
            F.col("id_a").alias("nbr_id"),
            "cosine",
        )
    )
    w = W.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id")
    )
    return (
        both.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select("vec_id", "nbr_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# label outliers: mislabeled / out-of-distribution candidates
# ---------------------------------------------------------------------------


def _label_outliers_oracle_sql() -> str:
    vc = (f"{_DOT.format(a='e.embedding', b='c.cent')}"
          f" / ({_NORM.format(a='e.embedding')} * {_NORM.format(a='c.cent')})")
    qc = (f"(CASE WHEN {vc} < 0 THEN -1 ELSE 1 END)"
          f" * CAST(floor(abs({vc}) * 1000000 + 0.5) AS BIGINT)")
    return f"""
    WITH dims AS (
        SELECT label, i,
               SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE)
                              * {_CENT_Q} + 0.5) AS BIGINT)) AS s
        FROM embeddings, unnest(generate_series(0, 63)) AS t(i)
        GROUP BY label, i
    ),
    cents AS (
        SELECT label, list(CAST(s AS DOUBLE) ORDER BY i) AS cent
        FROM dims GROUP BY label
    ),
    scored AS (
        SELECT e.vec_id, e.label, {qc} AS qcos
        FROM embeddings e JOIN cents c USING (label)
    ),
    ranked AS (
        SELECT label, qcos,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY qcos, vec_id) AS rn,
               COUNT(*) OVER (PARTITION BY label) AS n
        FROM scored
    ),
    thr AS (
        SELECT label,
               MIN(CASE WHEN rn = CAST(floor((n - 1) * 0.1) AS BIGINT) + 1
                        THEN qcos END) AS q10
        FROM ranked GROUP BY label
    )
    SELECT s.vec_id, s.label,
           s.qcos / 1000000.0 AS centroid_cos,
           t.q10 / 1000000.0 AS label_p10
    FROM scored s JOIN thr t USING (label)
    WHERE s.qcos < t.q10
    """


@register("sim_label_outliers", oracle=_label_outliers_oracle_sql())
def sim_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled / out-of-distribution candidates: vectors whose
    cosine to their OWN label centroid falls below the label's 10th
    percentile — the label-noise sweep a training-data pipeline runs
    before trusting classifier labels for filtering or mixing
    (complements sim_label_centroids' per-label health report with a
    per-VECTOR verdict).

    Scale design: centroid = exact integer component sums (one
    dimension explode + hash aggregate, |labels|×64 rows); scoring
    is one corpus scan against the broadcast centroid table; the
    per-label p10 threshold is a SELECTION (value at rank, not a
    rank per row), so it rides operators/selection.py — no
    partitionBy(label) window handing one task a tenth of the corpus
    — and comes back as a literal codegen CASE for the final filter
    scan. Everything integer-quantized (1e-7 centroid sums, 1e-6
    scores) so the flag set is bit-identical cross-engine.

    Reference: `viaf.py:777-798` scores cluster membership before a
    merge; this is the embedding-space generalization.
    """
    import math

    from metadata_wrangler_spark.operators.selection import grouped_select
    from metadata_wrangler_spark.operators.similarity import dot, norm

    emb = load(spark, sf_dir, "embeddings")
    dims = (
        emb.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(
            F.sum(
                F.floor(F.col("v").cast("double") * _CENT_Q + F.lit(0.5))
                .cast("bigint")
            ).alias("s")
        )
    )
    cents = dims.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s"))),
            lambda x: x["s"].cast("double"),
        ).alias("cent")
    )
    vc = dot(F.col("embedding"), F.col("cent")) / (
        norm(F.col("embedding")) * norm(F.col("cent"))
    )
    qc = (
        F.when(vc < 0, F.lit(-1)).otherwise(F.lit(1))
        * F.floor(F.abs(vc) * 1000000 + F.lit(0.5)).cast("bigint")
    )
    # scored feeds BOTH the percentile selection and the final
    # filter; cache it so the centroid subtree + per-vector HOF dot
    # run once (3 narrow columns — at extreme scale trade the cache
    # for a recompute by dropping this line, correctness unchanged).
    scored = emb.join(F.broadcast(cents), "label").select(
        "vec_id", "label", qc.alias("qcos")
    ).cache()
    sel = grouped_select(
        scored, "qcos",
        lambda st: {"q10": int(math.floor((st.n - 1) * 0.1)) + 1},
        group_cols=["label"],
    )
    thr = F.lit(None).cast("bigint")
    for m in sel:
        thr = F.when(
            F.col("label") == F.lit(m["label"]), F.lit(m["q10"])
        ).otherwise(thr)
    return (
        scored.select("vec_id", "label", "qcos", thr.alias("q10"))
        .where(F.col("qcos") < F.col("q10"))
        .select(
            "vec_id",
            "label",
            (F.col("qcos") / 1000000.0).alias("centroid_cos"),
            (F.col("q10") / 1000000.0).alias("label_p10"),
        )
    )


# ---------------------------------------------------------------------------
# centroid drift: does each label mean the same thing in both halves?
# ---------------------------------------------------------------------------


def _centroid_drift_oracle_sql() -> str:
    cc = (f"{_DOT.format(a='a.cent', b='b.cent')}"
          f" / ({_NORM.format(a='a.cent')} * {_NORM.format(a='b.cent')})")
    return f"""
    WITH dims AS (
        SELECT label, vec_id % 2 AS half, i,
               COUNT(*) AS n_half,
               SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE)
                              * {_CENT_Q} + 0.5) AS BIGINT)) AS s
        FROM embeddings, unnest(generate_series(0, 63)) AS t(i)
        GROUP BY label, half, i
    ),
    cents AS (
        SELECT label, half,
               MAX(n_half) AS n_vecs,
               list(CAST(s AS DOUBLE) ORDER BY i) AS cent
        FROM dims GROUP BY label, half
    )
    SELECT a.label,
           a.n_vecs AS n_even, b.n_vecs AS n_odd,
           ((CASE WHEN {cc} < 0 THEN -1.0 ELSE 1.0 END)
            * CAST(floor(abs({cc}) * 1000000 + 0.5) AS BIGINT)
            / 1000000.0) AS drift_cos
    FROM cents a JOIN cents b
      ON a.label = b.label AND a.half = 0 AND b.half = 1
    """


@register("sim_centroid_drift", oracle=_centroid_drift_oracle_sql())
def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding DRIFT check: split the corpus into two deterministic
    halves (even/odd vector id — in an ingest-ordered corpus, two
    time slices) and report, per label, the cosine between the two
    half-centroids. drift_cos ≈ 1 means the label occupies the same
    region in both halves; a low value is the classic symptom of an
    upstream embedding-model or schema change silently shifting the
    space — caught HERE, before a dedup threshold or an ANN index
    trained on the old half misfires on the new one.

    Scale design: one dimension explode + hash aggregate keyed
    (label, half, dim) — map-side combine collapses the explode to
    |labels|·2·64 counter rows per partition before the shuffle —
    then a half-PIVOT (one tiny aggregate on the |labels|·2 centroid
    rows) and one exact fold per pair. The corpus is scanned once;
    nothing else is data-sized; no join. Exactness: integer
    component sums (1e-7) and the family's sign*floor(|x|·1e6+0.5)
    rounding, bit-stable cross-engine.

    Reference: re-validation sweeps when a source changes format
    (`coverage_provider.py:119-150` re-registers coverage on policy
    change); drift detection is the embedding-space analogue.
    """
    emb = load(spark, sf_dir, "embeddings")
    from metadata_wrangler_spark.operators.similarity import dot, norm

    # Round-9 floor cut: the old spelling posexploded to 64× rows,
    # aggregated on (label, half, i), re-aggregated on (label, half)
    # (second exchange) and sort-merge-joined the halves (two more) —
    # four exchanges and a 64× shuffle volume for a result that is
    # |labels|×2 rows. The dimension count is fixed (64, the same
    # constant the oracle's generate_series(0,63) bakes in), so the
    # per-dimension quantized sums are 64 ordinary SUM aggregates in
    # ONE (label, half) hash aggregate over the un-exploded scan —
    # one exchange, 1/64th the shuffle bytes, map-side partials
    # intact — and the |labels|-row half-join broadcasts.
    # Dimension explode + (label, half, i) hash aggregate — tried and
    # REVERTED a 64-per-dimension-SUM wide aggregate: map-side
    # combine already collapses the explode to |labels|·2·64 counter
    # rows PER PARTITION before the shuffle (the explode never
    # materializes 64x rows off-CPU), while the 66-column plan paid
    # ~1.7 s of driver-side Catalyst planning on EVERY build and fell
    # out of whole-stage codegen (spark.sql.codegen.maxFields) — a
    # constant planning tax that dwarfs this query's execution at any
    # SF where the narrow spelling's extra CPU matters.
    dims = (
        emb.where(F.col("embedding").isNotNull())
        .select(
            "label",
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode("embedding").alias("i", "v"),
        )
        .groupBy("label", "half", "i")
        .agg(
            F.count(F.lit(1)).alias("n_half"),
            F.sum(
                F.floor(F.col("v").cast("double") * _CENT_Q + F.lit(0.5))
                .cast("bigint")
            ).alias("s"),
        )
    )
    cents = dims.groupBy("label", "half").agg(
        F.max("n_half").alias("n_vecs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s"))),
            lambda x: x["s"].cast("double"),
        ).alias("cent"),
    )
    # Pair the halves by PIVOT, not join: a second tiny aggregate on
    # the 2·|labels| centroid rows (first(when(half=…)) — exactly one
    # row per (label, half), so `first` is deterministic) keeps the
    # corpus subtree executed ONCE. A broadcast half-join was tried
    # and reverted: the build side re-ran the whole scan+aggregate as
    # a second subtree (no exchange to reuse under a broadcast), and
    # the build job alone cost more than this pivot's one tiny
    # exchange. Inner-join semantics = both halves present.
    half0 = F.when(F.col("half") == 0, F.col("n_vecs"))
    half1 = F.when(F.col("half") == 1, F.col("n_vecs"))
    paired = (
        cents
        # join parity: the oracle pairs halves with an equi-join on
        # label, which drops a NULL label; the pivot groupBy would
        # keep it as a real group, so exclude it explicitly.
        .where(F.col("label").isNotNull())
        .groupBy("label")
        .agg(
            F.first(half0, ignorenulls=True).alias("n_even"),
            F.first(half1, ignorenulls=True).alias("n_odd"),
            F.first(
                F.when(F.col("half") == 0, F.col("cent")), ignorenulls=True
            ).alias("cent_a"),
            F.first(
                F.when(F.col("half") == 1, F.col("cent")), ignorenulls=True
            ).alias("cent_b"),
        )
        .where(F.col("n_even").isNotNull() & F.col("n_odd").isNotNull())
    )
    cc = dot(F.col("cent_a"), F.col("cent_b")) / (
        norm(F.col("cent_a")) * norm(F.col("cent_b"))
    )
    r6 = (
        F.when(cc < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.floor(F.abs(cc) * 1000000 + F.lit(0.5)).cast("bigint")
        / F.lit(1000000.0)
    )
    return paired.select(
        "label", "n_even", "n_odd", r6.alias("drift_cos")
    )
