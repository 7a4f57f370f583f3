"""Similarity search over embedding columns (`array<float>`).

Every ANN operator has ONE scoring path: its query side is fetched to
the driver as a bounded matrix (``ANN_QUERY_CAP``), and one Arrow
pass over the corpus scores each batch locally and keeps a per-query
batch top-k — no candidate set is shuffled, and a corpus vector
never leaves its scan task.

  cosine_topk_arrow  brute-force exact top-k: every batch against
                     every query. The correctness baseline
                     (``cosine_topk`` is its expression spelling).
  lsh_cosine_topk    random-hyperplane LSH: a batch's rows key to
                     sign-pattern buckets and each bucket block is
                     scored only against the queries probing it.
                     Cost scales with bucket occupancy, not corpus
                     size.
  ivf_cosine_topk    inverted file: the blocks are argmax-centroid
                     cells and each query probes its nprobe best
                     cells — same shape as LSH, but the partition
                     follows the data's own geometry.
  lsh_cosine_topk_multitable, int8_dot_topk_arrow, pq_adc_topk_arrow
                     multi-table LSH and the int8 / PQ compression
                     tiers, same scan shape.

Past ``ANN_QUERY_CAP`` queries, LSH and IVF warn and fall back to an
equi-join on bucket / cell id, which never ships a query matrix; the
other operators raise.

Dot products use `zip_with` + `aggregate` (higher-order functions,
JVM-side, sequential left fold => deterministic and portable to the
oracle's list_sum/list_transform).
"""

from __future__ import annotations

import warnings
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators.arrow_stage import arrow_stage
from metadata_wrangler_spark.operators.driver_fetch import fetch_at_most
from metadata_wrangler_spark.session import empty_frame

# (query_id, corpus_id, cosine) rows a scorer emits, before / after
# the global per-query rank window.
_SCORED = "query_id long, corpus_id long, cosine double"
_TOPK = _SCORED + ", rank int"


def _dot_plane_sql(vec_col: str, plane: list[float]) -> str:
    """SQL spelling of ``dot(vec, <constant plane>)``.

    Building constant-plane dots through the Python Column API costs
    hundreds of Py4J round trips (one per literal / lambda piece) —
    ~4 s of driver time for a 24-plane bucket projection. One parsed
    SQL string is the identical expression tree (`repr(float)`
    round-trips the exact double bits; the lambda spelling matches
    `dot`'s sequential fold) at a fraction of the build cost.
    """
    arr = "array(" + ", ".join(f"{x!r}D" for x in plane) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _bucket_sql(vec_col: str, planes: list[list[float]]) -> str:
    """SQL spelling of the sign-pattern bucket over ``planes``."""
    return " + ".join(
        f"(CASE WHEN {_dot_plane_sql(vec_col, p)} >= 0.0D "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )

def round6(col: Column) -> Column:
    """Cosine rounding used EVERYWHERE in the similarity family:
    sign-aware floor(|x|*1e6 + 0.5)/1e6 — the identical IEEE chain
    as the numpy Arrow scorers and the oracle SQL spelling.

    NOT a DECIMAL(18,6) cast: double→decimal tie rounding differs
    between Spark (HALF_UP over the exact decimal expansion) and
    DuckDB (round over the approximated product) — observed
    diverging on 6/1024 values in sim_ivf_train_step's means. One
    explicit chain on all three surfaces (expression, numpy, SQL)
    removes the divergence class."""
    sign = F.when(col < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    return sign * F.floor(F.abs(col) * 1000000 + F.lit(0.5)) / F.lit(1000000.0)


def dot(a: Column, b: Column) -> Column:
    """Deterministic sequential-fold dot product in DOUBLE."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global per-query top-k over (query_id, corpus_id, cosine) rows:
    cosine desc, ties on corpus id asc."""
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# numpy twins of the expression chains, for the Arrow scorers. Each
# keeps the JVM/oracle operation order exactly — dot products and
# norms accumulate over the vector DIMENSION (the left fold of
# ``dot``/``norm``/``_dot_plane_sql``, and the oracle's list_sum), and
# rounding is ``round6``'s chain — so every kernel is bit-identical
# to the expression spelling.
# ---------------------------------------------------------------------------


def _stack(vectors) -> np.ndarray:
    """(rows, dim) float64 matrix from an Arrow ``array<float>`` column."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in vectors])


def _dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(len(a), len(b)) dot products of every row pair, folded over
    the dimension in order."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for i in range(a.shape[1]):
        acc += a[:, i][:, None] * b[:, i][None, :]
    return acc


def _norms(m: np.ndarray) -> np.ndarray:
    """Row L2 norms — ``norm()``'s fold."""
    acc = np.zeros(m.shape[0])
    for i in range(m.shape[1]):
        acc += m[:, i] * m[:, i]
    return np.sqrt(acc)


def _round6(x: np.ndarray) -> np.ndarray:
    """``round6`` in numpy."""
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _cosines(a: np.ndarray, b: np.ndarray, b_norms: np.ndarray) -> np.ndarray:
    """Rounded cosine of every (row of a, row of b) pair; a zero norm
    gives NaN, which ``_emit_topk`` never emits."""
    return _round6(_dots(a, b) / (_norms(a)[:, None] * b_norms[None, :]))


def _plane_codes(m: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """int64 sign-pattern bucket per row, bit i = (row·planes[i] >= 0)
    — ``_bucket_sql``."""
    bits = (_dots(m, planes) >= 0.0).astype(np.int64)
    return (bits << np.arange(planes.shape[0], dtype=np.int64)).sum(axis=1)


def _cells(m: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Argmax-centroid cell per row, first max wins — ``ivf_assign``."""
    return np.argmax(_dots(m, centroids), axis=1)


def _emit_topk(out: dict, q_ids, c_ids, score, k: int, col: str = "cosine"):
    """Append each query column's k best finite scores (score desc,
    corpus id asc) to ``out``'s lists and return it. Any global
    top-k member is in its batch's top-k, so the rank window
    downstream reads |queries| x k x batches rows."""
    kk = min(k, len(c_ids))
    for j in range(score.shape[1]):
        s = score[:, j]
        order = np.lexsort((c_ids, -s))[:kk]
        keep = order[np.isfinite(s[order])]
        out["query_id"].extend([q_ids[j]] * len(keep))
        out["corpus_id"].extend(c_ids[keep])
        out[col].extend(s[keep])
    return out


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest
    corpus vectors (self-matches excluded).

    Queries are broadcast — the corpus is scanned once however many
    executors exist; the only shuffle is the per-query window, keyed
    on query_id (naturally balanced). Ties break on rounded
    similarity then corpus id, so results are stable across
    partitionings and engines.
    """
    # NULL vectors are excluded up front (pushed to the scan), the
    # way SQL aggregates skip NULLs — same rule across every
    # similarity entry point.
    queries = queries.where(F.col(vec_col).isNotNull())
    corpus = corpus.where(F.col(vec_col).isNotNull())
    # Norms are precomputed per vector BEFORE the pair join — the
    # naive per-pair spelling recomputes each norm |corpus| (resp.
    # |queries|) times.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cn"),
    )
    sim = dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
    # Round for cross-engine stability before ranking.
    sim_r = round6(sim)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id", sim_r.alias("cosine"))
    )
    return _rank_topk(scored, k)


def hyperplane_buckets(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-pattern LSH bucket per vector: bit i = sign(v·plane_i).

    ``planes`` are fixed pseudo-random hyperplanes supplied by the
    caller (deterministic — derived from a seed, not Math.random, so
    plans are reproducible and resumable).
    """
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col),
        F.expr(_bucket_sql(vec_col, planes)).cast("int").alias("bucket"),
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 0,
    query_pred=None,
) -> DataFrame:
    """Approximate cosine top-k: candidates share the hyperplane
    bucket, exact cosine re-ranks within the bucket.

    ``probe_hamming`` enables multi-probe LSH: each query also
    probes buckets within that Hamming distance of its own (sign
    bits near a hyperplane are the ones that flip for near
    neighbours). Recall rises steeply for a linear cost in probes —
    the probe set grows on the (small) query side only, never the
    corpus side.

    Candidate generation needs no join: the probed-bucket →
    query-list map is computed driver-side from the bounded query
    matrix, and ``_block_scan`` computes each corpus batch's bucket
    codes (the same left-fold sign chain as ``_bucket_sql``) and
    scores each bucket block against its probing queries in numpy.
    Past ``ANN_QUERY_CAP`` queries it warns and runs the bucket
    equi-join instead — at scale, bucket the corpus ONCE (write
    bucketed parquet / cluster by bucket) and it becomes a
    bucket-pruned scan per query batch. Both are row-identical;
    zero-norm (NaN-cosine) rows drop in both.
    """
    if probe_hamming > 2:
        raise ValueError(
            "probe_hamming > 2 is not implemented (probe count grows "
            f"as C(bits, d); got {probe_hamming})"
        )
    n_bits = len(planes)
    masks = [0]
    if probe_hamming > 0:
        masks += [1 << i for i in range(n_bits)]
    if probe_hamming > 1:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_bits)
            for j in range(i + 1, n_bits)
        ]

    # Bounded query matrix — the broadcast side; an over-cap query
    # set routes to the join tier, which never ships the matrix.
    q = _query_matrix(
        "lsh_cosine_topk", corpus, queries, query_pred, id_col, vec_col,
        fallback="bucket-join",
    )
    if q is not None and not len(q[0]):
        return empty_frame(corpus.sparkSession, _TOPK)
    if q is not None:
        q_ids, qm = q
        P = np.asarray(planes, dtype=np.float64)
        code_q = _plane_codes(qm, P)
        # probed-bucket → query-index lists. Distinct masks give a
        # query distinct probe codes, and a corpus row holds ONE
        # code, so every (query, corpus) pair arises at most once —
        # identical to the exploded-probe equi-join's semantics.
        qidx_by_code: dict = {}
        for m in masks:
            for qx in range(len(q_ids)):
                qidx_by_code.setdefault(int(code_q[qx]) ^ m, []).append(qx)
        qidx_by_code = {
            c: np.asarray(v, dtype=np.int64)
            for c, v in qidx_by_code.items()
        }
        return _block_scan(
            corpus, "sim_lsh_bucket_scan", id_col, vec_col, q_ids, qm, k,
            partial(_plane_codes, planes=P), qidx_by_code,
        )

    # ---- bucket-join tier (over ANN_QUERY_CAP) ----
    cb = hyperplane_buckets(corpus, planes, id_col, vec_col).withColumnsRenamed(
        {id_col: "corpus_id", vec_col: "cvec"}
    )
    if query_pred is not None:
        # The query set is a slice of the corpus: reuse the bucket
        # projection instead of analyzing a second copy of the
        # plane-literal expression (saves one giant plan on the
        # driver AND lets the filter push to the same scan). Cached:
        # the corpus side and the broadcast query side both read it —
        # without the cache the plane dot products run twice.
        cb = cb.cache()
        qb = cb.withColumnsRenamed(
            {"corpus_id": "query_id", "cvec": "qvec"}
        ).where(query_pred(F.col("query_id")))
    else:
        qb = hyperplane_buckets(
            queries, planes, id_col, vec_col
        ).withColumnsRenamed({id_col: "query_id", vec_col: "qvec"})
    if probe_hamming > 0:
        probes = [F.col("bucket")] + [
            F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks[1:]
        ]
        qb = qb.withColumn("bucket", F.explode(F.array(*probes)))
    cb = cb.withColumn("cn", norm(F.col("cvec")))
    qb = qb.withColumn("qn", norm(F.col("qvec")))
    sim = dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
    sim_r = round6(sim)
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .where(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id", sim_r.alias("cosine"))
        # Zero-norm vectors (0/0 → NaN cosine) are dropped exactly as
        # the block scan's isfinite keep-mask drops them: the cap
        # picks an implementation, never a result.
        .where(~F.isnan(F.col("cosine")))
    )
    return _rank_topk(scored, k)


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Score every vector against each coarse centroid and keep the
    full score array plus the argmax cell.

    Centroids are caller-supplied constants (at production scale:
    the output of a sampled k-means job, broadcast as literals or a
    tiny table); here they're deterministic so the plan — and the
    DuckDB oracle — is reproducible. First-max-wins on ties, 0-based
    cell ids, matching the oracle's list_indexof spelling.
    """
    scores = F.expr(
        "array(" + ", ".join(
            _dot_plane_sql(vec_col, c) for c in centroids
        ) + ")"
    )
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.col(vec_col),
        scores.alias("cell_scores"),
        (F.array_position(scores, F.array_max(scores)) - 1)
        .cast("int").alias("cell"),
    )


# Hard cap on the driver-collected query matrix of the ANN scans
# (round-11, VERDICT item: the "bounded by contract" query side
# — every plan call site filters `id % 101 == 0` over a
# broadcast-sized set — becomes an ENFORCED bound instead of an
# assumption). 2^17 rows x 64 dims x 8 B = 64 MB of float64 on the
# driver and in each task's closure — the outer edge of §3's
# "broadcast the small side" economics. An over-contract query set
# costs one bounded fetch (``_query_matrix``), never an unbounded
# driver materialization; LSH and IVF then fall back LOUDLY to their
# driver-free join, the others raise.
ANN_QUERY_CAP = 131_072


def _query_matrix(
    op, corpus, queries, query_pred, id_col, vec_col, fallback=None
):
    """Bounded driver fetch of ``op``'s ANN query side — the corpus
    rows matching ``query_pred`` when given, else ``queries``; NULL
    vectors never enter. Returns (ids, float64 matrix); float32
    components widen exactly, as they do from collected rows. Past
    ``ANN_QUERY_CAP`` rows it warns and returns None when ``op`` has
    a driver-free ``fallback`` tier, and raises when it has none."""
    qdf = (
        corpus.where(query_pred(F.col(id_col)))
        if query_pred is not None
        else queries
    )
    qdf = qdf.where(F.col(vec_col).isNotNull()).select(id_col, vec_col)
    tbl = fetch_at_most(qdf, ANN_QUERY_CAP, f"{op}_query_matrix")
    if tbl is None:
        msg = f"{op}: query set exceeds ANN_QUERY_CAP={ANN_QUERY_CAP}; "
        if fallback is None:
            raise ValueError(
                msg + "it has no driver-free tier — slice the query "
                "batch, or use lsh_cosine_topk's bucket-join tier"
            )
        warnings.warn(
            msg + f"falling back to the {fallback} tier (the block "
            "scan requires a driver-bounded query matrix)",
            stacklevel=3,
        )
        return None
    ids = tbl.column(0).to_numpy().astype(np.int64, copy=False)
    flat = tbl.column(1).combine_chunks().flatten()
    qm = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    return ids, qm.reshape(len(ids), len(qm) // max(len(ids), 1))


def _block_scan(
    corpus, name, id_col, vec_col, q_ids, qm, k, block_of, queries_of
) -> DataFrame:
    """The LSH and IVF scoring path: one Arrow pass over the corpus
    keys each batch's rows to blocks (``block_of(matrix)`` — bucket
    codes or cells, the same fold as the join fallback's key), scores
    every block only against the queries probing it
    (``queries_of[key]`` → query indices), drops self-matches and
    emits per-query batch top-k; the global rank window follows. It
    does the join's candidate work without a candidate shuffle: at
    sf10 (200k vectors x 1980 queries) the multitable scan of this
    shape took 29.3 s where its bucket join took 130 s (SCALE.md)."""
    qn = _norms(qm)

    def scan(pdf):
        cm = _stack(pdf[vec_col])
        c_ids = pdf[id_col].to_numpy(dtype=np.int64)
        key = block_of(cm)
        out = {"query_id": [], "corpus_id": [], "cosine": []}
        for b in np.unique(key):
            qi = queries_of.get(int(b))
            if qi is None:
                continue
            ci = np.flatnonzero(key == b)
            cos = _cosines(cm[ci], qm[qi], qn[qi])
            cos[c_ids[ci][:, None] == q_ids[qi][None, :]] = -np.inf
            _emit_topk(out, q_ids[qi], c_ids[ci], cos, k)
        return out

    return _rank_topk(
        arrow_stage(
            corpus.select(id_col, vec_col), name, _SCORED, scan,
            not_null=vec_col,
        ),
        k,
    )


def ivf_partial_moments(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow stage fusing the Lloyd-step map side: per batch, score
    every vector against each centroid (accumulating over the vector
    DIMENSION — the same left-associated IEEE chain as
    ``_dot_plane_sql``'s fold, so the argmax cell is bit-identical
    to ``ivf_assign``'s first-max-wins expression), then fold the
    batch straight into per-(cell, pos) partial aggregates: member
    count and the sum of floor(v*10000+0.5) int64 quantized
    components. One task emits at most k*dim rows, so the shuffle
    feeding the final (cell, pos) aggregation carries codebook-sized
    partials instead of the dim-fanned posexplode stream — map-side
    aggregation in the kernel itself (guide: aggregate before you
    shuffle). Integer partial sums are associative, so the global
    sums — and the means derived from them — are bit-identical to
    the expression spelling at any partitioning.

    Returns the (cell, pos, cnt, qsum) partial rows of ``df``'s
    non-NULL ``vec_col`` vectors.
    """
    C = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    k, dim = C.shape

    def moments(batches):
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, dim), dtype=np.int64)
        for pdf in batches:
            E = _stack(pdf[vec_col])
            cell = _cells(E, C)
            q = np.floor(E * 10000.0 + 0.5).astype(np.int64)
            np.add.at(sums, cell, q)
            counts += np.bincount(cell, minlength=k)
        nz = np.flatnonzero(counts)
        if len(nz):
            yield pd.DataFrame(
                {
                    "cell": np.repeat(nz.astype(np.int32), dim),
                    "pos": np.tile(np.arange(dim, dtype=np.int32), len(nz)),
                    "cnt": np.repeat(counts[nz], dim),
                    "qsum": sums[nz].reshape(-1),
                }
            )

    return arrow_stage(
        df.select(vec_col), "sim_ivf_partial_moments",
        "cell int, pos int, cnt long, qsum long", moments,
        not_null=vec_col, fold=True,
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred=None,
) -> DataFrame:
    """IVF approximate cosine top-k: corpus vectors live in their
    argmax-centroid cell; each query probes its ``nprobe`` best
    cells. Exact cosine re-ranks the candidates.

    The probed cells of every (bounded, driver-fetched) query are a
    function of the CELL alone, so candidate generation needs no
    join: ``_block_scan`` assigns each corpus batch's cells (the same
    left-fold argmax as ``ivf_assign``), scores each cell block
    against the queries probing that cell, and emits per-query batch
    top-k. Past ``ANN_QUERY_CAP`` queries it warns and runs the
    equi-join on cell id with broadcast probe rows instead; at
    cluster scale the cell assignment is written once as
    cell-partitioned parquet and a query batch reads only its probed
    cells (partition pruning — the IVF "inverted lists"). Both are
    row-identical (same fold order, same argmax/probe tie rules,
    same window); zero-norm vectors (0/0 → NaN cosine) drop in both.
    """
    n_cells = len(centroids)

    # Bounded query matrix, as in lsh_cosine_topk.
    q = _query_matrix(
        "ivf_cosine_topk", corpus, queries, query_pred, id_col, vec_col,
        fallback="cell-join",
    )
    if q is not None and not len(q[0]):
        return empty_frame(corpus.sparkSession, _TOPK)
    if q is not None:
        q_ids, qm = q
        C = np.asarray(centroids, dtype=np.float64)  # (n_cells, dim)
        # probe cells: ORDER BY score DESC, cell ASC — a stable
        # ascending argsort of -score keeps cell order on ties.
        probes = np.argsort(-_dots(qm, C), axis=1, kind="stable")[:, :nprobe]
        qidx_by_cell = {}
        for c in range(n_cells):
            qi = np.flatnonzero((probes == c).any(axis=1))
            if len(qi):
                qidx_by_cell[c] = qi
        return _block_scan(
            corpus, "sim_ivf_cell_scan", id_col, vec_col, q_ids, qm, k,
            partial(_cells, centroids=C), qidx_by_cell,
        )

    # ---- cell-join tier (over ANN_QUERY_CAP) ----
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    if query_pred is not None:
        # corpus-side cells AND the query slice read `assigned`;
        # cache so the centroid-score array computes once.
        assigned = assigned.cache()
    cb = assigned.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cn"),
        "cell",
    )
    # query_pred: the query batch is a slice of the corpus — reuse
    # the centroid-score projection rather than analyzing it twice.
    qs = (
        assigned.where(query_pred(F.col(id_col)))
        if query_pred is not None
        else ivf_assign(queries, centroids, id_col, vec_col)
    )
    # Probe-cell selection as a pure array expression (sort the
    # (score, cell) structs with an ORDER BY cell_score DESC, cell
    # ASC comparator, keep the first nprobe): map-side only. The
    # posexplode + row_number spelling this replaces shuffled the
    # exploded probe rows into a per-query window — a whole extra
    # exchange + window stage for a ≤ n_centroids-element ranking
    # that fits in one array.
    probe_cells = F.expr(
        f"transform(slice(array_sort("
        f"zip_with(cell_scores, sequence(0, {n_cells - 1}), "
        f"(s, c) -> struct(s AS s, c AS c)), "
        f"(x, y) -> CASE WHEN x.s > y.s THEN -1 WHEN x.s < y.s THEN 1 "
        f"WHEN x.c < y.c THEN -1 WHEN x.c > y.c THEN 1 ELSE 0 END), "
        f"1, {nprobe}), x -> x.c)"
    )
    qb = qs.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qn"),
        F.explode(probe_cells).alias("cell"),
    )
    sim = dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
    sim_r = round6(sim)
    scored = (
        cb.join(F.broadcast(qb), "cell")
        .where(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id", sim_r.alias("cosine"))
        # a corpus vector sits in exactly one cell, so (query, corpus)
        # pairs are already distinct — no dedup shuffle needed.
        # Zero-norm vectors (0/0 → NaN cosine) are dropped exactly as
        # the block scan's isfinite keep-mask drops them.
        .where(~F.isnan(F.col("cosine")))
    )
    return _rank_topk(scored, k)


def lsh_cosine_topk_multitable(
    corpus: DataFrame,
    queries: DataFrame,
    tables: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred=None,
) -> DataFrame:
    """Multi-table LSH: L independent hyperplane tables; a candidate
    pair needs to collide in ANY table. The standard recall lever
    when neighbours sit at wide angles (catch probability
    1-(1-p^b)^L vs p^b for one table).

    One Arrow stage over the corpus computes each batch's bucket
    codes AND its cosine matrix against the broadcast query matrix,
    masks non-colliding pairs, and emits per-query batch top-k. No
    candidate shuffle, no pair materialization — the collision test
    is L integer compares per pair next to the dim fused
    multiply-adds it already pays, and the accumulation follows
    ``dot()``'s dimension-ordered fold, so cosines stay bit-identical
    to the expression spelling and the oracle. The query matrix is
    required: past ``ANN_QUERY_CAP`` queries the operator raises.
    """
    # Bounded query matrix — the broadcast side by contract. The
    # query-side bucket codes are computed from it on the driver with
    # the SAME fold (_plane_codes — identical buckets), not in a
    # second Spark branch.
    q_ids, qm = _query_matrix(
        "lsh_cosine_topk_multitable", corpus, queries, query_pred,
        id_col, vec_col,
    )
    if not len(q_ids):
        # empty query set: a valid empty result, not a crash
        return empty_frame(corpus.sparkSession, _TOPK)
    nq = len(q_ids)
    qn = _norms(qm)
    mats = [np.asarray(planes, dtype=np.float64) for planes in tables]
    qcodes = np.stack([_plane_codes(qm, P) for P in mats], axis=1)  # (nq, L)

    def scan(pdf):
        cm = _stack(pdf[vec_col])
        c_ids = pdf[id_col].to_numpy(dtype=np.int64)
        # one table at a time, so the collide mask never
        # materializes an (nb, nq, L) temp
        collide = np.zeros((len(cm), nq), dtype=bool)
        for t, P in enumerate(mats):
            collide |= _plane_codes(cm, P)[:, None] == qcodes[None, :, t]
        cos = _cosines(cm, qm, qn)
        cos[~collide] = -np.inf
        cos[c_ids[:, None] == q_ids[None, :]] = -np.inf
        out = {"query_id": [], "corpus_id": [], "cosine": []}
        return _emit_topk(out, q_ids, c_ids, cos, k)

    return _rank_topk(
        arrow_stage(
            corpus, "sim_multitable_collision_scan", _SCORED, scan,
            not_null=vec_col,
        ),
        k,
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k, Arrow-vectorized.

    Same semantics as ``cosine_topk`` (self-matches excluded, ties on
    rounded cosine broken by corpus id) at a fraction of the constant:
    the query set — bounded by contract, it is the broadcast side —
    is collected to a numpy matrix, and each corpus Arrow batch is
    scored with 64 vectorized fused multiply-add passes in an Arrow
    stage. Crucially the accumulation loops over the vector
    DIMENSION, so every (query, corpus) dot product is the same
    left-associated IEEE addition chain as the higher-order-function
    fold and the oracle's list_sum — bit-identical values, ~50× less
    per-pair interpreter overhead.

    Each batch emits only its per-query top-k (any global top-k
    member is in its batch's top-k), so the final rank window reads
    |queries| × k × n_batches rows instead of |queries| × |corpus|.

    Scale: corpus-side work is one scan, embarrassingly parallel;
    driver holds only the query matrix. This is still the O(|Q|·|C|)
    VERIFICATION tier — the LSH/IVF tiers are the 100 TB candidate
    generators — but its constant no longer drowns the comparison.
    """
    # NULL vectors are excluded JVM-side (both sides) before any
    # matrix is built or crosses the Arrow boundary.
    q_ids, qm = _query_matrix(
        "cosine_topk_arrow", corpus, queries, None, id_col, vec_col
    )
    if not len(q_ids):
        # empty query set: a valid empty result, not a crash
        return empty_frame(corpus.sparkSession, _TOPK)
    qn = _norms(qm)

    def score(pdf):
        cm = _stack(pdf[vec_col])
        c_ids = pdf[id_col].to_numpy(dtype=np.int64)
        cos = _cosines(cm, qm, qn)
        cos[c_ids[:, None] == q_ids[None, :]] = -np.inf  # self-matches
        out = {"query_id": [], "corpus_id": [], "cosine": []}
        return _emit_topk(out, q_ids, c_ids, cos, k)

    return _rank_topk(
        arrow_stage(
            corpus, "sim_cosine_topk_scan", _SCORED, score, not_null=vec_col
        ),
        k,
    )


def cosine_pairs_arrow(
    bucketed: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Within-bucket exact-cosine near-duplicate pairs,
    Arrow-vectorized: one shuffle on the LSH bucket key, then each
    bucket's pairwise score matrix is computed in numpy inside a
    keyed Arrow stage — accumulating over the vector DIMENSION so
    every pair's dot product is the same left-associated IEEE chain
    as the expression fold / the oracle's list_sum (bit-identical),
    with ~50× less per-pair overhead than the interpreted HOF.

    Emits (id_a, id_b, cosine) with id_a < id_b and
    cosine >= threshold. Per-bucket cost is occupancy² — the
    LSH design bounds occupancy; at 100 TB use more bucket bits /
    tables (sim_lsh_multitable_topk) exactly as for top-k."""

    def pairs(pdf):
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return None
        cm = _stack(pdf[vec_col])
        cos = _cosines(cm, cm, _norms(cm))
        ia, ib = np.triu_indices(len(ids), k=1)  # ids sorted → id_a < id_b
        c = cos[ia, ib]
        keep = c >= threshold
        return {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "cosine": c[keep]}

    return arrow_stage(
        bucketed, "sim_bucket_cosine_pairs",
        "id_a long, id_b long, cosine double", pairs,
        not_null=vec_col, by=bucket_col,
    )


def ivf_train(
    df: DataFrame,
    centroids: list[list[float]],
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[float]]:
    """Train the IVF coarse quantizer with spherical k-means:
    ``iters`` distributed Lloyd steps, assignment against the
    UNIT-NORMALIZED codebook (argmax dot == argmax cosine), update =
    per-cell mean direction. Each step is one posexplode + hash
    aggregation (plans/vectors.sim_ivf_train_step is the
    oracle-checked single step); only the k×dim mean matrix and a
    scalar coherence come back to the driver — bounded by the
    codebook size, never by the data.

    Returns (unit codebook, per-iteration mean coherence) where
    coherence is mean(max_c x·c) over unit centroids — the spherical
    k-means objective, non-decreasing across iterations (both Lloyd
    steps are ascent steps: reassignment by definition of argmax;
    the mean direction maximizes Σ x·c over unit c), up to the 1e-4
    mean quantization. Empty cells keep their previous centroid (the
    standard dead-cell rule).

    At 100 TB: train on a deterministic hash-sample of the corpus
    (`documents`-style gate), then one full-corpus ivf_assign writes
    the cell-partitioned layout. Reference analog: none (the
    reference has no vector search); this backs SURVEY.md's IVF tier.
    """
    import math

    from pyspark.sql import functions as F

    def _unit(c: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in c)) or 1.0
        return [x / n for x in c]

    cents = [_unit(list(map(float, c))) for c in centroids]
    coherences: list[float] = []
    for _ in range(iters):
        assigned = ivf_assign(df, cents, id_col, vec_col)
        val = F.col("v").cast("double")
        rows = (
            assigned.select(
                "cell",
                F.array_max("cell_scores").alias("best"),
                F.posexplode(F.col(vec_col)).alias("pos", "v"),
            )
            .groupBy("cell", "pos")
            .agg(
                (
                    (
                        F.sum(
                            F.floor(val * 10000 + F.lit(0.5)).cast("bigint")
                        )
                        / F.lit(10000.0)
                    )
                    / F.count(F.lit(1))
                ).alias("mean"),
                F.sum(F.col("best")).alias("coh"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        means = [list(c) for c in cents]
        coh_total = 0.0
        n_total = 0
        for r in rows:
            means[r["cell"]][r["pos"]] = float(r["mean"])
            if r["pos"] == 0:
                coh_total += float(r["coh"])
                n_total += int(r["n"])
        coherences.append(coh_total / max(n_total, 1))
        cents = [_unit(c) for c in means]
    return cents, coherences


def rp_project_arrow(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Dense random projection, Arrow-vectorized: (id, vec) →
    (id, proj) where proj[j] = Σ_i vec[i]·planes[j][i].

    The accumulation loops over the vector DIMENSION (i), so every
    projected component is the same left-associated IEEE addition
    chain as the `dot()` higher-order fold and the oracle's
    list_sum — bit-identical outputs, ~25× less interpreter
    overhead than evaluating len(planes) HOF folds per row.
    """
    P = np.asarray(planes, dtype=np.float64)  # n_planes × dim

    def project(pdf):
        return {
            id_col: pdf[id_col].to_numpy(),
            out_col: list(_dots(_stack(pdf[vec_col]), P)),
        }

    return arrow_stage(
        df.select(id_col, vec_col), "sim_rp_project",
        f"{id_col} long, {out_col} array<double>", project,
        not_null=vec_col,
    )


def int8_dot_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    scale: float,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fused Arrow kernel for the scalar-quantized (int8) tier: one
    corpus scan quantizes each batch and scores it against the
    broadcast quantized query matrix with a float64 GEMM, emitting
    per-query batch top-k of the exact INTEGER dot product.

    Exactness: quantized components are integers |q| <= 128, so every
    product (<= 16,384) and every 64-term partial sum (< 2^21) is an
    exactly-representable float64 integer — the GEMM result IS the
    int64 fold of the oracle's list_sum, bit for bit. Quantization
    uses the oracle's float64 expression order
    (floor(v*127.0/scale + 0.5)).

    Scale story: the kernel's pair work is one BLAS GEMM per batch with
    the corpus crossing Arrow once; at warehouse scale the int8
    column is the scan (4x less bytes), queries are the broadcast
    side by contract.

    Emits (query_id, corpus_id, qdot) batch top-k rows — callers
    apply the global rank window and the exact-cosine rerank.
    """
    # NULL vectors are excluded on both sides, the same rule as every
    # similarity entry point (cosine_topk_arrow's convention)
    q_ids, qm = _query_matrix(
        "int8_dot_topk_arrow", corpus, queries, None, id_col, vec_col
    )
    out_schema = "query_id long, corpus_id long, qdot long"
    if not len(q_ids):
        return empty_frame(corpus.sparkSession, out_schema)
    qq = np.floor((qm * 127.0) / scale + 0.5)  # already-exact ints

    def score(pdf):
        cm = _stack(pdf[vec_col])
        c_ids = pdf[id_col].to_numpy(dtype=np.int64)
        # (nb, nq) exact integer-valued float64; -inf marks self rows
        qdot = np.floor((cm * 127.0) / scale + 0.5) @ qq.T
        qdot[c_ids[:, None] == q_ids[None, :]] = -np.inf
        out = {"query_id": [], "corpus_id": [], "qdot": []}
        _emit_topk(out, q_ids, c_ids, qdot, k, col="qdot")
        out["qdot"] = np.asarray(out["qdot"], dtype=np.int64)
        return out

    return arrow_stage(
        corpus.select(id_col, vec_col), "sim_int8_dot_topk", out_schema,
        score, not_null=vec_col,
    )


def pq_adc_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    m_sub: int,
    d_sub: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fused Arrow kernel for the product-quantization ADC tier: one
    corpus scan encodes each batch (per-subspace argmin against the
    broadcast codebooks) AND scores it against the precomputed
    integer query LUTs with m_sub int64 gathers, emitting per-query
    batch top-k of the exact quantized asymmetric distance.

    ``centroids`` is a list of (cid, vector) rows sorted by cid —
    the sample-initialized codebook (lowest-id corpus vectors). Exactness: subspace squared-L2 uses
    the identical sequential per-dimension float64 fold as DuckDB's
    list_sum; LUT entries
    quantize with the same floor(x*1e6+0.5); the ADC sum is an int64
    add of m_sub quantized entries — order-free, bit-identical.
    argmin ties break to the lowest cid, as in the oracle (np.argmin
    returns the first minimum; the centroid axis is cid-sorted).

    Scale story: a corpus vector crosses Arrow once, is encoded once, and the
    only per-pair work is m_sub table lookups — the ADC contract.
    At warehouse scale the encode runs once and persists the 8-byte
    code column; the scan then touches codes, not vectors.

    Emits (query_id, corpus_id, adist) batch top-k rows — callers
    apply the global rank window and the exact-cosine rerank.
    """

    out_schema = "query_id long, corpus_id long, adist long"
    q_ids, qm = _query_matrix(
        "pq_adc_topk_arrow", corpus, queries, None, id_col, vec_col
    )
    if not len(q_ids) or not centroids:
        return empty_frame(corpus.sparkSession, out_schema)
    nq = len(q_ids)
    kc = len(centroids)
    cents = np.array([list(v) for _, v in centroids], dtype=np.float64)

    def sub_dists(mat, m):
        """(rows, kc) sequential-fold squared-L2 in subspace m."""
        acc = np.zeros((mat.shape[0], kc))
        base = m * d_sub
        for d in range(d_sub):
            diff = mat[:, base + d][:, None] - cents[None, :, base + d]
            acc += diff * diff
        return acc

    # per-query integer LUTs: (m_sub, nq, kc)
    luts = np.stack([
        np.floor(sub_dists(qm, m) * 1e6 + 0.5).astype(np.int64)
        for m in range(m_sub)
    ])
    # Gather layout (measured at the sf10 batch shape, 10k x 1980):
    # the naive luts[m][:, codes] fancy-index along axis 1 is a
    # strided scatter — 9.4 s/batch; transposing to row-gathers
    # (each code selects one contiguous nq-wide row) is 1.2 s, and
    # PAIRING adjacent subspaces into 256-entry combined LUTs halves
    # the gather count again — 0.25 s/batch in int32. int32 is used
    # only when the driver-side bound (m_sub * max LUT entry, the
    # largest any ADC sum can reach — corpus codes only SELECT
    # entries) fits; otherwise int64 row-gathers, same layout.
    max_entry = int(luts.max()) if luts.size else 0
    dtype = np.int32 if m_sub * max_entry < 2**31 else np.int64
    pair_luts = [
        np.ascontiguousarray(
            (luts[2 * p][:, :, None] + luts[2 * p + 1][:, None, :])
            .reshape(nq, kc * kc).T.astype(dtype)
        )
        for p in range(m_sub // 2)
    ]
    tail_lut = (
        np.ascontiguousarray(luts[-1].T.astype(dtype))
        if m_sub % 2 else None
    )
    big = np.iinfo(dtype).max

    def score(pdf):
        cm = _stack(pdf[vec_col])
        c_ids = pdf[id_col].to_numpy(dtype=np.int64)
        nb = len(c_ids)
        codes = [
            np.argmin(sub_dists(cm, m), axis=1)
            for m in range(m_sub)
        ]
        adist = np.zeros((nb, nq), dtype=dtype)
        for p in range(len(pair_luts)):
            adist += pair_luts[p][codes[2 * p] * kc + codes[2 * p + 1]]
        if tail_lut is not None:
            adist += tail_lut[codes[-1]]
        adist[c_ids[:, None] == q_ids[None, :]] = big  # self
        kk = min(k, nb)
        out = {"query_id": [], "corpus_id": [], "adist": []}
        for j in range(nq):
            row = adist[:, j]
            # threshold top-k: partition gives the kth value;
            # every row at-or-below it is a tie candidate, so the
            # (adist, corpus_id) order is exact under ties
            kth = min(kk - 1, nb - 1)
            part = np.argpartition(row, kth)
            thr = row[part[kth]]
            sel = np.flatnonzero(row <= thr)
            order = sel[np.lexsort((c_ids[sel], row[sel]))][:kk]
            keep = order[row[order] != big]
            out["query_id"].extend([q_ids[j]] * len(keep))
            out["corpus_id"].extend(c_ids[keep])
            out["adist"].extend(np.asarray(row[keep], dtype=np.int64))
        return {c: np.asarray(v, np.int64) for c, v in out.items()}

    return arrow_stage(
        corpus.select(id_col, vec_col), "sim_pq_adc_topk", out_schema,
        score, not_null=vec_col,
    )
