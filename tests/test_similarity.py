"""Similarity-search tests: exact cosine on hand-built vectors, and
LSH recall@k measured against the exact tier on the driver's
embeddings table (sf0.001)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators import similarity
from metadata_wrangler_spark.plans.vectors import _PLANES


def _vecs(spark, data):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in data],
        "vec_id bigint, embedding array<float>",
    )


def test_cosine_topk_exact_on_known_vectors(spark):
    corpus = _vecs(spark, [
        (1, [1, 0, 0]),
        (2, [0.9, 0.1, 0]),
        (3, [0, 1, 0]),
        (4, [0, 0, 1]),
    ])
    queries = corpus.where(F.col("vec_id") == 1)
    out = similarity.cosine_topk(corpus, queries, k=2)
    got = [(r["corpus_id"], r["rank"]) for r in
           out.orderBy("rank").collect()]
    assert got == [(2, 1), (3, 2)]


def test_cosine_topk_self_match_excluded(spark):
    corpus = _vecs(spark, [(1, [1, 0]), (2, [1, 0])])
    out = similarity.cosine_topk(corpus, corpus, k=5)
    for r in out.collect():
        assert r["query_id"] != r["corpus_id"]


def test_hyperplane_buckets_deterministic(spark):
    corpus = _vecs(spark, [(i, [i * 0.1, 1 - i * 0.1]) for i in range(8)])
    planes = [[1.0, -1.0], [0.5, 0.5]]
    b1 = {r["vec_id"]: r["bucket"] for r in
          similarity.hyperplane_buckets(corpus, planes).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in
          similarity.hyperplane_buckets(corpus, planes).collect()}
    assert b1 == b2
    assert all(0 <= v < 4 for v in b1.values())


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_lsh_recall_at_k_vs_exact(spark, sf_dir):
    """Recall@5 vs the exact tier on the synthetic embeddings.

    The corpus is near-isotropic (top-5 neighbours sit at cosine
    ~0.33, i.e. ~71 deg), so single-table recall is inherently low
    (p^6 with p~0.6); the recall levers must work as theory says:
    multi-probe strictly improves on single-probe, and 24 tables x
    3 bits clears 0.9.
    """
    from metadata_wrangler_spark.catalog import load
    from metadata_wrangler_spark.plans.vectors import _fixed_planes
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.expr("vec_id % 101 = 0"))
    exact = similarity.cosine_topk(emb, queries, k=5)
    exact_pairs = {(r["query_id"], r["corpus_id"])
                   for r in exact.collect()}

    def recall(df):
        got = {(r["query_id"], r["corpus_id"]) for r in df.collect()}
        return len(exact_pairs & got) / len(exact_pairs)

    r_single = recall(similarity.lsh_cosine_topk(emb, queries, _PLANES, k=5))
    r_probe = recall(similarity.lsh_cosine_topk(
        emb, queries, _PLANES, k=5, probe_hamming=1))
    tables = [_fixed_planes(3, 64, seed=1000 + t) for t in range(24)]
    r_multi = recall(similarity.lsh_cosine_topk_multitable(
        emb, queries, tables, k=5))

    # Single-table 6-bit recall on a 71-deg corpus is p^6 ~ 0.047 by
    # theory; assert it is in that regime (non-zero, not inflated by
    # bucket skew — correlated planes used to fake ~0.3 here by
    # funnelling half the corpus through one bucket).
    assert 0.01 <= r_single <= 0.3, f"single-probe recall {r_single}"
    assert r_probe > r_single, (r_probe, r_single)
    assert r_multi >= 0.9, f"multitable recall {r_multi}"


def test_ivf_assign_argmax_cell(spark):
    """Cell = first argmax over centroid dot products, 0-based."""
    corpus = _vecs(spark, [
        (1, [1, 0]),    # aligned with centroid 0
        (2, [0, 1]),    # aligned with centroid 1
        (3, [-1, 0]),   # anti-aligned: ties between c0 (-1) and... c1 (0) wins
    ])
    centroids = [[1.0, 0.0], [0.0, 1.0]]
    cells = {r["vec_id"]: r["cell"] for r in
             similarity.ivf_assign(corpus, centroids).collect()}
    assert cells == {1: 0, 2: 1, 3: 1}


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_ivf_recall_and_nprobe_monotone(spark, sf_dir):
    """IVF recall@5 vs the exact tier: more probes => recall never
    drops, and probing every cell recovers the exact result
    (the candidate set becomes the whole corpus)."""
    from metadata_wrangler_spark.catalog import load
    from metadata_wrangler_spark.plans.vectors import _CENTROIDS
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.expr("vec_id % 101 = 0"))
    exact = similarity.cosine_topk(emb, queries, k=5)
    exact_pairs = {(r["query_id"], r["corpus_id"])
                   for r in exact.collect()}

    def recall(nprobe):
        df = similarity.ivf_cosine_topk(
            emb, queries, _CENTROIDS, k=5, nprobe=nprobe)
        got = {(r["query_id"], r["corpus_id"]) for r in df.collect()}
        return len(exact_pairs & got) / len(exact_pairs)

    r2, r8, r_all = recall(2), recall(8), recall(len(_CENTROIDS))
    assert r2 > 0, f"nprobe=2 recall {r2}"
    assert r8 >= r2, (r8, r2)
    assert r_all == 1.0, f"full-probe recall {r_all}"


def _random_vectors(n, dim, seed):
    # Deterministic float32 vectors via the same LCG the plans use
    # (no RNG state, reproducible across runs).
    state = seed
    rows = []
    for vid in range(n):
        vec = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            vec.append(((state >> 32) / float(1 << 31)) - 1.0)
        rows.append((vid, [float(x) for x in vec]))
    return rows


def test_cosine_topk_arrow_bit_identical_to_expression(spark):
    # The Arrow scorer accumulates over the vector dimension, which
    # must reproduce the HOF fold's left-associated IEEE chain
    # EXACTLY — same rows, same bits, including rank ties broken on
    # the rounded value.
    rows = _random_vectors(n=80, dim=17, seed=99)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where(F.col("vec_id") % 11 == 0)
    expr = similarity.cosine_topk(df, queries, k=4)
    arrow = similarity.cosine_topk_arrow(df, queries, k=4)
    assert sorted(map(tuple, expr.collect())) == sorted(
        map(tuple, arrow.collect())
    )


def test_cosine_pairs_arrow_bit_identical_to_expression(spark):
    from metadata_wrangler_spark.plans.vectors import _PLANES as planes
    rows = _random_vectors(n=120, dim=64, seed=7)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    b = similarity.hyperplane_buckets(df, planes)
    b = b.withColumn("n", similarity.norm(F.col("embedding")))
    a, c = b.alias("a"), b.alias("b")
    cos = similarity.dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.n") * F.col("b.n")
    )
    cos_r = similarity.round6(cos)
    threshold = -0.5  # keep lots of pairs so ties/negatives exercise
    expr = (
        a.join(
            c,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos_r.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    arrow = similarity.cosine_pairs_arrow(b, threshold=threshold)
    assert sorted(map(tuple, expr.collect())) == sorted(
        map(tuple, arrow.collect())
    )


def test_ivf_train_refines_codebook(spark):
    """Spherical k-means iterations must not worsen the objective:
    mean best dot against the unit codebook is NON-DECREASING
    (tolerance for the 1e-4 mean quantization), the codebook stays
    unit-norm and keeps its shape, and training moves it."""
    import math

    from metadata_wrangler_spark.operators.similarity import ivf_train
    from metadata_wrangler_spark.plans.vectors import _CENTROIDS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents, coh = ivf_train(emb, _CENTROIDS, iters=3)
    assert len(cents) == len(_CENTROIDS)
    assert all(len(c) == len(_CENTROIDS[0]) for c in cents)
    for c in cents:
        assert abs(math.sqrt(sum(x * x for x in c)) - 1.0) < 1e-9
    assert len(coh) == 3
    for a, b in zip(coh, coh[1:]):
        assert b >= a - 1e-3, coh
    assert cents != [list(map(float, c)) for c in _CENTROIDS]


@pytest.mark.parametrize("probe_hamming", [0, 1, 2])
def test_lsh_topk_tiers_row_identical(spark, monkeypatch, probe_hamming):
    """ANN_QUERY_CAP must only pick an implementation, never a
    result: the bucket block scan (in-cap query set) and the
    bucket-join fallback (cap forced below |Q|, with its warning)
    return identical rows at every probe_hamming level — same bucket
    codes, same probe sets, same rounded cosines, same rank
    tie-breaks."""
    from metadata_wrangler_spark.catalog import load
    from metadata_wrangler_spark.plans.vectors import _PLANES

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    pred = lambda c: c % 101 == 0  # noqa: E731
    scan = similarity.lsh_cosine_topk(
        emb, None, _PLANES, k=5, probe_hamming=probe_hamming,
        query_pred=pred,
    )
    monkeypatch.setattr(similarity, "ANN_QUERY_CAP", 1)
    with pytest.warns(UserWarning, match="ANN_QUERY_CAP"):
        join = similarity.lsh_cosine_topk(
            emb, None, _PLANES, k=5, probe_hamming=probe_hamming,
            query_pred=pred,
        )
    rows = sorted(map(tuple, scan.collect()))
    assert rows and rows == sorted(map(tuple, join.collect()))


def test_ivf_topk_tiers_row_identical(spark, monkeypatch):
    """ANN_QUERY_CAP must only pick an implementation, never a
    result: the cell block scan (in-cap query set) and the cell-join
    fallback (cap forced below |Q|, with its warning) return
    identical rows — same probed cells, same candidates, same
    rounded cosines, same rank tie-breaks."""
    from metadata_wrangler_spark.catalog import load
    from metadata_wrangler_spark.plans.vectors import _CENTROIDS

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.where("vec_id % 101 = 0")
    scan = similarity.ivf_cosine_topk(emb, queries, _CENTROIDS, k=5, nprobe=2)
    monkeypatch.setattr(similarity, "ANN_QUERY_CAP", 1)
    with pytest.warns(UserWarning, match="ANN_QUERY_CAP"):
        join = similarity.ivf_cosine_topk(
            emb, queries, _CENTROIDS, k=5, nprobe=2
        )
    rows = sorted(map(tuple, scan.collect()))
    assert rows and rows == sorted(map(tuple, join.collect()))


def test_ivf_partial_moments_match_posexplode_spelling(spark):
    """The PRODUCTION fused Lloyd-step kernel (ivf_partial_moments —
    the one sim_ivf_train_step ships) must reproduce the
    ivf_assign + posexplode + hash-aggregate spelling the oracle is
    generated from, bit-for-bit: same argmax cell per vector (the
    left-fold score chain), same per-(cell, pos) member counts and
    quantized sums at ANY partitioning (int64 partials are
    associative)."""
    from pyspark.sql import functions as F

    from metadata_wrangler_spark.operators import similarity as sim
    from metadata_wrangler_spark.plans.vectors import _CENTROIDS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    expr = (
        sim.ivf_assign(emb, _CENTROIDS)
        .select("cell", F.posexplode(F.col("embedding")).alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.floor(F.col("v").cast("double") * 10000 + F.lit(0.5))
                .cast("bigint")
            ).alias("qsum"),
        )
    )
    kernel = (
        sim.ivf_partial_moments(
            emb.repartition(7),  # partials fold across an odd partitioning
            _CENTROIDS,
        )
        .groupBy("cell", "pos")
        .agg(F.sum("cnt").alias("cnt"), F.sum("qsum").alias("qsum"))
    )
    sgot = sorted(tuple(r) for r in kernel.collect())
    sexp = sorted(tuple(r) for r in expr.collect())
    assert sgot == sexp


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_knn_graph_edges_subset_of_bucket_pairs(spark, sf_dir):
    """sim_knn_graph invariants: every vector with ≥1 co-occupant
    gets 1..k ranked edges; every edge's endpoints share a bucket;
    edge cosines match the exact pairwise score; and the graph's
    per-vector top-1 agrees with exact top-1 whenever the exact
    nearest neighbour shares the query's bucket (the LSH contract —
    candidates can only miss CROSS-bucket neighbours)."""
    from metadata_wrangler_spark.catalog import load
    from metadata_wrangler_spark.plans.vectors import (_KNN_K, _PLANES,
                                                       sim_knn_graph)

    emb = load(spark, sf_dir, "embeddings")
    graph = sim_knn_graph(spark, sf_dir).collect()
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in similarity.hyperplane_buckets(emb, _PLANES).collect()
    }
    per_vec = {}
    for r in graph:
        per_vec.setdefault(r["vec_id"], []).append(r)
        assert buckets[r["vec_id"]] == buckets[r["nbr_id"]]
    for vid, rows in per_vec.items():
        ranks = sorted(x["rank"] for x in rows)
        assert ranks == list(range(1, len(rows) + 1))
        assert len(rows) <= _KNN_K
        # ranked by (cosine desc, nbr asc)
        ordered = sorted(rows, key=lambda x: (-x["cosine"], x["nbr_id"]))
        assert [x["rank"] for x in ordered] == ranks
    # exact agreement whenever the true NN is bucket-local
    exact = similarity.cosine_topk(
        emb, emb.where(F.expr("vec_id % 37 = 0")), k=1
    ).collect()
    for r in exact:
        q, nn = r["query_id"], r["corpus_id"]
        if buckets.get(q) == buckets.get(nn) and q in per_vec:
            top1 = min(per_vec[q], key=lambda x: x["rank"])
            assert top1["nbr_id"] == nn and top1["cosine"] == r["cosine"]


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_multitable_tiers_row_identical_with_zero_norm_vectors(
    spark, sf_dir
):
    """Degenerate inputs: zero-norm vectors produce 0/0 = NaN
    cosines, which the collision scan must DROP — Spark's descending
    sort would rank a NaN above every real cosine. Adding two
    zero-norm corpus vectors (one of them also a query) must change
    no row of the result."""
    from metadata_wrangler_spark.catalog import load
    from metadata_wrangler_spark.plans.vectors import _TABLES

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = len(emb.select("embedding").first()[0])
    zeros = spark.createDataFrame(
        [(10_000_001, [0.0] * dim), (10_000_002, [0.0] * dim)],
        "vec_id long, embedding array<float>",
    )
    corpus = emb.unionByName(zeros)
    # query set includes a zero-norm vector too (NaN on the query axis)
    queries = corpus.where(
        F.expr("vec_id % 101 = 0 OR vec_id = 10000001")
    )
    base = similarity.lsh_cosine_topk_multitable(
        emb, emb.where(F.expr("vec_id % 101 = 0")), _TABLES, k=5
    )
    padded = similarity.lsh_cosine_topk_multitable(
        corpus, queries, _TABLES, k=5
    )
    rows = sorted(tuple(r) for r in padded.collect())
    assert rows and rows == sorted(tuple(r) for r in base.collect())
    # no NaN cosine survives, and the zero-norm ids never appear
    import math
    assert all(math.isfinite(r[2]) for r in rows)
    assert all(r[1] < 10_000_001 for r in rows)
    assert all(r[0] != 10_000_001 for r in rows)


def test_ann_query_cap_lsh_and_ivf_fall_back_to_join_tier(
    spark, monkeypatch
):
    """ANN_QUERY_CAP enforcement (round 11): an over-cap query set
    must route the single-table LSH and IVF operators to their join
    tier — loudly, and with identical rows (the cap is a tier pick,
    never a result change). The driver-side fetch itself is bounded
    at cap + 1 rows, so this also pins that the fallback path
    builds its query side from the DataFrame, not the fetch."""
    corpus = _vecs(
        spark,
        [(i, [1.0 + 0.01 * i, 0.5 - 0.02 * i]) for i in range(8)],
    )
    queries = corpus.where(F.col("vec_id") < 3)
    planes = [[1.0, -1.0], [0.5, 0.5]]
    cents = [[1.0, 0.0], [0.0, 1.0]]
    base_lsh = sorted(
        map(tuple, similarity.lsh_cosine_topk(
            corpus, queries, planes, k=3
        ).collect())
    )
    base_ivf = sorted(
        map(tuple, similarity.ivf_cosine_topk(
            corpus, queries, cents, k=3, nprobe=1
        ).collect())
    )
    assert base_lsh and base_ivf
    monkeypatch.setattr(similarity, "ANN_QUERY_CAP", 1)
    with pytest.warns(UserWarning, match="ANN_QUERY_CAP"):
        capped_lsh = similarity.lsh_cosine_topk(
            corpus, queries, planes, k=3
        )
    with pytest.warns(UserWarning, match="ANN_QUERY_CAP"):
        capped_ivf = similarity.ivf_cosine_topk(
            corpus, queries, cents, k=3, nprobe=1
        )
    assert sorted(map(tuple, capped_lsh.collect())) == base_lsh
    assert sorted(map(tuple, capped_ivf.collect())) == base_ivf


@pytest.mark.parametrize(
    "op, args",
    [
        ("lsh_cosine_topk_multitable", ([[[1.0, -1.0]], [[0.5, 0.5]]],)),
        ("cosine_topk_arrow", ()),
        ("int8_dot_topk_arrow", (1.0,)),
        ("pq_adc_topk_arrow", ([(0, [1.0]), (1, [0.5])], 2, 1)),
    ],
    ids=["multitable", "cosine_arrow", "int8_arrow", "pq_arrow"],
)
def test_ann_query_cap_raises_without_driver_free_tier(
    spark, monkeypatch, op, args
):
    """Multitable LSH and the Arrow scorers (exact cosine, int8, PQ)
    score only against the driver query matrix, so an over-cap query
    set must raise with the contract spelled out instead of building
    an unbounded matrix."""
    corpus = _vecs(
        spark,
        [(i, [1.0 + 0.01 * i, 0.5 - 0.02 * i]) for i in range(8)],
    )
    queries = corpus.where(F.col("vec_id") < 3)
    monkeypatch.setattr(similarity, "ANN_QUERY_CAP", 1)
    with pytest.raises(ValueError, match="ANN_QUERY_CAP"):
        getattr(similarity, op)(corpus, queries, *args, k=3)


_ANN_FETCHES = {
    "sim_quantized_topk": ["int8_dot_topk_arrow_query_matrix",
                           "sim_int8_scale"],
    "sim_pq_topk": ["pq_adc_topk_arrow_query_matrix", "sim_pq_codebook"],
    "sim_lsh_topk": ["lsh_cosine_topk_query_matrix"],
    "sim_lsh_probe_topk": ["lsh_cosine_topk_query_matrix"],
    "sim_lsh_multitable_topk": ["lsh_cosine_topk_multitable_query_matrix"],
    "sim_ivf_topk": ["ivf_cosine_topk_query_matrix"],
    "sim_recall_eval": ["cosine_topk_arrow_query_matrix",
                        "lsh_cosine_topk_query_matrix"],
    "pipe_semantic_search": ["lsh_cosine_topk_query_matrix"],
}


def test_ann_queries_make_only_their_named_driver_fetches(spark, caplog):
    """Each ANN query has one scoring path: building it fetches its
    bounded query matrix (plus the int8 scale or the PQ codebook) and
    nothing else — no tier probe picks between spellings."""
    import logging

    from metadata_wrangler_spark import plans
    from metadata_wrangler_spark.operators import driver_fetch

    plans.load_all_plans()
    got = {}
    for name in _ANN_FETCHES:
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=driver_fetch.__name__):
            plans.QUERIES[name](spark, "/root/testdata/sf0.001")
        got[name] = sorted(
            r.getMessage().split(":")[0].removeprefix("driver fetch ")
            for r in caplog.records if r.name == driver_fetch.__name__
        )
    assert got == _ANN_FETCHES


def _write_embeddings(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([i for i, _ in rows], pa.int64()),
                "embedding": pa.array(
                    [v for _, v in rows], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(rows), pa.int32()),
            }
        ),
        path / "embeddings.parquet",
    )
    return str(path)


def test_compression_tiers_return_no_rows_on_all_null_corpus(
    spark, tmp_path
):
    """An all-NULL corpus has no int8 scale and no PQ codebook: both
    plans return an empty result, not a crash (the empty ladder
    covers a zero-row corpus)."""
    from metadata_wrangler_spark import plans

    plans.load_all_plans()
    sf = _write_embeddings(tmp_path / "nulls", [(0, None), (101, None)])
    for name in ("sim_quantized_topk", "sim_pq_topk"):
        assert plans.QUERIES[name](spark, sf).collect() == [], name


def test_pq_codebook_fetch_raises_past_its_cap(spark, tmp_path):
    """The PQ codebook is the corpus rows with vec_id < _PQ_KC, read
    through the bounded fetch ``sim_pq_codebook``. More rows than
    codebook entries (a duplicated id) raise and name the cap rather
    than collecting them."""
    from metadata_wrangler_spark import plans
    from metadata_wrangler_spark.plans.vectors import _PQ_KC

    plans.load_all_plans()
    vec = [1.0] * 64
    sf = _write_embeddings(
        tmp_path / "dup", [(i, vec) for i in range(_PQ_KC)] + [(0, vec)]
    )
    with pytest.raises(ValueError, match="sim_pq_codebook"):
        plans.QUERIES["sim_pq_topk"](spark, sf)
