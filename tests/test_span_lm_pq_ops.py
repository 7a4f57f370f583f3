"""Property tests for the late-round-4 additions: maximal
duplicated-span dedup, bigram-LM surprisal scoring,
cluster-representative selection, and product-quantization
retrieval.

Each is already hash-checked against its DuckDB oracle by
tests/test_all_oracles.py; these tests pin the SEMANTIC invariants
the oracle pair could violate together (both engines share generated
constants, so a shared spec bug would pass the sweep): spans against
a pure-Python islands recomputation, surprisal against a Counter
bigram LM, the keep-policy's one-per-cluster/argmax invariants, and
PQ codes/ADC against a numpy recomputation plus a recall floor vs
exact cosine.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import numpy as np
import pyarrow.parquet as pq

from metadata_wrangler_spark import plans

plans.load_all_plans()

SF = "/root/testdata/sf0.001"
L = 8  # span window length (plans.documents._SPAN_L)


def _docs():
    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))


def _words(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.lower()).strip().split(" ")


def test_span_dedup_matches_pure_python_islands(spark):
    # corpus-wide window fingerprint counts (internal repeats count)
    counts: Counter = Counter()
    doc_windows: dict[int, list[tuple[int, str]]] = {}
    for doc_id, text in _docs():
        w = _words(text)
        wins = [
            (i + 1, hashlib.md5("_".join(w[i:i + L]).encode()).hexdigest())
            for i in range(len(w) - L + 1)
        ]
        doc_windows[doc_id] = wins
        counts.update(fp for _, fp in wins)
    expect = set()
    for doc_id, wins in doc_windows.items():
        dup_starts = sorted(s for s, fp in wins if counts[fp] >= 2)
        span_no, spans = 0, []
        for s in dup_starts:
            if spans and s - spans[-1][1] <= L:
                spans[-1][1] = s
                spans[-1][2] += 1
            else:
                span_no += 1
                spans.append([s, s, 1])
        for no, (a, b, n) in enumerate(spans, start=1):
            expect.add((doc_id, no, a, b + L - 1, b + L - a, n))
    got = {
        tuple(r)
        for r in plans.QUERIES["dd_span_dedup"](spark, SF).collect()
    }
    assert got == expect
    # at least one multi-window merged span exists, else the island
    # logic was never exercised
    assert any(r[5] >= 2 for r in got)


def test_lm_surprisal_matches_counter_lm(spark):
    bg: Counter = Counter()
    pf: Counter = Counter()
    per_doc: dict[int, list[tuple[str, str]]] = {}
    for doc_id, text in _docs():
        w = _words(text)
        grams = list(zip(w, w[1:]))
        per_doc[doc_id] = grams
        bg.update(f"{a}_{b}" for a, b in grams)
        pf.update(a for a, _ in grams)
    expect = {}
    for doc_id, grams in per_doc.items():
        if not grams:
            continue
        s = sum(
            pf[a].bit_length() - bg[f"{a}_{b}"].bit_length()
            for a, b in grams
        )
        expect[doc_id] = (
            len(grams), s, (1_000_000 * s) // len(grams)
        )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_surprisal"],
                      r["mean_surprisal_ppm"])
        for r in plans.QUERIES["txt_lm_surprisal"](spark, SF).collect()
    }
    assert got == expect
    # surprisal is non-negative (a bigram never outnumbers its prefix)
    assert all(v[1] >= 0 for v in got.values())


def test_cluster_keep_policy_invariants(spark):
    rows = plans.QUERIES["dd_cluster_keep"](spark, SF).collect()
    # every document appears exactly once
    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id"])
    assert sorted(r["doc_id"] for r in rows) == sorted(
        t.column("doc_id").to_pylist()
    )
    clusters: dict[int, list] = defaultdict(list)
    for r in rows:
        clusters[r["cluster_id"]].append(r)
    for members in clusters.values():
        kept = [m for m in members if m["kept"] == 1]
        assert len(kept) == 1  # exactly one representative
        rep = kept[0]
        best = min(members, key=lambda m: (-m["quality"], m["doc_id"]))
        assert rep["doc_id"] == best["doc_id"]
    # cluster assignment agrees with dd_minhash_clusters where defined
    cc = {
        r["doc_id"]: r["canonical_id"]
        for r in plans.QUERIES["dd_minhash_clusters"](spark, SF).collect()
    }
    mine = {r["doc_id"]: r["cluster_id"] for r in rows}
    for doc_id, comp in cc.items():
        assert mine[doc_id] == comp
    # some cluster actually merged docs (the policy did real work)
    assert any(len(m) >= 2 for m in clusters.values())


def _embeddings():
    t = pq.read_table(f"{SF}/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_pylist()
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    return ids, vecs


def test_pq_codes_and_adc_match_numpy(spark):
    M, D, KC, K = 8, 8, 16, 5
    ids, vecs = _embeddings()
    idx = {v: i for i, v in enumerate(ids)}
    sub = vecs.reshape(len(ids), M, D)
    cents = np.stack([sub[idx[c]] for c in range(KC)], axis=1)  # (M? ...)
    # cents[m][c] = subvector of corpus vec_id c in subspace m
    cents = np.stack([np.stack([sub[idx[c], m] for c in range(KC)])
                      for m in range(M)])  # (M, KC, D)
    # encode every vector: argmin squared L2, tiebreak lowest cid
    d2 = ((sub[:, :, None, :] - cents[None, :, :, :]) ** 2).sum(-1)
    codes = d2.argmin(axis=2)  # numpy argmin takes first on ties
    queries = [v for v in ids if v % 101 == 0]
    lut = {
        q: np.floor(d2[idx[q]] * 1_000_000 + 0.5).astype(np.int64)
        for q in queries
    }
    expect = {}
    for q in queries:
        adist = [
            (int(lut[q][np.arange(M), codes[idx[c]]].sum()), c)
            for c in ids if c != q
        ]
        adist.sort()
        expect.update({(q, c): (a, rk + 1)
                       for rk, (a, c) in enumerate(adist[:K])})
    got = {
        (r["query_id"], r["corpus_id"]): (r["adist"], r["rank"])
        for r in plans.QUERIES["sim_pq_topk"](spark, SF).collect()
    }
    assert got == expect


def test_pq_recall_floor_vs_exact_cosine(spark):
    K = 5
    exact = defaultdict(set)
    for r in plans.QUERIES["sim_cosine_topk"](spark, SF).collect():
        exact[r["query_id"]].add(r["corpus_id"])
    pqk = defaultdict(set)
    for r in plans.QUERIES["sim_pq_topk"](spark, SF).collect():
        pqk[r["query_id"]].add(r["corpus_id"])
    hits = sum(len(exact[q] & pqk[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    recall = hits / total
    # sample-initialized codebooks on L2 ADC vs cosine ground truth:
    # a modest floor — the tier's value is compression, and
    # ivf_train-per-subspace is the documented recall lever
    assert recall >= 0.2, recall


def test_pq_adc_kernel_odd_subspaces_and_int64_fallback(spark):
    """Direct kernel contract: (a) an ODD subspace count exercises the
    unpaired tail gather; (b) LUT entries big enough that
    m_sub * max(lut) >= 2^31 force the int64 row-gather fallback.
    Both must match a per-pair numpy reference exactly."""
    from metadata_wrangler_spark.operators.similarity import pq_adc_topk_arrow

    rng = np.random.default_rng(7)
    m_sub, d_sub, kc, n = 3, 4, 4, 60
    dim = m_sub * d_sub
    # huge magnitudes so squared distances push lutq past 2^31/m_sub
    vecs = (rng.standard_normal((n, dim)) * 40.0).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.where("vec_id % 7 = 0")
    # centroids come off the DataFrame (float32-widened), exactly as
    # the plan collects them
    cents = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in corpus.where(f"vec_id < {kc}").collect()
    )

    # the kernel emits per-BATCH top-k by contract; apply the global
    # rank window the plan applies
    from collections import defaultdict

    raw = pq_adc_topk_arrow(
        corpus, queries, cents, m_sub, d_sub, k=3
    ).collect()
    per_q = defaultdict(list)
    for r in raw:
        per_q[r["query_id"]].append((r["adist"], r["corpus_id"]))
    got = sorted(
        (q, c, a)
        for q, lst in per_q.items()
        for a, c in sorted(lst)[:3]
    )

    # reference: float32-widened vectors (what Arrow hands the kernel),
    # sequential-fold distances, argmin->lowest cid, int64 ADC
    v32 = vecs.astype(np.float32).astype(np.float64)
    cmat = np.array([c[1] for c in cents])
    cmat = cmat.astype(np.float32).astype(np.float64)

    def dists(mat, m):
        acc = np.zeros((mat.shape[0], kc))
        for d in range(d_sub):
            i = m * d_sub + d
            diff = mat[:, i][:, None] - cmat[None, :, i]
            acc += diff * diff
        return acc

    luts = [np.floor(dists(v32, m) * 1e6 + 0.5).astype(np.int64)
            for m in range(m_sub)]
    assert m_sub * max(int(lut.max()) for lut in luts) >= 2**31  # fallback hit
    codes = [np.argmin(dists(v32, m), axis=1) for m in range(m_sub)]
    exp = []
    q_ids = [i for i in range(n) if i % 7 == 0]
    for q in q_ids:
        scored = []
        for c in range(n):
            if c == q:
                continue
            adist = sum(int(luts[m][q, codes[m][c]]) for m in range(m_sub))
            scored.append((adist, c))
        scored.sort()
        exp.extend((q, c, a) for a, c in scored[:3])
    assert got == sorted(exp)
