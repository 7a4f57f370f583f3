"""Document deduplication operators for the training-data pipeline.

Four tiers, cheapest first — each one is a `queries()` entry over the
driver's ``documents`` table (see plans/documents.py):

  exact        hash-groupBy on a canonical fingerprint; one shuffle.
  ngram        exact n-gram (shingle) Jaccard similarity join:
               candidate pairs via equi-join on shared shingle, then
               exact score. Correct but quadratic within a shingle
               bucket — the verification tier.
  minhash_lsh  MinHash signatures + banded LSH: candidate pairs come
               from equality on band keys, so the join is a plain
               equi-join whose cost scales with the number of true
               near-dups, not n². The 100 TB path. Each shingle is
               md5-hashed ONCE; the k signature slots come from
               affine rehashes (a_k·h + b_k) mod p — k× cheaper than
               k independent md5s with the same collision behavior.
  simhash      32-bit SimHash fingerprints; near-dups differ in few
               bits — banded into 4×8-bit keys for Hamming ≤ 3
               candidate generation (simhash_pairs).

All hashing is built from ``md5`` so every stage is reproducible in
ANSI SQL for the DuckDB oracle. The pairwise tiers stay inside
whole-stage codegen (no Python); the MinHash signature fold is a
declared Arrow kernel (``minhash_signatures``) whose md5/rehash
arithmetic is bit-identical to the SQL spelling it replaced
(``minhash_signatures_sql``, kept as the equivalence oracle).
"""

from __future__ import annotations

import re
from hashlib import blake2b, md5

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators.arrow_stage import arrow_stage

# Java \s (ASCII-only), matching normalize_text; only ' ' runs can
# remain after the collapse, so a trailing strip(' ') == Spark's trim.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")

# ---------------------------------------------------------------------------
# shared hashing helpers (expression-level, codegen-friendly)
# ---------------------------------------------------------------------------


def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT.

    Portable: DuckDB spells it CAST('0x' || substr(md5(x),1,15) AS BIGINT),
    Spark spells it conv(substr(md5(x),1,15),16,10).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def normalize_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse runs of
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def shingles(n: int = 3, words_col: str = "w") -> Column:
    """Contiguous word n-grams joined by '_', as an array column.

    Expects the word array in column ``words_col``; built with the
    higher-order ``transform`` over start indices (JVM-side, no UDF).
    """
    w = words_col
    joiner = "concat_ws('_', " + ", ".join(f"{w}[i + {k}]" for k in range(n)) + ")"
    return F.expr(
        f"CASE WHEN size({w}) >= {n} THEN "
        f"transform(sequence(0, size({w}) - {n}), i -> {joiner}) "
        f"ELSE array() END"
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Group documents by canonical-text fingerprint.

    Returns (fingerprint STRING, canonical_id BIGINT, n_docs BIGINT):
    one row per distinct content, min-id canonical. A single
    hash-aggregate — at 100 TB this is one shuffle on a high-entropy
    key with map-side partial aggregation, no skew.
    """
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        docs.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity join (exact near-dup)
# ---------------------------------------------------------------------------


def _shingle_tables(
    docs: DataFrame, id_col: str, text_col: str, n: int,
    cache: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(sh, sizes): the hashed distinct-shingle rows and per-doc
    shingle counts shared by the pairwise scorers.

    ``cache=True`` persists ``sh`` — pass it when the CALLER reads
    the shingle table more than once (the pruned tier's doc-freq
    aggregate + candidate source + hot-array build). The exact tiers
    read it exactly once (the bucket-HOF expansion replaced the old
    self-join, whose two sides were why the cache existed), and for
    a single consumer the cache is pure overhead: round-11 A/B at
    sf0.1 with per-sample cache release, 2.49 → 2.21 s. When used,
    the cache is session-LRU-managed (MEMORY_AND_DISK, evictable); a
    long-lived driver that wants the storage back immediately should
    `spark.catalog.clearCache()` after collecting, since the
    returned plans are lazy and own no unpersist scope.
    """
    base = with_words(docs, id_col, text_col).select(
        "id", F.array_distinct(shingles(n)).alias("shs")
    )
    sizes = base.select("id", F.size("shs").alias("n_sh"))
    # The (id, n_sh, hp) rows come from ONE Arrow pass (round 11):
    # normalize → split → distinct shingles → 64-bit hash per doc
    # inside the scan partition. hp never leaves any pairwise scorer
    # (outputs are ids + counts/ratios), so only 64-bit equality
    # classes matter and they match the oracle's md5 join — the hash
    # is blake2b-8 (hashlib), replacing xxhash64 with the same
    # collision contract. The JVM spelling paid the concat_ws
    # shingle-string transform + array_distinct + explode through
    # codegen: full-query interleaved A/B (dd_ngram_jaccard, rows
    # identical) 2.14 → 1.79 s at sf0.1. MinHash keeps md5_long: its
    # VALUES feed the affine rehashes replicated verbatim in the
    # oracle SQL. n_sh rides every shingle row (one int against a
    # bigint+id row): scorers whose only use of ``sizes`` is the
    # per-pair denominator read it off the pair expansion instead of
    # re-deriving the document pipeline through two join-backs.
    def shingle_rows(pdf):
        ids: list = []
        ns: list = []
        hps: list = []
        for did, text in zip(pdf["id"], pdf["t"]):
            if text is None:
                continue
            w = _JAVA_WS.sub(" ", text.lower()).strip(" ").split(" ")
            if len(w) < n:
                continue
            shs = {"_".join(w[i:i + n]) for i in range(len(w) - n + 1)}
            k = len(shs)
            ids.extend([did] * k)
            ns.extend([k] * k)
            hps.extend(
                int.from_bytes(
                    blake2b(s.encode(), digest_size=8).digest(),
                    "big", signed=True,
                )
                for s in shs
            )
        return {
            "id": np.asarray(ids, dtype=np.int64),
            "n_sh": np.asarray(ns, dtype=np.int64),
            "hp": np.asarray(hps, dtype=np.int64),
        }

    sh = arrow_stage(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")),
        "dd_shingle_rows", "id long, n_sh long, hp long", shingle_rows,
    )
    if cache:
        sh = sh.cache()
    return sh, sizes


def _shared_counts_sized(sh: DataFrame) -> DataFrame:
    """(id_a, id_b, n_shared, sh_a, sh_b): co-occurrence counts over
    shingle buckets, with each side's shingle-set size carried
    THROUGH the expansion.

    Spelling: groupBy(hp) → sorted (id, n_sh) struct list → HOF pair
    expansion (nested ``transform`` over strict upper-triangle
    slices) → pair-keyed count. One exchange on hp instead of the
    equi-self-join's two (plus its sort/probe) — measured 2.3×
    faster at sf0.1 with bit-identical output — and the sizes ride
    the struct elements, so scorers read the denominator off the
    pair row instead of joining the per-doc sizes back: each of
    those join-backs re-derived the whole normalize→shingle document
    pipeline (round 11: full-query sf0.1 A/B 2.22 → 1.83 s from
    deleting both). sort_array on (id, n) structs orders by id
    (unique per doc), so the strict upper triangle still yields
    id_a < id_b. Bucket occupancy is bounded by document frequency
    of the shingle — the collect_list per bucket is the same rows
    the join's probe side would buffer, and the quadratic pair
    blowup is identical in both spellings (pass ``max_doc_freq``
    upstream to bound it)."""
    g = sh.groupBy("hp").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("id"), F.col("n_sh")))
        ).alias("ids")
    )
    pairs = (
        g.where(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "b -> struct(a.id AS id_a, b.id AS id_b, "
                    "a.n_sh AS sh_a, b.n_sh AS sh_b))))"
                )
            ).alias("p")
        )
        # a 64-bit hp collision inside one doc would yield an (x,x)
        # row the join spelling never emits; drop it
        .where(F.col("p.id_a") != F.col("p.id_b"))
        .select("p.id_a", "p.id_b", "p.sh_a", "p.sh_b")
    )
    return pairs.groupBy("id_a", "id_b", "sh_a", "sh_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )


def token_jaccard_blocked(
    df: DataFrame,
    key_col: str,
    block_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """Token-set Jaccard similarity join blocked on ``block_col``,
    computed block-locally in ONE Arrow pass.

    Candidates are pairs sharing ≥1 token within a block (the same
    classes as the equi-join-on-token oracle spelling), scored
    exactly: jaccard = |A∩B| / (|A|+|B|−|A∩B|) as float64 — the
    identical IEEE division the JVM column expression performs.

    Why a kernel (guide §2.3/§4.2): the pair-stream spelling
    shuffles one row per (shared token, pair) into a pair-keyed
    hash aggregate, and on real title corpora that stream barely
    aggregates (measured sf0.1: 2.0M exploded pair rows → 1.87M
    distinct pairs), so the exchange + hash-agg is nearly pure
    overhead. Here ONE exchange moves (key, block, text) rows —
    tokens never leave the row — and each partition expands bucket
    upper-triangles vectorized, counts pair multiplicity with one
    ``np.unique`` (multiplicity = |A∩B|, since tokens are distinct
    per key), and emits only the surviving pairs. Round-11
    interleaved A/Bs, rows/checksums identical: sf0.1 2.21 → 0.46 s,
    sf1 2.80 → 1.21 s, sf10 (2M parts, 12.48M result pairs)
    47.2 → 24.0 s medians / 24.1 → 20.8 s best under host bursts.

    Scale contract: a block must fit one task (the exchange hashes
    on ``block_col``); pair expansion memory is bounded by
    Σ_bucket occupancy² per block, the same quadratic the pair
    stream shipped through the shuffle. Very hot buckets expand in
    row chunks (bounded temporaries). At extreme block sizes the
    lever is sub-blocking keys and re-aggregating the pair partials
    — the plan shape, one narrow exchange plus a local fold, is
    unchanged.

    ``key_col`` must be unique: a key seen twice by one task (always
    so for a key repeated within a block) raises ``ValueError``
    rather than scoring a self-pair off one merged token set.
    """
    schema = "key_a long, key_b long, jaccard double"

    def fold(batches):
        pks, blks, txts = [], [], []
        for pdf in batches:
            pks.append(pdf["k"].to_numpy(dtype=np.int64))
            blks.append(pdf["b"].to_numpy())
            txts.append(pdf["t"])
        empty = pd.DataFrame({
            "key_a": np.array([], dtype=np.int64),
            "key_b": np.array([], dtype=np.int64),
            "jaccard": np.array([], dtype=np.float64),
        })
        if not pks:
            yield empty
            return
        pk = np.concatenate(pks)
        blk = np.concatenate(blks)
        txt = pd.concat(txts, ignore_index=True)
        # local index assigned in ascending key order, so idx order
        # == key order and the upper triangle alone gives a < b
        upk, inv, cnt = np.unique(
            pk, return_inverse=True, return_counts=True
        )
        # scale: semantic-multiplicity — a key seen twice is a duplicate
        dup = upk[cnt > 1]
        if len(dup):
            raise ValueError(
                f"token_jaccard_blocked: key {int(dup[0])} repeats; "
                f"{key_col!r} must be unique"
            )
        sizes = np.zeros(len(upk), dtype=np.int64)
        toks_flat: list = []
        bcodes_flat: list = []
        idx_flat: list = []
        bcode_of: dict = {}
        for r in range(len(pk)):
            t = txt.iat[r]
            b = blk[r]
            if t is None or b is None:
                continue
            toks = set(t.split(" "))
            sizes[inv[r]] = len(toks)
            bc = bcode_of.setdefault(b, len(bcode_of))
            toks_flat.extend(toks)
            bcodes_flat.extend([bc] * len(toks))
            idx_flat.extend([inv[r]] * len(toks))
        if not toks_flat:
            yield empty
            return
        tcode = pd.factorize(pd.Series(toks_flat))[0].astype(np.int64)
        bucket = (
            np.asarray(bcodes_flat, dtype=np.int64) * (tcode.max() + 1)
            + tcode
        )
        idx = np.asarray(idx_flat, dtype=np.int64)
        order = np.lexsort((idx, bucket))
        bucket_s = bucket[order]
        idx_s = idx[order]
        bnd = np.flatnonzero(
            np.r_[True, bucket_s[1:] != bucket_s[:-1], True]
        )
        packs = []
        for s0, s1 in zip(bnd[:-1], bnd[1:]):
            m = int(s1 - s0)
            if m < 2:
                continue
            mem = idx_s[s0:s1]  # ascending (lexsort secondary key)
            if m <= 8192:
                ii, jj = np.triu_indices(m, 1)
                packs.append((mem[ii] << 32) | mem[jj])
            else:
                # hot bucket: expand row chunks so temporaries stay
                # O(chunk·m), not O(m²)
                for i0 in range(0, m - 1, 1024):
                    i1 = min(i0 + 1024, m - 1)
                    rows = np.repeat(
                        mem[i0:i1],
                        np.arange(m - i0 - 1, m - i1 - 1, -1),
                    )
                    cols = np.concatenate(
                        [mem[i + 1:] for i in range(i0, i1)]
                    )
                    packs.append((rows << 32) | cols)
        if not packs:
            yield empty
            return
        up, cnt = np.unique(np.concatenate(packs), return_counts=True)
        ia = (up >> 32).astype(np.int64)
        ib = (up & 0xFFFFFFFF).astype(np.int64)
        jac = cnt / (sizes[ia] + sizes[ib] - cnt)
        keep = jac >= threshold
        yield pd.DataFrame({
            "key_a": upk[ia[keep]],
            "key_b": upk[ib[keep]],
            "jaccard": jac[keep],
        })

    return arrow_stage(
        df.select(
            F.col(key_col).alias("k"),
            F.col(block_col).alias("b"),
            F.col(text_col).alias("t"),
        ).repartition("b"),
        "dd_token_jaccard_blocks", schema, fold, fold=True,
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard near-duplicate pairs.

    Plan shape: candidate generation buckets the HASHED shingle
    (60-bit bigint — an order of magnitude less shuffle bytes than
    the raw n-gram string) and expands pairs with the strict-upper-
    triangle HOF, never a cross join; the shingle table is cached
    ONLY in the pruned tier, whose three consumers re-read it (the
    exact tier reads it once — caching there was measured pure
    overhead); per-doc shingle counts come map-side from the shingle
    ARRAY, no third pass. Returns (id_a, id_b, jaccard), id_a < id_b.

    Scale note: a ubiquitous stop-shingle is quadratic in its bucket
    occupancy (true of any shared-token candidate scheme). At web
    scale pass ``max_doc_freq``: shingles appearing in more than
    that many documents are dropped from CANDIDATE GENERATION (one
    extra aggregate on the already-cached shingle table), bounding
    every bucket's join cost at max_doc_freq². The Jaccard score
    still uses full shingle sets, so scores are exact for every
    surviving pair; only pairs whose entire overlap is stop-shingles
    are lost — by construction boilerplate, not content. The MinHash
    tier is the unconditional-cost path.
    """
    sh, sizes = _shingle_tables(
        docs, id_col, text_col, n, cache=max_doc_freq is not None
    )
    if max_doc_freq is None:
        shared = _shared_counts_sized(sh)
        jac = F.col("n_shared") / (
            F.col("sh_a") + F.col("sh_b") - F.col("n_shared")
        )
        return (
            shared.where(jac >= threshold)
            .select("id_a", "id_b", jac.alias("jaccard"))
        )
    else:
        hot = (
            sh.groupBy("hp").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_doc_freq)
            .select("hp")
        )
        cand_src = sh.join(F.broadcast(hot), "hp", "left_anti")
        # Candidate pairs via the _shared_counts_sized bucket-HOF spelling
        # (groupBy hp -> sorted id list -> strict-upper-triangle
        # expansion): one exchange on hp instead of the equi-self-
        # join's two plus its hash build/probe. r10 interleaved A/B
        # at sf1 (10x): join 14.7 s vs HOF 9.1 s full-query medians,
        # rows identical. Pair volume is df² per cold bucket in both
        # spellings — max_doc_freq bounds the array exactly as it
        # bounded the join bucket.
        g = cand_src.groupBy("hp").agg(
            F.sort_array(F.collect_list("id")).alias("ids")
        )
        pairs = (
            g.where(F.size("ids") > 1)
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(ids, (a, i) -> "
                        "transform(slice(ids, i + 2, size(ids)), "
                        "b -> struct(a AS id_a, b AS id_b))))"
                    )
                ).alias("p")
            )
            # a 64-bit hp collision inside one doc would yield an
            # (x,x) row the join spelling never emits; drop it
            .where(F.col("p.id_a") != F.col("p.id_b"))
            .select("p.id_a", "p.id_b")
        )
        # Score decomposition (round 10): the full-set shared count
        # splits exactly into cold + hot terms. The bucket expansion
        # above already emits one row per shared COLD shingle, so the
        # old dropDuplicates becomes a COUNT (same exchange, and the
        # dedup is free); the HOT term is |hot_A ∩ hot_B| computed
        # from per-doc hot-shingle arrays (each bounded by the
        # broadcast-small hot set) that ride the per-doc sizes joins
        # the plan pays anyway. This deletes the old scoring subtree
        # — candidate ⨝ shingles ⨝ shingles, an intermediate of
        # Σ_pairs |A| rows — from the plan entirely.
        cold = pairs.groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("n_cold")
        )
        hots = (
            sh.join(F.broadcast(hot), "hp")
            .groupBy("id")
            .agg(F.collect_set("hp").alias("hots"))
        )
        per_doc = sizes.join(hots.hint("shuffle_hash"), "id", "left")
        pa = per_doc.select(
            F.col("id").alias("id_a"),
            F.col("n_sh").alias("sh_a"),
            F.col("hots").alias("hots_a"),
        )
        pb = per_doc.select(
            F.col("id").alias("id_b"),
            F.col("n_sh").alias("sh_b"),
            F.col("hots").alias("hots_b"),
        )
        n_hot = F.when(
            F.col("hots_a").isNull() | F.col("hots_b").isNull(), F.lit(0)
        ).otherwise(F.size(F.array_intersect("hots_a", "hots_b")))
        # shuffle_hash, never broadcast: per-doc hot arrays are
        # corpus-sized payloads (a stop-shingle-dense corpus makes
        # every doc's array ≈ its full shingle set — Catalyst's size
        # estimate under-counts arrays and auto-broadcast blew past
        # maxResultSize at 100x), while the pair stream is already
        # key-partitioned work a hash join handles without sorts
        scored = (
            cold.join(pa.hint("shuffle_hash"), "id_a")
            .join(pb.hint("shuffle_hash"), "id_b")
            .withColumn("n_shared", F.col("n_cold") + n_hot)
        )
        jac = F.col("n_shared") / (
            F.col("sh_a") + F.col("sh_b") - F.col("n_shared")
        )
        return (
            scored.where(jac >= threshold)
            .select("id_a", "id_b", jac.alias("jaccard"))
        )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Shingle CONTAINMENT pairs: |A∩B| / min(|A|,|B|) — catches a
    document embedded inside a larger one (boilerplate-wrapped
    copies, quote-expansions), which symmetric Jaccard dilutes below
    any usable threshold as the wrapper grows.

    Same candidate plan as `ngram_jaccard_pairs` (hashed-shingle
    equi-join, never all-pairs); only the denominator differs.
    Returns (id_a, id_b, containment), id_a < id_b.
    """
    sh, _sizes = _shingle_tables(docs, id_col, text_col, n)
    shared = _shared_counts_sized(sh)
    cont = F.col("n_shared") / F.least(F.col("sh_a"), F.col("sh_b"))
    return (
        shared.where((F.least(F.col("sh_a"), F.col("sh_b")) > 0)
                     & (cont >= threshold))
        .select("id_a", "id_b", cont.alias("containment"))
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH (the scale path)
# ---------------------------------------------------------------------------


MINHASH_P = (1 << 31) - 1  # Mersenne prime; a·h+b stays < 2^62 (no
                           # BIGINT overflow in either engine)


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_k, b_k) affine-rehash constants — LCG-derived,
    no RNG state, identical in the generated oracle SQL."""
    params = []
    state = 20240817
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state >> 16) % (MINHASH_P - 1) + 1  # nonzero
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (state >> 16) % MINHASH_P
        params.append((a, b))
    return params


def with_words(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w ARRAY<STRING>) with the word array MATERIALIZED behind
    a projection barrier (explode of a 1-element array).

    Without the barrier, CollapseProject inlines the split+regex
    into every ``w[i]`` reference inside the shingle ``transform``
    lambda, re-running the regex once per array element access —
    measured 10-20× slower on real documents. The Generate node
    stops the collapse, so normalize+split run exactly once per row.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    return docs.select(
        F.col(id_col).alias("id"), F.explode(F.array(words)).alias("w")
    )


def distinct_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, sh) rows, one per distinct shingle per doc.

    Within-document dedup happens JVM-side via ``array_distinct``
    BEFORE the explode — no dropDuplicates shuffle on the (much
    larger) exploded table.
    """
    return with_words(docs, id_col, text_col).select(
        "id", F.explode(F.array_distinct(shingles(n))).alias("sh")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Per-document MinHash signature, computed in ONE Arrow pass.

    Hash family: one md5 per shingle (h = md5_long(sh) mod p), then
    h_k = (a_k·h + b_k) mod p — the standard universal-hash rehash
    family, bit-identical to the SQL spelling the oracle mirrors
    (``minhash_signatures_sql``; equivalence pinned by test).

    A signature is a PER-DOCUMENT quantity, so no shuffle is needed
    at all: the kernel normalizes, shingles, md5-hashes and folds
    the ``num_hashes`` affine mins per document inside the scan
    partition (md5 via hashlib — the same function Spark's ``md5``
    calls — and the rehash mins as numpy segmented reductions).
    Replaces shingle-explode → md5/conv projection → hash-aggregate
    (num_hashes min buffers over the exploded stream): round-11
    interleaved A/B, rows identical, sf0.1 1.10 → 0.73 s, sf0.01
    0.45 → 0.22 s; conv(hex,16,10)'s per-shingle BigInteger parse
    and the exploded-row codegen loop were most of the cost.
    Returns (id, mh_0 … mh_{num_hashes-1}).
    """
    params = minhash_params(num_hashes)
    p = MINHASH_P
    schema = "id long, " + ", ".join(
        f"mh_{k} long" for k in range(num_hashes)
    )

    def signatures(pdf):
        ids: list = []
        starts: list = []
        hps: list = []
        pos = 0
        for did, text in zip(pdf["id"], pdf["text"]):
            if text is None:
                continue
            w = _JAVA_WS.sub(" ", text.lower()).strip(" ").split(" ")
            if len(w) < n:
                continue
            shs = {"_".join(w[i:i + n]) for i in range(len(w) - n + 1)}
            ids.append(did)
            starts.append(pos)
            for s in shs:
                hps.append(int(md5(s.encode()).hexdigest()[:15], 16) % p)
            pos += len(shs)
        if not ids:
            return None
        hp = np.array(hps, dtype=np.int64)
        st = np.array(starts, dtype=np.int64)
        out = {"id": np.array(ids, dtype=np.int64)}
        for k, (a, b) in enumerate(params):
            # a, hp < p < 2^31 ⇒ a·hp + b < 2^62: exact in int64
            out[f"mh_{k}"] = np.minimum.reduceat((a * hp + b) % p, st)
        return out

    return arrow_stage(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")),
        "dd_minhash_signatures", schema, signatures,
    )


def minhash_signatures_sql(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """The pure-SQL spelling of ``minhash_signatures`` (shingle
    explode → md5/conv → groupBy(min per slot)) — the direct mirror
    of the generated oracle SQL. Kept as the kernel's equivalence
    oracle and as the fallback for Python-less deployments."""
    sh = distinct_shingles(docs, id_col, text_col, n)
    hp = (md5_long(F.col("sh")) % MINHASH_P).alias("hp")
    hashed = sh.select("id", hp)
    aggs = [
        F.min((F.lit(a) * F.col("hp") + F.lit(b)) % MINHASH_P).alias(f"mh_{k}")
        for k, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return hashed.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash
    signatures: documents agreeing on all rows of any band collide.

    With 16 hashes in 4 bands of 4, the collision probability is
    ~s^4 per band (s = true Jaccard) — near-dups (s ≥ 0.8) are
    caught with ≥ 97% probability while unrelated pairs almost never
    collide, so the candidate join output is linear in the number of
    true duplicates. Returns distinct (id_a, id_b) candidates,
    id_a < id_b; feed them to `ngram_jaccard_pairs`-style exact
    scoring for verification.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(docs, id_col, text_col, n, num_hashes)
    band_cols = [
        F.md5(F.concat_ws(
            "_", F.lit(str(bnd)),
            *[F.col(f"mh_{bnd * rows + r}").cast("string") for r in range(rows)],
        )).alias(f"band_{bnd}")
        for bnd in range(bands)
    ]
    banded = sig.select("id", *band_cols)
    # One row per (doc, band) — the LSH bucket table. Cached: BOTH
    # sides of the candidate self-join read it, and without the cache
    # Spark plans the whole scan→shingle→signature subtree twice
    # (verified: two FileScans, no ReusedExchange). Same pattern as
    # _shingle_tables; session-LRU-managed.
    bucket = banded.selectExpr(
        "id",
        "stack({}, {}) as (band_no, bucket)".format(
            bands, ", ".join(f"'{b}', band_{b}" for b in range(bands))
        ),
    ).cache()
    a = bucket.alias("a")
    b = bucket.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates()
    )


# ---------------------------------------------------------------------------
# eval-set decontamination
# ---------------------------------------------------------------------------


def decontaminate_pairs(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Training-vs-benchmark n-gram collision pairs — the standard
    pre-training decontamination sweep (remove training documents that
    leak evaluation data).

    Plan shape: both sides reduce to (id, hashed n-gram) rows; the
    collision test is an equi-join on the 60-bit hash with the EVAL
    side broadcast — benchmark suites are a few MB against a 100 TB
    corpus, so the sweep costs one corpus scan and zero shuffles of
    the training side. Returns (train_id, eval_id, n_shared), the
    count of distinct shared n-grams per contaminated pair.
    """
    # xxhash64, not md5_long: the hash is internal-only (only ids and
    # counts leave the plan), so equality classes are all that matter
    # and they match the oracle's md5 join exactly — while costing a
    # fraction of md5+hex+conv per shingle on the full-corpus side.
    tr = distinct_shingles(train, id_col, text_col, n).select(
        F.col("id").alias("train_id"), F.xxhash64(F.col("sh")).alias("hp")
    )
    ev = distinct_shingles(eval_set, id_col, text_col, n).select(
        F.col("id").alias("eval_id"), F.xxhash64(F.col("sh")).alias("hp")
    )
    return (
        tr.join(F.broadcast(ev), "hp")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash fingerprint over word features.

    Each word hashes to `bits` bits; the fingerprint's bit b is 1 iff
    the sum over words of (+1 if bit set else −1) is positive.
    Near-duplicate texts differ in O(1) bits. Computed with
    explode + conditional sums — one shuffle, no UDFs.
    Returns (id, simhash BIGINT).
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    tok = docs.select(
        F.col(id_col).alias("id"), F.explode(words).alias("w")
    )
    h = md5_long(F.col("w"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(bits)
    ]
    sums = tok.groupBy("id").agg(*bit_sums)
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"s_{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        fp = bit if fp is None else (fp + bit)
    return sums.select("id", fp.cast("bigint").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: banded candidate generation +
    exact Hamming filter.

    Pigeonhole guarantee: with ``bands`` bands, any pair within
    Hamming distance ``bands - 1`` agrees exactly on at least one
    band, so the equi-join on (band_no, band_value) finds every such
    pair — never an all-pairs comparison. ``bit_count(a XOR b)`` then
    filters exactly. Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    assert max_hamming <= bands - 1, "banding misses pairs beyond bands-1"
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    fp = simhash(docs, id_col, text_col, bits)
    bands_arr = F.array(*[
        F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ])
    bucket = fp.select(
        "id", "simhash", F.posexplode(bands_arr).alias("band_no", "band_val")
    ).cache()  # both self-join sides read it — compute simhash once
    a, b = bucket.alias("a"), bucket.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# contamination fraction kernel
# ---------------------------------------------------------------------------

# per-worker-process cache of the deserialized eval-shingle array,
# keyed by the broadcast id so a rebuilt query (new broadcast) never
# reuses a stale set; bounded so long-lived reused workers don't
# accumulate one array per bench invocation
_EVAL_ARR_CACHE: dict = {}


def contamination_counts(
    train: DataFrame,
    eval_shingles,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """(doc_id, n_windows, n_hits) for every training document with at
    least one word n-gram window (counted WITH multiplicity) present
    in ``eval_shingles`` (a list of strings or a pyarrow (Chunked)Array)
    — the fused-kernel twin of the explode + broadcast-join spelling in
    plans/documents.txt_contamination_frac.

    One Arrow pass over the training corpus: normalization stays a
    JVM projection (exactly ``normalize_text``, so tokenization
    semantics cannot drift), then the kernel splits on the single
    literal space that normalization guarantees, builds the n-gram
    window strings with offset-shifted slices of the flattened token
    array (`binary_join_element_wise`, C++), and probes them with
    `is_in` against the eval array (C++ hash set) — no per-window
    Python string ever exists. The eval side is broadcast-bounded by
    the same contract the join spelling relies on (benchmark suites
    are MBs against a 100 TB corpus); it ships as Arrow IPC bytes —
    ONE picklable object, so a worker deserializes it zero-copy in
    C++ once per process instead of unpickling millions of Python
    strings — and is cached per worker process, not per batch.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(eval_shingles, pa.ChunkedArray):
        eval_arr = eval_shingles.combine_chunks()
    elif isinstance(eval_shingles, pa.Array):
        eval_arr = eval_shingles
    else:
        eval_arr = pa.array(eval_shingles, type=pa.string())
    eval_arr = eval_arr.cast(pa.string())
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(
        sink, pa.schema([("sh", pa.string())])
    ) as writer:
        writer.write_batch(pa.record_batch([eval_arr], names=["sh"]))
    bc = train.sparkSession.sparkContext.broadcast(
        sink.getvalue().to_pybytes()
    )
    key = bc._jbroadcast.id()  # stable across tasks, unique per broadcast

    nt = train.select(
        F.col(id_col).alias("doc_id"),
        normalize_text(F.col(text_col)).alias("nt"),
    )

    def probe(batches):
        ev = _EVAL_ARR_CACHE.get(key)
        if ev is None:
            ev = pa.ipc.open_stream(
                pa.py_buffer(bc.value)
            ).read_all().column("sh").combine_chunks()
            while len(_EVAL_ARR_CACHE) >= 2:
                _EVAL_ARR_CACHE.pop(next(iter(_EVAL_ARR_CACHE)))
            _EVAL_ARR_CACHE[key] = ev
        for pdf in batches:
            arr = pa.array(pdf["nt"], type=pa.string())
            toks = pc.split_pattern(arr, " ")
            offs = toks.offsets.to_numpy(zero_copy_only=False)
            lens = np.diff(offs)
            nw = np.maximum(lens - (n - 1), 0).astype(np.int64)
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            total = int(offs[-1])
            if total >= n and nw.sum() > 0 and len(ev):
                flat = toks.flatten()
                parts = [flat.slice(k, total - (n - 1)) for k in range(n)]
                wins = pc.binary_join_element_wise(*parts, "_")
                # valid window starts: within-doc only — start index
                # no later than the doc's last full window
                starts = np.repeat(offs[:-1], nw)
                within = np.arange(len(starts)) - np.repeat(
                    np.cumsum(nw) - nw, nw
                )
                valid = wins.take(pa.array(starts + within))
                hit = pc.is_in(valid, value_set=ev).to_numpy(
                    zero_copy_only=False
                )
                drep = np.repeat(np.arange(len(doc_ids)), nw)
                hits = np.bincount(
                    drep[hit], minlength=len(doc_ids)
                ).astype(np.int64)
            else:
                hits = np.zeros(len(doc_ids), dtype=np.int64)
            keep = hits >= 1
            yield pd.DataFrame({
                "doc_id": doc_ids[keep],
                "n_windows": nw[keep],
                "n_hits": hits[keep],
            })

    # fold mode: the eval set loads once per task, before its batches
    return arrow_stage(
        nt, "dd_contamination_probe",
        "doc_id long, n_windows long, n_hits long", probe, fold=True,
    )
