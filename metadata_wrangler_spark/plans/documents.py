"""Training-data pipeline plans over the ``documents`` table:
deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash), text
analysis (tokens, quality, language-ID, fingerprints), and the
multimodal binary-column plumbing.

Oracle SQL for the hash-based operators is generated from the same
parameters as the Spark plans so the two stay in lockstep; the only
dialect differences are spelled out in `_md5_long_sql` /
`_norm_sql`.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metadata_wrangler_spark.catalog import load, widen
from metadata_wrangler_spark.operators import dedup, textstats
from metadata_wrangler_spark.operators.arrow_stage import arrow_stage
from metadata_wrangler_spark.plans import register

# --- shared SQL fragments (DuckDB dialect) ---------------------------------

# canonical text normalization — mirrors operators.dedup.normalize_text
_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
# word array over normalized text
_WORDS_SQL = f"string_split({_NORM_SQL}, ' ')"


def _shingles_sql(n: int) -> str:
    """DuckDB spelling of operators.dedup.shingles(n) (1-based list
    indexing; empty list when the doc is shorter than n words)."""
    cols = ", ".join(f"w[i + {k}]" if k else "w[i]" for k in range(n))
    return (
        f"list_transform(generate_series(1, len(w) - {n - 1}), "
        f"i -> concat_ws('_', {cols}))"
    )


# 3-gram shingle list
_SHINGLES_SQL = _shingles_sql(3)


def _md5_long_sql(expr: str) -> str:
    """DuckDB spelling of operators.dedup.md5_long."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# dedup tier 1: exact
# ---------------------------------------------------------------------------

@register(
    "dd_exact_groups",
    oracle=f"""
    SELECT md5({_NORM_SQL}) AS fingerprint,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def dd_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical-fingerprint hash-groupBy.
    One shuffle on a high-entropy key; see operators.dedup."""
    return dedup.exact_dedup_groups(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup tier 2: exact n-gram Jaccard similarity join
# ---------------------------------------------------------------------------

@register(
    "dd_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT id, sh FROM (
            SELECT doc_id AS id, unnest({_SHINGLES_SQL}) AS sh
            FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents) t0
        ) t1
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), shared AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_shared
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT s.id_a, s.id_b,
           s.n_shared / (sa.n_sh + sb.n_sh - s.n_shared) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.id = s.id_a
    JOIN sizes sb ON sb.id = s.id_b
    WHERE s.n_shared / (sa.n_sh + sb.n_sh - s.n_shared) >= 0.12
    """,
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram-shingle Jaccard (threshold
    tuned to the synthetic corpus's 31-word vocabulary)."""
    return dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold=0.12
    )


@register(
    "dd_ngram_containment",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT id, sh FROM (
            SELECT doc_id AS id, unnest({_SHINGLES_SQL}) AS sh
            FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents) t0
        ) t1
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), shared AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_shared
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT s.id_a, s.id_b,
           s.n_shared / least(sa.n_sh, sb.n_sh) AS containment
    FROM shared s
    JOIN sizes sa ON sa.id = s.id_a
    JOIN sizes sb ON sb.id = s.id_b
    WHERE least(sa.n_sh, sb.n_sh) > 0
      AND s.n_shared / least(sa.n_sh, sb.n_sh) >= 0.3
    """,
)
def dd_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment (|A∩B| / min) — the doc-inside-doc
    detector symmetric Jaccard misses once a boilerplate wrapper
    grows; same hashed-shingle candidate join, different
    denominator."""
    return dedup.ngram_containment_pairs(
        load(spark, sf_dir, "documents"), threshold=0.3
    )


_STOP_DF = 5     # FLOOR of the stop-shingle cutoff. The effective
                 # cutoff is corpus-relative — max(_STOP_DF,
                 # n_docs // _STOP_PER_DOCS) on both engines — because
                 # an absolute cutoff does not survive corpus growth:
                 # at the 100x ladder every shingle's df exceeded any
                 # small constant (the generator's copies are true
                 # near-dups), so a fixed 5 pruned ALL candidates and
                 # the query returned zero pairs — agreeing with its
                 # oracle, but semantically useless. At the gate
                 # corpora (<= 5k docs) the effective cutoff is
                 # exactly the old 5, so gate hashes are unchanged.
_STOP_PER_DOCS = 1000   # cutoff grows by 1 per 1000 docs


def _pruned_jaccard_oracle_sql() -> str:
    hp = _md5_long_sql("sh")
    return f"""
    WITH sh AS (
        SELECT id, {hp} AS hp FROM (
            SELECT DISTINCT id, sh FROM (
                SELECT doc_id AS id, unnest({_SHINGLES_SQL}) AS sh
                FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents) t0
            ) t1
        ) t2
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), hot AS (
        SELECT hp FROM sh GROUP BY hp
        HAVING COUNT(*) > greatest({_STOP_DF},
            (SELECT COUNT(*) FROM documents) // {_STOP_PER_DOCS})
    ), cold AS (
        SELECT id, hp FROM sh WHERE hp NOT IN (SELECT hp FROM hot)
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM cold a JOIN cold b ON a.hp = b.hp AND a.id < b.id
    ), shared AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_shared
        FROM cand c
        JOIN sh a ON a.id = c.id_a
        JOIN sh b ON b.id = c.id_b AND b.hp = a.hp
        GROUP BY 1, 2
    )
    SELECT s.id_a, s.id_b,
           s.n_shared / (sa.n_sh + sb.n_sh - s.n_shared) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.id = s.id_a
    JOIN sizes sb ON sb.id = s.id_b
    WHERE s.n_shared / (sa.n_sh + sb.n_sh - s.n_shared) >= 0.12
    """


@register("dd_ngram_jaccard_pruned", oracle=_pruned_jaccard_oracle_sql())
def dd_ngram_jaccard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The web-scale spelling of the Jaccard tier: shingles present
    in more than max({_STOP_DF}, n_docs // {_STOP_PER_DOCS})
    documents are dropped from CANDIDATE GENERATION (bounding every
    bucket's join at df²) while the score still uses full shingle
    sets — exact Jaccard for every surviving pair. The cutoff is
    corpus-relative (one metadata-cheap count; see _STOP_DF's
    rationale): an absolute cutoff prunes EVERYTHING once the corpus
    outgrows it, which the 100x ladder demonstrated."""
    docs = load(spark, sf_dir, "documents")
    cutoff = max(_STOP_DF, docs.count() // _STOP_PER_DOCS)
    return dedup.ngram_jaccard_pairs(
        docs, threshold=0.12, max_doc_freq=cutoff,
    )


# ---------------------------------------------------------------------------
# dedup tier 3: MinHash + banded LSH
# ---------------------------------------------------------------------------

_NUM_HASHES = 16
_BANDS = 4
_ROWS = _NUM_HASHES // _BANDS


def _minhash_sig_sql() -> str:
    p = dedup.MINHASH_P
    parts = [
        f"MIN(({a} * hp + {b}) % {p}) AS mh_{k}"
        for k, (a, b) in enumerate(dedup.minhash_params(_NUM_HASHES))
    ]
    aggs = ",\n           ".join(parts)
    return f"""
        SELECT id, {aggs}
        FROM (
            SELECT id, ({_md5_long_sql('sh')}) % {p} AS hp
            FROM (
                SELECT DISTINCT id, sh FROM (
                    SELECT doc_id AS id, unnest({_SHINGLES_SQL}) AS sh
                    FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents) t0
                ) t1
            ) sh_tbl
        ) hashed
        GROUP BY id
    """


def _lsh_pairs_ctes() -> str:
    """CTE chain ending in ``lsh_pairs`` (DISTINCT id_a < id_b
    candidates) — shared by the pair plan and the cluster plan."""
    band_exprs = ", ".join(
        "md5(concat_ws('_', '{b}', {cols})) AS band_{b}".format(
            b=b,
            cols=", ".join(
                f"CAST(mh_{b * _ROWS + r} AS VARCHAR)" for r in range(_ROWS)
            ),
        )
        for b in range(_BANDS)
    )
    stacked = "\n        UNION ALL\n        ".join(
        f"SELECT id, '{b}' AS band_no, band_{b} AS bucket FROM banded"
        for b in range(_BANDS)
    )
    return f"""sig AS ({_minhash_sig_sql()}),
    banded AS (SELECT id, {band_exprs} FROM sig),
    bucket AS (
        {stacked}
    ),
    lsh_pairs AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bucket a
        JOIN bucket b ON a.band_no = b.band_no AND a.bucket = b.bucket
                     AND a.id < b.id
    )"""


def _lsh_oracle_sql() -> str:
    return f"""
    WITH {_lsh_pairs_ctes()}
    SELECT id_a, id_b FROM lsh_pairs
    """


@register("dd_minhash_lsh", oracle=_lsh_oracle_sql())
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + 4-band LSH candidate pairs — the linear-cost
    near-dup path for 100 TB corpora. Candidates only; exact Jaccard
    verification is `dd_ngram_jaccard` composed downstream."""
    return dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"),
        num_hashes=_NUM_HASHES, bands=_BANDS,
    )


# ---------------------------------------------------------------------------
# dedup: MinHash clusters (pairs → connected components → canonical)
# ---------------------------------------------------------------------------


def _minhash_clusters_oracle_sql() -> str:
    """Recursive label-walk twin of connected components over the LSH
    candidate pairs: every node collects every label that can reach
    it through the symmetrized edge set; MIN of those labels is the
    component's canonical id."""
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
    )
    SELECT node AS doc_id, MIN(lbl) AS canonical_id
    FROM walk GROUP BY node
    """


@register("dd_minhash_clusters", oracle=_minhash_clusters_oracle_sql())
def dd_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash-LSH candidate pairs fed to
    min-id-label connected components — the keep-one-per-cluster step
    that turns pairwise dedup into an actual corpus reduction
    (training sets keep `canonical_id`, drop the rest).

    Composition of two scale-shaped operators: the pair join is
    linear in true duplicates (see dd_minhash_lsh) and the label
    propagation converges in O(log diameter) checkpointed rounds
    (operators/closure.py) — duplicate clusters are shallow in
    practice, so 2-3 rounds.
    """
    from metadata_wrangler_spark.operators import closure

    pairs = dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"),
        num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    cc = closure.connected_components(pairs, src="id_a", dst="id_b")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
    )


# ---------------------------------------------------------------------------
# dedup: incremental (new batch vs existing corpus)
# ---------------------------------------------------------------------------

_INCR_NEW_PRED = "doc_id % 7 = 3"   # deterministic "newly arrived" slice


@register(
    "dd_incremental_exact",
    oracle=f"""
    WITH corp AS (
        SELECT md5({_NORM_SQL}) AS fingerprint
        FROM documents WHERE NOT ({_INCR_NEW_PRED})
    ), new AS (
        SELECT doc_id, md5({_NORM_SQL}) AS fingerprint
        FROM documents WHERE {_INCR_NEW_PRED}
    )
    SELECT n.doc_id, n.fingerprint FROM new n
    WHERE NOT EXISTS (SELECT 1 FROM corp c
                      WHERE c.fingerprint = n.fingerprint)
    """,
)
def dd_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a newly arrived batch is admitted
    only where its canonical fingerprint is absent from the existing
    corpus — the anti-join every rolling training-data pipeline runs
    per ingest cycle.

    Scale shape: left_anti on a high-entropy 128-bit key. The corpus
    side is the persisted fingerprint state table (bucketed by
    fingerprint at 100 TB so the probe co-locates); the new batch is
    the small side and never shuffles the corpus.
    """
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(dedup.normalize_text(F.col("text")))
    new = docs.where(F.expr(_INCR_NEW_PRED)).select(
        "doc_id", fp.alias("fingerprint")
    )
    corpus = docs.where(~F.expr(_INCR_NEW_PRED)).select(
        fp.alias("fingerprint")
    )
    return new.join(corpus, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


# ---------------------------------------------------------------------------
# training-mix sampling
# ---------------------------------------------------------------------------

# per-language sampling rates (percent) — the training-mix recipe
_MIX_RATES = {"en": 100, "fr": 50, "de": 50, "es": 25, "zh": 10}


@register(
    "txt_mixture_sample",
    oracle=f"""
    SELECT doc_id, source, lang
    FROM documents
    WHERE ({_md5_long_sql("CAST(doc_id AS VARCHAR)")}) % 100 <
          CASE {' '.join(f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_MIX_RATES.items()))}
               ELSE 0 END
    """,
)
def txt_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified training-mix sampling: each language
    stratum keeps a configured percentage, gated on a hash of the
    document id — reproducible across runs/engines (no RNG state),
    embarrassingly parallel (pure filter, no shuffle), and stable
    under corpus growth (a doc's keep/drop never changes).
    """
    docs = load(spark, sf_dir, "documents")
    rate = F.lit(0)
    for lang, pct in sorted(_MIX_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    gate = dedup.md5_long(F.col("doc_id").cast("string")) % 100
    return docs.where(gate < rate).select("doc_id", "source", "lang")


# ---------------------------------------------------------------------------
# dedup: eval-set decontamination
# ---------------------------------------------------------------------------

_DECON_N = 5            # n-gram width for the collision test
_DECON_EVAL_PRED = "doc_id % 13 = 7"   # deterministic benchmark slice


def _decontaminate_oracle_sql() -> str:
    def side(pred: str, out_id: str) -> str:
        return f"""
        SELECT id AS {out_id}, {_md5_long_sql('sh')} AS hp FROM (
            SELECT DISTINCT id, sh FROM (
                SELECT doc_id AS id, unnest({_shingles_sql(_DECON_N)}) AS sh
                FROM (SELECT doc_id, {_WORDS_SQL} AS w
                      FROM documents WHERE {pred}) t0
            ) t1
        ) t2
        """
    return f"""
    WITH tr AS ({side(f'NOT ({_DECON_EVAL_PRED})', 'train_id')}),
    ev AS ({side(_DECON_EVAL_PRED, 'eval_id')})
    SELECT tr.train_id, ev.eval_id, COUNT(*) AS n_shared
    FROM tr JOIN ev ON tr.hp = ev.hp
    GROUP BY 1, 2
    """


@register("dd_decontaminate", oracle=_decontaminate_oracle_sql())
def dd_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination sweep: training docs sharing any
    {_DECON_N}-gram with the held-out eval slice. The eval side is
    broadcast (benchmark suites are MBs against a 100 TB corpus), so
    the sweep is one training-corpus scan with zero training-side
    shuffles before the per-pair count."""
    docs = widen(spark, load(spark, sf_dir, "documents"))
    ev = docs.where(F.expr(_DECON_EVAL_PRED))
    tr = docs.where(~F.expr(_DECON_EVAL_PRED))
    return dedup.decontaminate_pairs(tr, ev, n=_DECON_N)


# ---------------------------------------------------------------------------
# dedup tier 4: SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32
_SIMHASH_BANDS = 4
_SIMHASH_MAX_HAMMING = 3


def _simhash_oracle_sql() -> str:
    h = _md5_long_sql("w")
    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (({h}) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(_SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id AS id, unnest({_WORDS_SQL}) AS w FROM documents
    ), sums AS (
        SELECT id,
               {bit_sums}
        FROM tok GROUP BY id
    )
    SELECT id, CAST({fp} AS BIGINT) AS simhash FROM sums
    """


@register("dd_simhash", oracle=_simhash_oracle_sql())
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash fingerprint (near-dups differ in
    few bits; `dd_simhash_pairs` bands it for the candidate join)."""
    return dedup.simhash(load(spark, sf_dir, "documents"),
                         bits=_SIMHASH_BITS)


def _simhash_pairs_oracle_sql() -> str:
    band_bits = _SIMHASH_BITS // _SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    bands_vals = ", ".join(f"({b})" for b in range(_SIMHASH_BANDS))
    return f"""
    WITH fp AS ({_simhash_oracle_sql()}),
    bucket AS (
        SELECT id, simhash, bn.band_no,
               (simhash >> (bn.band_no * {band_bits})) & {mask} AS band_val
        FROM fp, (VALUES {bands_vals}) AS bn(band_no)
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM bucket a
    JOIN bucket b ON a.band_no = b.band_no AND a.band_val = b.band_val
                 AND a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
    """


@register("dd_simhash_pairs", oracle=_simhash_pairs_oracle_sql())
def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4×8-bit banded candidate equi-join
    (pigeonhole-complete for Hamming ≤ 3) + exact bit_count filter.
    Never an all-pairs comparison — the scale path for bitwise
    near-dup detection."""
    out = dedup.simhash_pairs(
        load(spark, sf_dir, "documents"),
        bits=_SIMHASH_BITS, bands=_SIMHASH_BANDS,
        max_hamming=_SIMHASH_MAX_HAMMING,
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@register(
    "txt_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_WORDS_SQL}) AS INT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           length(replace({_NORM_SQL}, ' ', '')) / len({_WORDS_SQL}) AS mean_token_len,
           len(list_distinct({_WORDS_SQL})) / len({_WORDS_SQL}) AS distinct_ratio
    FROM documents
    """,
)
def txt_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + repetition stats (whitespace tokenizer)."""
    return textstats.token_stats(load(spark, sf_dir, "documents"))


def _count_token_sql(token: str) -> str:
    """DuckDB twin of textstats.count_token (word-array filter —
    exact for consecutive repeats, unlike padded replace-length)."""
    return (
        f"CAST(len(list_filter({_WORDS_SQL}, x -> x = '{token}')) AS INT)"
    )


def _count_substring_sql(token: str) -> str:
    """DuckDB twin of textstats.count_substring (unsegmented
    scripts)."""
    return (
        f"CAST((length({_NORM_SQL}) - "
        f"length(replace({_NORM_SQL}, '{token}', ''))) "
        f"/ {len(token)} AS INT)"
    )


@register(
    "txt_quality_score",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               CAST(len({_WORDS_SQL}) AS INT) AS n_tokens,
               {' + '.join(_count_token_sql(t) for t in ('the', 'a', 'and', 'is', 'of'))} AS stop_hits,
               len(list_distinct({_WORDS_SQL})) AS n_distinct
        FROM documents
    )
    SELECT doc_id, n_tokens,
           stop_hits / n_tokens AS stopword_ratio,
           n_distinct / n_tokens AS distinct_ratio,
           CASE WHEN n_tokens < 10 THEN 0.0
                ELSE 0.5 * least(n_tokens / 100.0, 1.0)
                     + 0.5 * (n_distinct / n_tokens) END AS quality
    FROM base
    """,
)
def txt_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-cleaning quality heuristics (length band, stopword
    ratio, repetition)."""
    return textstats.quality_score(load(spark, sf_dir, "documents"))


@register(
    "txt_repetition_filter",
    oracle=f"""
    WITH g AS (
        SELECT id, {_shingles_sql(2)} AS g2, {_shingles_sql(5)} AS g5
        FROM (SELECT doc_id AS id, {_WORDS_SQL} AS w FROM documents
              WHERE text IS NOT NULL) base
    ), fracs AS (
        SELECT id,
               CAST(len(g2) AS INT) AS n_2grams,
               CASE WHEN len(g2) <= 0 THEN 0.0
                    ELSE 1.0 - len(list_distinct(g2)) / len(g2) END AS dup_2gram_frac,
               CASE WHEN len(g5) <= 0 THEN 0.0
                    ELSE 1.0 - len(list_distinct(g5)) / len(g5) END AS dup_5gram_frac
        FROM g
    ), top AS (
        SELECT id, MAX(c) / SUM(c) AS top_2gram_frac FROM (
            SELECT id, gg, COUNT(*) AS c
            FROM (SELECT id, unnest(g2) AS gg FROM g) x
            GROUP BY id, gg
        ) y GROUP BY id
    )
    SELECT f.id AS doc_id, f.n_2grams, f.dup_2gram_frac, f.dup_5gram_frac,
           COALESCE(t.top_2gram_frac, 0.0) AS top_2gram_frac,
           (f.dup_2gram_frac <= 0.6 AND f.dup_5gram_frac <= 0.3
            AND COALESCE(t.top_2gram_frac, 0.0) <= 0.2) AS keep
    FROM fracs f LEFT JOIN top t ON t.id = f.id
    """,
)
def txt_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: duplicate 2-gram/5-gram
    fractions and top-2-gram share, all array-level pure codegen
    (zero shuffles — see repetition_stats), + the keep/reject rule."""
    return textstats.repetition_stats(
        widen(spark, load(spark, sf_dir, "documents"))
    )


@register(
    "txt_corpus_report",
    oracle=f"""
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_WORDS_SQL})) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT md5({_NORM_SQL})) AS n_distinct,
           CAST(1.0 - COUNT(DISTINCT md5({_NORM_SQL})) / COUNT(*)
                AS DOUBLE) AS dup_rate,
           CAST(SUM(length(text)) / COUNT(*) AS DOUBLE) AS avg_chars
    FROM documents
    GROUP BY source, lang
    """,
)
def txt_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health rollup per (source, lang): doc counts, token
    totals, exact-dup rate (distinct canonical fingerprints vs rows),
    mean length — the mix report every ingest cycle emits. One
    hash-aggregate; COUNT(DISTINCT) rewrites to the standard
    two-phase expand internally."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(dedup.normalize_text(F.col("text")), " ")
    fp = F.md5(dedup.normalize_text(F.col("text")))
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(words)).cast("bigint").alias("total_tokens"),
        F.countDistinct(fp).alias("n_distinct"),
        (1.0 - F.countDistinct(fp) / F.count(F.lit(1)))
        .cast("double").alias("dup_rate"),
        (F.sum(F.length("text")) / F.count(F.lit(1)))
        .cast("double").alias("avg_chars"),
    )


def _pii_oracle_sql() -> str:
    """DuckDB twin of textstats.pii_scrub: counts are taken on the
    progressively scrubbed text (same order), then replaced."""
    pats = textstats.PII_PATTERNS
    cur = "text"
    count_cols, replaced = [], {}
    for kind in textstats.PII_ORDER:
        pat = pats[kind].replace("'", "''")
        count_cols.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS INT)"
            f" AS n_{kind.lower()}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '<{kind}>', 'g')"
    return f"""
    SELECT doc_id,
           {', '.join(count_cols)},
           {cur} AS scrubbed_text,
           (CAST(len(regexp_extract_all(text,
                '{pats["EMAIL"]}')) AS INT)
            + CAST(len(regexp_extract_all(regexp_replace(text,
                '{pats["EMAIL"]}', '<EMAIL>', 'g'),
                '{pats["PHONE"]}')) AS INT)
            + CAST(len(regexp_extract_all(regexp_replace(
                regexp_replace(text, '{pats["EMAIL"]}', '<EMAIL>', 'g'),
                '{pats["PHONE"]}', '<PHONE>', 'g'),
                '{pats["IP"]}')) AS INT)) > 0 AS has_pii
    FROM documents WHERE doc_id % 9 = 4
    """


@register("txt_pii_scrub", oracle=_pii_oracle_sql())
def txt_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (C4-style): redact emails/phones/IPs to
    typed placeholders and count removals — pure regexp chains, one
    scan, no shuffle. The synthetic corpus is mostly PII-free, so
    the plan validates the transformation identity path; crafted PII
    inputs are covered in tests/test_functions.py."""
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 9 == 4)
    return textstats.pii_scrub(docs)


def _langid_oracle_sql() -> str:
    def marker_sql(lang: str, t: str) -> str:
        if lang in textstats.SUBSTRING_LANGS:
            return _count_substring_sql(t)
        return _count_token_sql(t)

    scores = {
        lang: " + ".join(marker_sql(lang, t) for t in toks)
        for lang, toks in textstats.LANG_MARKERS.items()
    }
    langs = sorted(scores)
    score_cols = ",\n           ".join(
        f"{scores[lang]} AS score_{lang}" for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    cascade = "CASE " + " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
    WITH scored AS (
        SELECT doc_id,
           {score_cols}
        FROM documents
    )
    SELECT doc_id, {', '.join(f'score_{lang}' for lang in langs)},
           CASE WHEN {best} <= 0 THEN 'und' ELSE {cascade} END AS predicted_lang
    FROM scored
    """


@register("txt_language_id", oracle=_langid_oracle_sql())
def txt_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (argmax over per-language
    marker counts, deterministic tie order)."""
    return textstats.language_id(load(spark, sf_dir, "documents"))


@register(
    "txt_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({_NORM_SQL}) AS fingerprint,
           md5(array_to_string(list_slice({_WORDS_SQL}, 1, 5), ' ')) AS prefix_key
    FROM documents
    WHERE text IS NOT NULL  -- NULL-payload rule shared with the plan
    """,
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint + blocking prefix key."""
    return textstats.fingerprint(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# multimodal plumbing: binary column + Pandas-UDF feature extraction
# ---------------------------------------------------------------------------

_MM_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("content_md5", T.StringType()),
    T.StructField("fake_brightness", T.LongType()),
])


def _extract_features(pdf):
    """Arrow-stage kernel: one batch of payloads in, feature rows out.

    The decode step for real image/audio payloads is stubbed (the
    container ships no codec libs — see SURVEY.md); the deterministic
    stand-in hashes the payload, so the full Spark plumbing (binary
    column → Arrow batch → pandas → typed rows) is exercised and
    oracle-checkable.
    """
    payload = pdf["payload"]
    md5s = payload.map(lambda b: hashlib.md5(b).hexdigest())
    return pd.DataFrame({
        "doc_id": pdf["doc_id"],
        "n_bytes": payload.map(len).astype("int64"),
        "content_md5": md5s,
        # stand-in for decoded-image mean brightness
        "fake_brightness": md5s.map(lambda h: int(h[:15], 16) % 256),
    })


@register(
    "mm_binary_features",
    oracle=f"""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           CAST({_md5_long_sql('text')} % 256 AS BIGINT) AS fake_brightness
    FROM documents
    WHERE text IS NOT NULL  -- NULL payload = no media (plan filter)
    """,
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: text → BINARY payload column →
    Arrow-batched `arrow_stage` feature extraction (decode stubbed,
    schema/partitioning/batch shape real).

    This is the pattern for image/audio/video columns at scale:
    opaque bytes + typed metadata, decoded in vectorized Python
    batches, never row-at-a-time.
    """
    docs = load(spark, sf_dir, "documents")
    binary = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    # NULL payloads (no media) are excluded like every multimodal
    # operator does — never a worker crash.
    return arrow_stage(
        binary, "mm_binary_payload_features", _MM_SCHEMA, _extract_features,
        not_null="payload",
    )


# ---------------------------------------------------------------------------
# multimodal: decode → features, frame sampling (stubbed codecs,
# real Arrow plumbing)
# ---------------------------------------------------------------------------

_MM_PIXELS_SQL = """
    list_transform(generate_series(0, 47), i ->
        xor(CAST('0x' || substr(md5('FAKEIM' || text),
                                ((i % 16) * 2) + 1, 2) AS INT), i))
"""


@register(
    "mm_image_features",
    oracle=f"""
    WITH px AS (
        SELECT doc_id, {_MM_PIXELS_SQL} AS pixels
        FROM documents WHERE doc_id % 4 = 2
          AND text IS NOT NULL  -- NULL payload = no media (plan filter)
    )
    SELECT doc_id,
           8 AS width, 6 AS height,
           list_sum(pixels) / 48.0 AS mean_luma,
           md5(array_to_string(pixels, ',')) AS thumb_8x6_md5
    FROM px
    """,
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode → feature extraction: binary payload →
    Arrow batch → (stub-)decode → dimensions, mean luminance,
    thumbnail fingerprint. The codec is a deterministic stand-in
    (no image libs in-container); everything downstream of decode —
    batch shape, schema, feature math — is the production path and
    is hash-checked.
    """
    from metadata_wrangler_spark.operators import multimodal
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 2)
    payloads = docs.select(
        "doc_id",
        F.encode(F.concat(F.lit("FAKEIM"), F.col("text")), "UTF-8")
        .alias("payload"),
    )
    out = multimodal.image_features(payloads)
    return out.select(
        "doc_id", "width", "height", "mean_luma", "thumb_8x6_md5"
    )


@register(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(f AS INT) AS frame_no,
           md5('FAKEVID' || text || '#' || CAST(f AS VARCHAR)) AS frame_md5
    FROM documents, unnest([0, 10, 20]) AS t(f)
    WHERE doc_id % 10 = 5 AND text IS NOT NULL  -- NULL payload = no media
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: one payload in, one row per
    sampled frame out (every 10th of 30). Frame decode is a
    deterministic fake; the UDTF row explosion, sampling policy, and
    schema are the production path.
    """
    from metadata_wrangler_spark.operators import multimodal
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 5)
    payloads = docs.select(
        "doc_id",
        F.encode(F.concat(F.lit("FAKEVID"), F.col("text")), "UTF-8")
        .alias("payload"),
    )
    return multimodal.sample_frames(payloads, every_nth=10, n_frames=30)


@register(
    "txt_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens,
           CAST(len(string_split(trim(regexp_replace(lower(text),
                '\s+', ' ', 'g')), ' ')) AS INT) AS n_ws_tokens
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def txt_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish: a GPT-2-flavoured pretokenizer regex
    (letter runs / digit runs / single punctuation) counted next to
    the whitespace count — the standard cheap token-budget estimate
    for corpus sizing. Pure regexp_extract_all, stays in codegen.
    """
    from metadata_wrangler_spark.operators.dedup import normalize_text
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    bpe = F.regexp_extract_all(
        F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
    )
    ws = F.split(normalize_text(F.col("text")), " ")
    return docs.select(
        "doc_id",
        F.size(bpe).cast("int").alias("n_bpe_tokens"),
        F.size(ws).cast("int").alias("n_ws_tokens"),
    )


@register(
    "txt_sequence_packing",
    oracle=f"""
    WITH toks AS (
        SELECT source, doc_id,
               CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
        WHERE text IS NOT NULL  -- NULL-payload rule shared with the plan
    ), packed AS (
        SELECT source, doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM toks
    )
    SELECT source,
           CAST(floor(cum_before / 2048) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM packed
    GROUP BY 1, 2
    """,
)
def txt_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: documents are packed into
    ~2048-token bins contiguously per source shard (bin = cumulative
    token count before the doc, integer-divided by the budget) — the
    deterministic greedy layout a pretraining loader consumes.

    Scale shape: packing is inherently sequential WITHIN a shard
    key (source), and a handful of sources cover the whole corpus —
    a plain partitionBy(source) window would hand one task an
    entire source to scan. The running token count rides the
    GROUPED range-bucketed prefix operator instead
    (operators/prefix.py): balanced tasks, same contiguous greedy
    layout; cum_before = running total MINUS the row's own tokens.
    At 100 TB the shard key becomes (source, date) and the same
    plan applies unchanged.
    """
    from metadata_wrangler_spark.operators.dedup import normalize_text
    from metadata_wrangler_spark.operators.prefix import global_order_stats

    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()  # NULL-payload rule
    )
    n_tokens = F.size(F.split(normalize_text(F.col("text")), " "))
    packed = global_order_stats(
        docs.select(
            "source", "doc_id", n_tokens.cast("bigint").alias("n_tokens")
        ),
        [F.asc("doc_id")],
        group_cols=["source"], cum_cols=["n_tokens"], rank_col=None,
    ).withColumn(
        "cum_before", F.col("cum_n_tokens") - F.col("n_tokens")
    )
    return (
        packed.groupBy(
            "source",
            F.floor(F.col("cum_before") / 2048).cast("bigint")
            .alias("bin_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "txt_boilerplate_passages",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ), chunks AS (
        SELECT doc_id,
               md5(concat_ws('_', w[i], w[i+1], w[i+2], w[i+3],
                                  w[i+4], w[i+5], w[i+6], w[i+7])) AS fp
        FROM words, unnest(generate_series(1, len(w) - 7, 8)) AS t(i)
    ), df AS (
        SELECT fp, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY fp
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN df.n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boiler_chunks,
           CAST(SUM(CASE WHEN df.n_docs >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS boiler_frac
    FROM chunks c JOIN df USING (fp)
    GROUP BY c.doc_id
    """,
)
def txt_boilerplate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage (boilerplate) detection: docs are cut into
    non-overlapping 8-word chunks, chunk fingerprints appearing in
    >= 3 distinct documents are boilerplate, and each document gets
    its boilerplate fraction — the passage-level dedup signal used to
    strip headers/footers/licences from web corpora.

    Scale shape: one explode (non-overlapping stride — output tokens
    ~= input tokens, unlike overlapping shingles), one hash-aggregate
    for document frequency, one equi-join back on the fingerprint.
    The df side is orders of magnitude smaller than the corpus after
    the groupBy; no quadratic candidate step exists in this plan.
    """
    from metadata_wrangler_spark.operators.dedup import normalize_text
    docs = load(spark, sf_dir, "documents")
    words = F.split(normalize_text(F.col("text")), " ")
    starts = F.sequence(F.lit(1), F.size(words) - 7, F.lit(8))
    chunks = (
        docs.select(
            "doc_id",
            F.explode(
                F.transform(
                    starts,
                    lambda s: F.md5(
                        F.concat_ws("_", F.slice(words, s, 8))
                    ),
                )
            ).alias("fp"),
        )
        .where(F.size(words) >= 8)
    )
    df_counts = chunks.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    joined = chunks.join(df_counts, "fp")
    boiler = F.when(F.col("n_docs") >= 3, 1).otherwise(0)
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(boiler).cast("bigint").alias("n_boiler_chunks"),
        (F.sum(boiler).cast("double") / F.count(F.lit(1)))
        .alias("boiler_frac"),
    )


@register(
    "txt_ngram_topk",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, {_WORDS_SQL} AS w FROM documents
        WHERE text IS NOT NULL  -- NULL-payload rule shared with the plan
    ), grams AS (
        SELECT doc_id, unnest({_shingles_sql(2).replace("'_'", "' '")}) AS gram
        FROM words
    )
    SELECT gram,
           COUNT(*) AS n_total,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM grams
    GROUP BY gram
    ORDER BY n_total DESC, gram ASC
    LIMIT 20
    """,
)
def txt_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-k bigrams with document frequency — the
    vocabulary/stopword-discovery profile a corpus pipeline runs
    before tuning dedup shingles and quality filters.

    Scale shape: explode → hash-aggregate with map-side partial
    combine (gram counts collapse before the shuffle), then a
    global top-k that Spark executes as TakeOrderedAndProject —
    per-partition heaps, never a full sort of the gram table.
    """
    from metadata_wrangler_spark.operators.dedup import (
        normalize_text, shingles,
    )
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()  # NULL-payload rule
    )
    words = F.split(normalize_text(F.col("text")), " ")
    grams = docs.select(
        "doc_id", words.alias("w")
    ).select(
        "doc_id",
        F.explode(F.transform(
            F.expr("sequence(1, greatest(size(w) - 1, 0))"),
            lambda i: F.concat_ws(
                " ", F.element_at("w", i), F.element_at("w", i + 1)
            ),
        )).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_total"), F.asc("gram"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# corpus analysis: TF-IDF top terms per document
# ---------------------------------------------------------------------------

# Rational BM25-style idf (N - df + 0.5)/(df + 0.5) instead of the
# log form: every operation (int→double cast, add, divide, multiply)
# is exactly specified by IEEE-754, so Spark and DuckDB produce the
# same bits without trusting two libms to round ln() identically.
# Monotone in df exactly like log-idf, which is all ranking needs.

@register(
    "txt_tfidf_topk",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ), terms AS (
        SELECT doc_id, unnest(w) AS term FROM w
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM terms WHERE term <> '' GROUP BY 1, 2
    ), dfx AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), n AS (
        SELECT COUNT(*) AS n FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
               CAST(CAST(
                   CAST(tf.tf AS DOUBLE) *
                   ((CAST(n.n AS DOUBLE) - CAST(dfx.df AS DOUBLE) + 0.5)
                    / (CAST(dfx.df AS DOUBLE) + 0.5))
               AS DECIMAL(18,6)) AS DOUBLE) AS score
        FROM tf JOIN dfx USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score, rank FROM (
        SELECT doc_id, term, tf, df, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term ASC) AS rank
        FROM scored
    ) t
    WHERE rank <= 3
    """,
)
def txt_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the corpus-keyword profile
    (what a quality/topic triage pass reads before sampling).

    Scale shape (round-8 rewrite, 4.6 -> ~1.4 s at sf1): ONE real
    shuffle — the documents themselves, repartitioned by doc_id
    BEFORE the token explode (explode preserves its child's
    partitioning, so the same text bytes move in 1/tokens-per-doc as
    many rows as shuffling exploded tokens would). On top of that
    single exchange the (doc_id, term) aggregate, the per-document
    rank window, and (via map-side partial + a vocab-sized exchange)
    the document-frequency aggregate all run without moving data
    again. df joins back as a BROADCAST: vocab ≪ corpus, and the old
    shuffle join partitioned 1.5M tf rows by a 31-value key — worst
    case skew. At web scale a hapax-heavy vocab can outgrow a single
    broadcast; the standard hybrid (broadcast the df head, sort-merge
    the long tail) slots into the same plan — the tail join is then
    skew-free because tail terms are rare by definition.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition("doc_id")
    )
    words = F.split(dedup.normalize_text(F.col("text")), " ")
    terms = d.select("doc_id", F.explode(words).alias("term")).where(
        F.col("term") != ""
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = load(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("_n"))
    idf = (
        (F.col("_n").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    scored = (
        tf.join(F.broadcast(dfx), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term", "tf", "df",
            (F.col("tf").cast("double") * idf)
            .cast("decimal(18,6)").cast("double").alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


# ---------------------------------------------------------------------------
# RAG prep: overlapping chunk windows
# ---------------------------------------------------------------------------

_CHUNK_WORDS = 50
_CHUNK_STRIDE = 40  # 10-word overlap between consecutive chunks


@register(
    "txt_chunk_overlap",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ), s AS (
        SELECT doc_id, w,
               unnest(generate_series(0, greatest(len(w) - 1, 0),
                                      {_CHUNK_STRIDE})) AS start
        FROM w
    )
    SELECT doc_id,
           CAST(start // {_CHUNK_STRIDE} AS INT) AS chunk_no,
           CAST(len(w[start + 1 : start + {_CHUNK_WORDS}]) AS INT)
               AS n_tokens,
           md5(array_to_string(w[start + 1 : start + {_CHUNK_WORDS}], ' '))
               AS fingerprint
    FROM s
    WHERE start < len(w)
    """,
)
def txt_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping chunk windows — retrieval/embedding prep: each
    document becomes {_CHUNK_WORDS}-word chunks at a
    {_CHUNK_STRIDE}-word stride (10-word overlap so no boundary
    sentence is lost to both neighbors). Emits the chunk fingerprint,
    not the text — the id an embedding/dedup stage joins back on.

    Pure expressions: sequence → explode for the starts, slice for
    the window, one md5 per chunk. No shuffle at all until a
    downstream stage aggregates — chunking is map-side, which is
    what lets it run inline in a 100 TB ingest scan.
    """
    d = load(spark, sf_dir, "documents")
    words = F.split(dedup.normalize_text(F.col("text")), " ")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(words) - 1, F.lit(0)),
        F.lit(_CHUNK_STRIDE),
    )
    exploded = d.select(
        "doc_id", words.alias("w"), F.explode(starts).alias("start")
    ).where(F.col("start") < F.size("w"))
    chunk = F.slice(F.col("w"), F.col("start") + 1, _CHUNK_WORDS)
    return exploded.select(
        "doc_id",
        (F.col("start") / _CHUNK_STRIDE).cast("int").alias("chunk_no"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("fingerprint"),
    )


@register(
    "txt_quality_deciles",
    oracle=f"""
    WITH q AS (
        SELECT doc_id,
               CAST(len({_WORDS_SQL}) AS INT) AS n_tokens
        FROM documents
        WHERE text IS NOT NULL  -- NULL-payload rule shared with the plan
    )
    SELECT decile,
           COUNT(*) AS n_docs,
           MIN(n_tokens) AS min_tokens,
           MAX(n_tokens) AS max_tokens
    FROM (
        SELECT doc_id, n_tokens,
               NTILE(10) OVER (ORDER BY n_tokens, doc_id) AS decile
        FROM q
    ) t
    GROUP BY decile
    """,
)
def txt_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile calibration over document length — the bucketing
    a quality-threshold sweep reads (keep the top-k deciles). The
    NTILE order carries a doc_id tiebreak: ties at a decile boundary
    would otherwise be split by partition order, and the two engines
    would disagree. The decile summary (count/min/max per bucket) is
    the serving artifact. The global NTILE is a total order, so it
    is computed as global rank (operators/prefix.py's range-bucketed
    distributed prefix scheme — no SinglePartition stage, balanced
    partitions at any scale) plus NTILE's closed-form rank→tile
    arithmetic; the oracle's flat NTILE(10) window is the semantic
    spec.

    Reference analog: the percentile calibration utility
    (`bin/util/calculate_percentile:11-36`), bucketed instead of
    cut-pointed.
    """
    from metadata_wrangler_spark.operators.prefix import global_order_stats

    d = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()  # NULL-payload rule
    )
    words = F.split(dedup.normalize_text(F.col("text")), " ")
    q = d.select("doc_id", F.size(words).cast("int").alias("n_tokens"))
    # NTILE is rank arithmetic: with n rows and k tiles, the first
    # n%k tiles hold n/k+1 rows and the rest n/k. The global rank
    # comes from the range-bucketed distributed prefix operator and
    # the tile from the closed form — bit-identical to the oracle's
    # flat NTILE(10) window, with no SinglePartition stage.
    tot = q.agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        global_order_stats(q, [F.asc("n_tokens"), F.asc("doc_id")])
        .crossJoin(F.broadcast(tot))
        .withColumn("sz", F.expr("n DIV 10"))
        .withColumn("r", F.expr("n % 10"))
    )
    decile = F.expr(
        "CASE WHEN rn <= r * (sz + 1) THEN (rn - 1) DIV (sz + 1) + 1 "
        "ELSE r + (rn - r * (sz + 1) - 1) DIV greatest(sz, 1) + 1 END"
    ).cast("int")
    return (
        ranked.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


# --- Sorted-neighborhood blocking (SNM candidate generation) ---------------

_SNM_WINDOW = 5
_SNM_KEY_SQL = f"substr(replace({_NORM_SQL}, ' ', ''), 1, 16)"


@register(
    "dd_sorted_neighborhood",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, {_SNM_KEY_SQL} AS skey,
               substr({_SNM_KEY_SQL}, 1, 3) AS blk,
               list_distinct({_WORDS_SQL}) AS words
        FROM documents
    ), ranked AS (
        SELECT doc_id, skey, blk, words,
               row_number() OVER (PARTITION BY blk
                                  ORDER BY skey, doc_id) AS rn
        FROM keyed
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.words, b.words)) AS shared,
               len(a.words) AS na, len(b.words) AS nb
        FROM ranked a
        JOIN ranked b
          ON a.blk = b.blk
         AND b.rn - a.rn BETWEEN 1 AND {_SNM_WINDOW}
    )
    SELECT id_a, id_b,
           shared / (na + nb - shared) AS jaccard
    FROM pairs
    WHERE shared / (na + nb - shared) >= 0.4
    """,
)
def dd_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood-method (SNM) near-dup candidate
    generation: sort documents by a compact blocking key, compare
    each doc only to its W nearest neighbors in key order, verify
    with word-set Jaccard. The classic entity-resolution alternative
    to LSH blocking (Hernandez & Stolfo's merge/purge), re-expressed
    as a rank self-join.

    Reference: the reference dedupes editions by normalized-title
    sort-and-scan (`model.py` Edition.sort_title permanent-work-id
    grouping); SNM is that pattern generalized to bounded-window
    fuzzy comparison.

    Scale design: the sort is NEVER global — row_number partitions
    by a 3-char key prefix (the block), so ranking is a per-block
    window over a shuffle on blk, and the pair join is an equi-join
    on blk with a rank-distance band predicate: W * |block| pairs,
    not |corpus|^2. Cross-block neighbors are traded away exactly as
    in multi-pass SNM; run a second pass with a rotated key (suffix
    key) when recall matters — same plan, different key expression.
    """
    docs = load(spark, sf_dir, "documents")
    norm = dedup.normalize_text(F.col("text"))
    skey = F.substring(F.regexp_replace(norm, " ", ""), 1, 16)
    keyed = docs.select(
        "doc_id",
        skey.alias("skey"),
        F.substring(skey, 1, 3).alias("blk"),
        F.array_distinct(F.split(norm, " ")).alias("words"),
    )
    ranked = keyed.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("blk").orderBy("skey", "doc_id")
        ),
    )
    a = ranked.select(
        F.col("doc_id").alias("id_a"),
        F.col("blk"),
        F.col("rn").alias("rn_a"),
        F.col("words").alias("wa"),
    )
    b = ranked.select(
        F.col("doc_id").alias("id_b"),
        F.col("blk"),
        F.col("rn").alias("rn_b"),
        F.col("words").alias("wb"),
    )
    shared = F.size(F.array_intersect("wa", "wb"))
    jac = shared / (F.size("wa") + F.size("wb") - shared)
    return (
        a.join(b, "blk")
        .where(
            (F.col("rn_b") - F.col("rn_a") >= 1)
            & (F.col("rn_b") - F.col("rn_a") <= _SNM_WINDOW)
        )
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.4)
    )


# --- Inverted index construction ------------------------------------------

@register(
    "txt_inverted_index",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, w AS word
        FROM (
            SELECT doc_id, unnest({_WORDS_SQL}) AS w
            FROM documents
        )
        WHERE length(w) >= 3
    )
    SELECT word,
           COUNT(*) AS df,
           array_to_string(
               list_transform((list(doc_id ORDER BY doc_id))[1:20],
                              x -> CAST(x AS VARCHAR)),
               ',') AS postings_head
    FROM tok
    GROUP BY word
    HAVING COUNT(*) >= 5
    """,
)
def txt_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: token -> document-frequency +
    the head of the sorted posting list — the index build a corpus
    search / decontamination-lookup layer runs over training text.

    Reference: the reference's subject/classification lookup tables
    map terms to identifier lists (`classifier.py` subject maps,
    built once and probed per work); this is the same build phrased
    as an aggregation.

    Scale design: explode -> distinct -> groupBy(word) is two
    shuffles on (doc_id-batched) token rows with map-side partial
    aggregation; posting lists are CAPPED (head-20) inside the agg
    so no group materializes an unbounded array — at 100 TB the
    full posting list would instead be written as a word-bucketed
    parquet sink (cluster by word), with df computed exactly as
    here. Hot stopword-like tokens are bounded by the same cap.
    """
    docs = load(spark, sf_dir, "documents")
    words = F.split(dedup.normalize_text(F.col("text")), " ")
    tok = (
        docs.select("doc_id", F.explode(words).alias("word"))
        .where(F.length("word") >= 3)
        .distinct()
    )
    return (
        tok.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head"),
        )
        # scale: weakening-floor — hapax pruning; growth only admits
        # more index entries (same constant as the oracle's HAVING).
        .where(F.col("df") >= 5)
    )


# ---------------------------------------------------------------------------
# dedup tier: prefix-filtering set-similarity join (PPJoin-style)
# ---------------------------------------------------------------------------

# Jaccard threshold 0.6 as the exact rational 3/5 so both engines
# compare integers (5*|inter| >= 3*|union|), never doubles.
# prefix_len = n - ceil(t*n) + 1, with ceil(3n/5) spelled
# floor((3n+4)/5) in exact integer arithmetic.

@register(
    "dd_prefix_filter_join",
    oracle=f"""
    WITH wrds AS (
        SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ), tok AS (
        SELECT DISTINCT doc_id, s AS shingle
        FROM (SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM wrds)
    ), dfreq AS (
        SELECT shingle, COUNT(*) AS df FROM tok GROUP BY 1
    ), ranked AS (
        SELECT t.doc_id, t.shingle,
               ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                  ORDER BY d.df ASC, t.shingle ASC) AS pos,
               COUNT(*) OVER (PARTITION BY t.doc_id) AS n
        FROM tok t JOIN dfreq d USING (shingle)
    ), pre AS (
        SELECT doc_id, shingle, pos, n FROM ranked
        WHERE pos <= n - CAST(floor((3*n + 4) / 5) AS BIGINT) + 1
    ), cand0 AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               any_value(a.n) AS na, any_value(b.n) AS nb,
               MIN(a.pos) AS pa1, MIN(b.pos) AS pb1
        FROM pre a JOIN pre b ON a.shingle = b.shingle
        WHERE a.doc_id < b.doc_id
          AND 5 * b.n >= 3 * a.n AND 5 * a.n >= 3 * b.n
        GROUP BY 1, 2
    ), cand AS (
        SELECT doc_a, doc_b FROM cand0
        WHERE 8 * (1 + least(na - pa1, nb - pb1)) >= 3 * (na + nb)
    ), arrs AS (
        SELECT doc_id, list(shingle ORDER BY shingle) AS sh, COUNT(*) AS n
        FROM tok GROUP BY doc_id
    ), verified AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter_n,
               x.n + y.n - len(list_intersect(x.sh, y.sh)) AS union_n
        FROM cand c
        JOIN arrs x ON x.doc_id = c.doc_a
        JOIN arrs y ON y.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, inter_n, union_n,
           CAST(inter_n AS DOUBLE) / CAST(union_n AS DOUBLE) AS jacc
    FROM verified
    WHERE 5 * inter_n >= 3 * union_n
    """,
)
def dd_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join with prefix filtering over 3-gram
    shingle sets (PPJoin family: Xiao et al., "Efficient Similarity
    Joins for Near Duplicate Detection", WWW'08) — the fourth
    candidate-generation family in the dedup stack, complementing
    all-shingle bucketing (`dd_ngram_jaccard`), MinHash bands
    (`dd_minhash_lsh`) and sorted neighborhoods
    (`dd_sorted_neighborhood`). Unlike MinHash it is EXACT — every
    pair with shingle-set Jaccard >= 0.6 is returned, no recall
    loss — and unlike the `max_doc_freq` stop-shingle heuristic of
    the pruned Jaccard tier it needs no recall-risking frequency
    cap: correctness only requires joining on each document's
    prefix, which the df-ascending order makes its RAREST shingles.

    Reference behavior: near-duplicate edition detection over token
    sets (the reference's title/author fuzzy matching,
    `metadata.py` Edition similarity), phrased over `documents`
    like the other dedup tiers.

    Scale design (the point of prefix filtering): a qualifying pair
    must share a shingle among the prefix_len = n - ceil(t*n) + 1
    globally-rarest shingles of each side, so the candidate join is
    an equi-join keyed on LOW-df shingles only — the hot-key
    blowup of a naive token join never enters the plan (measured
    here: 193k candidates vs 12.5M all-pairs at sf0.1). Length
    pruning (t*|a| <= |b| <= |a|/t) runs inside the join before the
    distinct. Every stage is a shuffled groupBy / per-doc window /
    equi-join — no all-pairs, no driver state, no global sort.
    Verification joins candidates back to sorted shingle arrays and
    intersects JVM-side (`array_intersect`).
    """
    docs = load(spark, sf_dir, "documents")
    wrds = docs.select(
        "doc_id", F.split(dedup.normalize_text(F.col("text")), " ").alias("w")
    )
    tok = (
        wrds.select("doc_id", F.explode(dedup.shingles(3)).alias("shingle"))
        .distinct()
    )
    dfreq = tok.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    per_doc = W.partitionBy("doc_id")
    ranked = tok.join(dfreq, "shingle").select(
        "doc_id",
        "shingle",
        F.row_number()
        .over(per_doc.orderBy(F.asc("df"), F.asc("shingle")))
        .alias("pos"),
        F.count(F.lit(1)).over(per_doc).alias("n"),
    )
    prefix_len = F.col("n") - F.floor((3 * F.col("n") + 4) / 5) + 1
    pre = ranked.where(F.col("pos") <= prefix_len).select(
        "doc_id", "shingle", "pos", "n"
    )
    a = pre.select(
        F.col("doc_id").alias("doc_a"),
        "shingle",
        F.col("pos").alias("pa"),
        F.col("n").alias("na"),
    )
    b = pre.select(
        F.col("doc_id").alias("doc_b"),
        "shingle",
        F.col("pos").alias("pb"),
        F.col("n").alias("nb"),
    )
    # Positional filter (the "P" in PPJoin): the FIRST shared prefix
    # shingle — shared shingles appear in the same relative order on
    # both sides because both orders are the global (df, shingle)
    # order, so MIN(pa) and MIN(pb) are the same match — bounds the
    # overlap at 1 + min(na - pa1, nb - pb1). Jaccard >= 3/5 needs
    # 8*overlap >= 3*(na+nb); prune candidates that cannot reach it
    # (2.8x fewer verifications at sf1). Only the first match's
    # bound is valid: a later match's bound would not count shared
    # shingles before it.
    cand = (
        a.join(b, "shingle")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (5 * F.col("nb") >= 3 * F.col("na"))
            & (5 * F.col("na") >= 3 * F.col("nb"))
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first("na").alias("na0"),
            F.first("nb").alias("nb0"),
            F.min("pa").alias("pa1"),
            F.min("pb").alias("pb1"),
        )
        .where(
            8
            * (
                1
                + F.least(
                    F.col("na0") - F.col("pa1"), F.col("nb0") - F.col("pb1")
                )
            )
            >= 3 * (F.col("na0") + F.col("nb0"))
        )
        .select("doc_a", "doc_b")
    )
    arrs = tok.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("sh"),
        F.count(F.lit(1)).alias("n"),
    )
    inter = F.size(F.array_intersect("sha", "shb")).cast("long")
    return (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh").alias("sha"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh").alias("shb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter_n"),
            (F.col("na") + F.col("nb") - inter).alias("union_n"),
        )
        .where(5 * F.col("inter_n") >= 3 * F.col("union_n"))
        .select(
            "doc_a",
            "doc_b",
            "inter_n",
            "union_n",
            (
                F.col("inter_n").cast("double")
                / F.col("union_n").cast("double")
            ).alias("jacc"),
        )
    )


# ---------------------------------------------------------------------------
# corpus analysis: BM25 ranked retrieval
# ---------------------------------------------------------------------------

# Query terms: one rare discriminative term ('dup' marks the planted
# near-duplicate docs) plus two common ones — the mix that makes
# idf weighting visible. BM25 constants k1=1.2, b=0.75 (Robertson/
# Sparck Jones defaults). Per-term scores are exact-quantized to
# 1e-6 before the cross-term sum so the summation order (which
# differs between engines and partitionings) cannot move a bit;
# the idf is the same rational BM25 form as txt_tfidf_topk.

_BM25_TERMS = ("dup", "vector", "window")


def _eq_term(term: str):
    """One-argument equality predicate for array ``filter`` — a
    factory, NOT a ``lambda x, t=term`` default-arg capture: PySpark
    counts lambda parameters to pick the HOF form, so a defaulted
    second parameter silently selects the (element, index) variant
    and binds the captured term to the element index (the same
    arity trap operators/merge.py round-9 advice fixed)."""
    return lambda x: x == F.lit(term)


@register(
    "txt_bm25_search",
    oracle=f"""
    WITH wrds AS (
        SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ), dl AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM wrds
    ), stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(w) AS term FROM wrds)
        WHERE term IN ('dup', 'vector', 'window')
        GROUP BY 1, 2
    ), dfx AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               ((CAST(s.n_docs AS DOUBLE) - CAST(dfx.df AS DOUBLE) + 0.5)
                / (CAST(dfx.df AS DOUBLE) + 0.5))
               * (CAST(tf.tf AS DOUBLE) * 2.2
                  / (CAST(tf.tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                                             / s.avgdl)))) AS term_score
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
        JOIN dfx USING (term)
    ), summed AS (
        SELECT doc_id,
               COUNT(*) AS n_terms,
               CAST(SUM(CAST(floor(term_score * 1000000 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1000000.0 AS score
        FROM scored GROUP BY 1
    )
    SELECT doc_id, n_terms, score, rank FROM (
        SELECT doc_id, n_terms, score,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        FROM summed
    ) t
    WHERE rank <= 10
    """,
)
def txt_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed term query — the ranked
    search a corpus-curation layer runs over the inverted index
    (`txt_inverted_index` is the build phase; this is the probe).

    Reference behavior: ranked candidate scoring with a
    tf/idf-style weight (the reference ranks VIAF candidates by a
    weighted token score, `viaf.py` candidate sort); re-expressed
    as textbook BM25 over the documents corpus.

    Scale design (round-10 per-row tf counters): a document's tf
    for each of the 3 query terms completes WITHIN its own row — a
    JVM `filter` HOF per term over the token array — so the
    27M-token explode and the (doc_id, term) hash-aggregate shuffle
    disappear entirely; what leaves the scan is a 5-counter row per
    document (dl + one tf per query term), cached once and read by
    both the corpus-stats aggregate and the posting expansion (the
    old spelling tokenized the corpus twice, once per branch —
    canonical sf10 A/B in this round's notes). Postings then come
    from exploding a 3-element literal struct array and dropping
    zero counts: per-doc-sized rows whose downstream aggregates all
    collapse map-side. df and the corpus stats are tiny aggregates
    that enter as broadcast one-row joins (scalar-subquery shape,
    no driver collect). The final top-10 is a TakeOrdered over the
    per-doc sums — no global sort materializes. At 100 TB no
    token-width shuffle exists anywhere in the plan; the widest
    exchange is the per-document counter row.
    """
    docs = load(spark, sf_dir, "documents")
    row = (
        docs.select(
            "doc_id",
            F.split(dedup.normalize_text(F.col("text")), " ").alias("w"),
        )
        .select(
            "doc_id",
            F.size("w").cast("long").alias("dl"),
            *[
                # one-arg closure via factory: a `t=t` default arg
                # would flip PySpark's HOF arity detection to the
                # (element, index) form and bind t to the index
                F.size(F.filter("w", _eq_term(t)))
                .cast("long")
                .alias(f"tf{i}")
                for i, t in enumerate(_BM25_TERMS)
            ],
        )
        # released at workload boundaries by release_session_caches
        # (catalog.clearCache), like the pairwise scorers' tables
        .cache()
    )
    stats = row.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    tf = (
        row.select(
            "doc_id",
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("term"),
                            F.col(f"tf{i}").alias("tf"),
                        )
                        for i, t in enumerate(_BM25_TERMS)
                    ]
                )
            ).alias("x"),
        )
        .select("doc_id", "dl", "x.term", "x.tf")
        .where(F.col("tf") > 0)
    )
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    tf_component = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (
            F.lit(0.25)
            + F.lit(0.75) * (F.col("dl").cast("double") / F.col("avgdl"))
        )
    )
    scored = (
        tf.crossJoin(F.broadcast(stats))
        .join(F.broadcast(dfx), "term")
        .select("doc_id", (idf * tf_component).alias("term_score"))
    )
    summed = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        (
            F.sum(
                F.floor(F.col("term_score") * 1000000 + 0.5).cast("long")
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("score"),
    )
    # TakeOrdered-limit FIRST (no global sort materializes), then the
    # rank window runs over the 10 survivors only — same discipline
    # as w_order_by_rank's aggregate-then-rank.
    top = summed.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    return top.select(
        "doc_id",
        "n_terms",
        "score",
        F.row_number()
        .over(W.orderBy(F.desc("score"), F.asc("doc_id")))
        .cast("long")
        .alias("rank"),
    )


# ---------------------------------------------------------------------------
# phrase mining: PMI-ranked bigram collocations
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5     # bigram support floor — kills hapax noise
_PMI_TOP = 50


@register(
    "txt_pmi_bigrams",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ), uni AS (
        SELECT word, COUNT(*) AS c FROM (
            SELECT unnest(w) AS word FROM toks
        ) GROUP BY word
    ), tot AS (
        SELECT SUM(c) AS n_total FROM uni
    ), pairs AS (
        SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS c_xy FROM (
            SELECT unnest(list_transform(
                       generate_series(1, len(w) - 1),
                       i -> [w[i], w[i + 1]])) AS p
            FROM toks WHERE len(w) >= 2
        ) GROUP BY 1, 2
    ), scored AS (
        SELECT p.w1, p.w2, p.c_xy,
               CAST((p.c_xy * t.n_total * 10000) // (u1.c * u2.c)
                    AS BIGINT) AS pmi_ratio_x10k
        FROM pairs p
        JOIN uni u1 ON u1.word = p.w1
        JOIN uni u2 ON u2.word = p.w2
        CROSS JOIN tot t
        WHERE p.c_xy >= {_PMI_MIN_COUNT}
    )
    SELECT w1, w2, c_xy, pmi_ratio_x10k, rank FROM (
        SELECT *, row_number() OVER (
                   ORDER BY pmi_ratio_x10k DESC, w1 ASC, w2 ASC) AS rank
        FROM scored
    ) WHERE rank <= {_PMI_TOP}
    """,
)
def txt_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: rank corpus bigrams by pointwise
    mutual information — the phrase-discovery signal (new-terms
    detection, tokenizer vocab candidates) every corpus-construction
    pipeline computes before training. PMI ∝ P(xy)/(P(x)P(y)); the
    monotone integer surrogate c_xy·N·10⁴ div (c_x·c_y) keeps the
    ranking identical while staying exact cross-engine (no libm log).

    Scale shape: one explode for unigram counts, one explode for
    bigram counts (token-linear, non-overlapping in output size),
    two hash-aggregates; the unigram table after aggregation is
    vocabulary-sized → both probability joins BROADCAST, and the
    scalar N rides a broadcast-of-one-row cross join. TakeOrdered
    gives the final top-{_PMI_TOP}; nothing global ever sorts.
    """
    docs = load(spark, sf_dir, "documents")
    w = F.split(dedup.normalize_text(F.col("text")), " ")
    toks = docs.select("doc_id", w.alias("w"))

    uni = (
        toks.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("n_total"))

    pair = F.zip_with(
        F.slice(F.col("w"), 1, F.size("w") - 1),
        F.slice(F.col("w"), 2, F.size("w") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = (
        toks.where(F.size("w") >= 2)
        .select(F.explode(pair).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= _PMI_MIN_COUNT)
    )

    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    scored = (
        pairs.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "c_xy",
            F.expr("c_xy * n_total * 10000 DIV (c1 * c2)")
            .alias("pmi_ratio_x10k"),
        )
    )
    top = scored.orderBy(
        F.desc("pmi_ratio_x10k"), F.asc("w1"), F.asc("w2")
    ).limit(_PMI_TOP)
    return top.select(
        "w1", "w2", "c_xy", "pmi_ratio_x10k",
        F.row_number()
        .over(W.orderBy(F.desc("pmi_ratio_x10k"), F.asc("w1"), F.asc("w2")))
        .cast("long")
        .alias("rank"),
    )


# ---------------------------------------------------------------------------
# sampling: token-weighted deterministic Poisson sample
# ---------------------------------------------------------------------------

_WS_TARGET = 20          # expected sample size (documents)
_WS_PPM = 1_000_000      # gate resolution


@register(
    "txt_weighted_sample",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, lang, len({_WORDS_SQL}) AS w_tokens,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % {_WS_PPM} AS gate
        FROM documents
    ), tot AS (
        SELECT SUM(w_tokens) AS total_w FROM sized
    )
    SELECT doc_id, lang, w_tokens,
           CAST(least({_WS_PPM},
                      ({_WS_PPM} * {_WS_TARGET} * w_tokens) // total_w)
                AS BIGINT) AS prob_ppm
    FROM sized CROSS JOIN tot
    WHERE gate * total_w < {_WS_PPM} * {_WS_TARGET} * w_tokens
    """,
)
def txt_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional Poisson sampling: each document enters the
    sample with probability ≈ target·tokens/Σtokens — the standard
    way to draw a fixed TOKEN budget (not doc budget) when building a
    training mixture, so long documents are not under-represented.
    The gate is a pure integer comparison on a doc-id hash
    (hash%10⁶ · Σw < 10⁶ · target · w): no RNG state, reproducible
    across engines/partitionings, and a document's keep/drop never
    flips as the corpus grows its OTHER strata (Σw enters both
    engines identically).

    Complements txt_mixture_sample (per-language fixed rates): this
    is the weight-proportional second stage. Scale: one aggregate for
    Σw broadcast back as a one-row cross join; the gate is then an
    embarrassingly parallel filter — no shuffle of the corpus.
    """
    docs = load(spark, sf_dir, "documents")
    w_tokens = F.size(F.split(dedup.normalize_text(F.col("text")), " "))
    sized = docs.select(
        "doc_id", "lang", w_tokens.alias("w_tokens"),
        (dedup.md5_long(F.col("doc_id").cast("string")) % _WS_PPM)
        .alias("gate"),
    )
    tot = sized.agg(F.sum("w_tokens").alias("total_w"))
    return (
        sized.crossJoin(F.broadcast(tot))
        .where(
            F.col("gate") * F.col("total_w")
            < F.lit(_WS_PPM * _WS_TARGET) * F.col("w_tokens")
        )
        .select(
            "doc_id", "lang", "w_tokens",
            F.least(
                F.lit(_WS_PPM).cast("long"),
                F.expr(f"{_WS_PPM} * {_WS_TARGET} * w_tokens DIV total_w"),
            ).alias("prob_ppm"),
        )
    )


# md5(payload) bytes as centered PCM samples, DuckDB spelling:
# byte j of the digest is hex pair (2j+1, 2j+2) of the hex string
_MM_PCM_SQL = """
    list_transform(generate_series(0, 15), i ->
        CAST('0x' || substr(md5('FAKEAU' || text),
                            ((i % 16) * 2) + 1, 2) AS INT) - 128)
"""


@register(
    "mm_audio_windows",
    oracle=f"""
    WITH pcm AS (
        SELECT doc_id, {_MM_PCM_SQL} AS s
        FROM documents WHERE doc_id % 7 = 3
          AND text IS NOT NULL  -- NULL payload = no media (plan filter)
    ), win AS (
        SELECT doc_id, CAST(w AS INT) AS window_no,
               s[(w * 4) + 1 : (w * 4) + 8] AS x
        FROM pcm, unnest([0, 1, 2]) AS t(w)
    )
    SELECT doc_id, window_no,
           CAST(list_sum(list_transform(x, v -> abs(v))) AS BIGINT)
               AS sum_abs,
           CAST(list_max(list_transform(x, v -> abs(v))) AS BIGINT)
               AS peak,
           CAST(list_sum(list_transform(x, v -> v * v)) AS BIGINT)
               AS energy,
           md5(array_to_string(x, ',')) AS window_md5
    FROM win
    """,
)
def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode → overlapping window framing → per-window
    features (sum|x|, peak, energy, fingerprint): 16 fake-PCM
    samples framed as 8-sample windows at hop 4 → 3 windows per
    payload. The codec is the documented deterministic stand-in
    (operators/multimodal.py seam — same contract as image/video);
    framing, integer feature math, batch shape and schema are the
    production path, oracle-checked.
    """
    from metadata_wrangler_spark.operators import multimodal
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 3)
    payloads = docs.select(
        "doc_id",
        F.encode(F.concat(F.lit("FAKEAU"), F.col("text")), "UTF-8")
        .alias("payload"),
    )
    return multimodal.audio_window_features(payloads)


# ---------------------------------------------------------------------------
# dedup: maximal duplicated spans (exact-substring dedup)
# ---------------------------------------------------------------------------

_SPAN_L = 8  # duplicated-window length, in words


@register(
    "dd_span_dedup",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ), wins AS (
        SELECT doc_id, i AS start,
               md5(concat_ws('_', w[i], w[i+1], w[i+2], w[i+3],
                                  w[i+4], w[i+5], w[i+6], w[i+7])) AS fp
        FROM words, unnest(generate_series(1, len(w) - 7)) AS t(i)
    ), dup AS (
        SELECT fp FROM wins GROUP BY fp HAVING COUNT(*) >= 2
    ), hits AS (
        SELECT doc_id, start FROM wins JOIN dup USING (fp)
    ), brk AS (
        SELECT doc_id, start,
               CASE WHEN start - lag(start) OVER (
                        PARTITION BY doc_id ORDER BY start)
                    <= {_SPAN_L} THEN 0 ELSE 1 END AS new_span
        FROM hits
    ), grp AS (
        SELECT doc_id, start,
               SUM(new_span) OVER (PARTITION BY doc_id ORDER BY start)
                   AS span_no
        FROM brk
    )
    SELECT doc_id, CAST(span_no AS BIGINT) AS span_no,
           MIN(start) AS span_start,
           MAX(start) + {_SPAN_L - 1} AS span_end,
           MAX(start) + {_SPAN_L} - MIN(start) AS span_words,
           COUNT(*) AS n_windows
    FROM grp GROUP BY doc_id, span_no
    """,
)
def dd_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (the distributed re-expression of
    Lee et al. 2021's suffix-array dedup, "Deduplicating Training
    Data Makes Language Models Better"): every overlapping 8-word
    window is fingerprinted; windows whose fingerprint occurs >= 2
    times anywhere in the corpus (cross-document OR internal
    repetition) are duplicated; per document, overlapping-or-abutting
    duplicated windows merge (gaps-and-islands) into MAXIMAL spans
    with their word extents — the rows a train-prep job would cut
    out of the text, rather than dropping whole documents.

    Scale shape: the stride-1 explode is ~L x input tokens — the
    price of exact-substring semantics (the suffix array pays the
    same) — then ONE fp shuffle with a count-over-partition for
    window frequency (no second pass over the explode), and a
    PER-DOCUMENT window for the island merge (partitioned by doc_id:
    no global sort, no SinglePartition). At 100 TB the frequency
    side drops to a Bloom filter (BFF-style) probed map-side; the
    island merge is unchanged.
    """
    # widen: the single-file local scan is 5 splits; the explode+hash
    # below is the CPU, so spread it across all cores (no-op at scale
    # where the scan already has more splits than cores).
    docs = widen(spark, load(spark, sf_dir, "documents"))
    # with_words materializes the split behind a projection barrier —
    # the inline spelling re-ran normalize+split once per slice()
    # inside the transform (CollapseProject): 7.5 s → ~1 s at sf0.1.
    wd = dedup.with_words(docs, "doc_id", "text")
    w = F.col("w")
    L = _SPAN_L
    starts = F.when(
        F.size(w) >= L, F.sequence(F.lit(1), F.size(w) - (L - 1))
    ).otherwise(F.array().cast("array<int>"))
    # Fingerprint = xxhash64 over the word-array slice directly: no
    # concat_ws string build, no 32-byte hex digest — the fingerprint
    # never leaves this plan, only its equality classes matter, and
    # those are identical to the oracle's md5-over-concat (same
    # window words ⟺ same key; 64-bit collision odds at ~10^6
    # windows ≈ 10^-7, and any collision would be deterministic and
    # caught by the cross-engine hash gate).
    wins = wd.select(
        F.col("id").alias("doc_id"),
        F.explode(
            F.transform(
                starts,
                lambda s: F.struct(
                    s.alias("start"),
                    F.xxhash64(F.slice(w, s, L)).alias("fp"),
                ),
            )
        ).alias("win"),
    ).select("doc_id", "win.start", "win.fp")
    # Window-count over fp instead of groupBy+self-join: the join
    # spelling computed the explode+hash `wins` subtree TWICE (the
    # aggregate side partial-aggregates before its exchange, so the
    # two exchanges don't unify for reuse). One count-over-partition
    # computes it once with the same single fp shuffle: 2.57 s ->
    # 1.04 s at sf0.1. At 100 TB the frequency side still drops to a
    # Bloom filter probed map-side (docstring below).
    hits = (
        wins.withColumn(
            "cnt", F.count(F.lit(1)).over(W.partitionBy("fp"))
        )
        # scale: semantic-multiplicity — >=2 IS "duplicated span".
        .where(F.col("cnt") >= 2)
        .select("doc_id", "start")
    )
    by_pos = W.partitionBy("doc_id").orderBy("start")
    brk = hits.withColumn(
        "new_span",
        F.when(F.col("start") - F.lag("start").over(by_pos) <= L, 0)
        .otherwise(1),
    )
    grp = brk.withColumn(
        "span_no", F.sum("new_span").over(by_pos).cast("bigint")
    )
    return grp.groupBy("doc_id", "span_no").agg(
        F.min("start").alias("span_start"),
        (F.max("start") + (L - 1)).alias("span_end"),
        (F.max("start") + L - F.min("start")).alias("span_words"),
        F.count(F.lit(1)).alias("n_windows"),
    )


# ---------------------------------------------------------------------------
# text analysis: bigram-LM surprisal (CCNet-style quality filter)
# ---------------------------------------------------------------------------


@register(
    "txt_lm_surprisal",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ), big AS (
        SELECT doc_id, w[i] AS pfx, concat(w[i], '_', w[i+1]) AS bg
        FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i)
    ), bgc AS (
        SELECT bg, COUNT(*) AS c2 FROM big GROUP BY bg
    ), pfc AS (
        SELECT pfx, COUNT(*) AS c1 FROM big GROUP BY pfx
    )
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(length(bin(p.c1)) - length(bin(g.c2))) AS BIGINT)
               AS sum_surprisal,
           (1000000 * CAST(SUM(length(bin(p.c1)) - length(bin(g.c2)))
                           AS BIGINT)) // COUNT(*)
               AS mean_surprisal_ppm
    FROM big b JOIN bgc g USING (bg) JOIN pfc p USING (pfx)
    GROUP BY b.doc_id
    """,
)
def txt_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring (the CCNet / Wenzek et al. 2020
    pattern: score each document by a language model trained on the
    corpus, flag the high-perplexity tail): a bigram LM is fit on the
    corpus itself (bigram + prefix counts), and each document's mean
    per-token surprisal ~ log2 P(w2|w1)^-1 is computed as the
    INTEGER log2 bucket `bitlen(c_prefix) - bitlen(c_bigram)` — a
    libm-free surprisal within +-1 bit of exact, so the score is
    bit-reproducible across engines and partitionings (the repo's
    standing rule for cross-engine aggregates; `bin()` exists in both
    dialects).

    Scale shape: one stride-1 bigram explode, two hash-aggregates for
    the count tables (bounded by vocabulary size, orders of magnitude
    below the corpus), and two equi-joins back. At 100 TB the Zipf
    head of both count tables broadcasts and only the long tail
    shuffles — the joins are on high-entropy string keys either way.
    """
    docs = widen(spark, load(spark, sf_dir, "documents"))
    # with_words puts the split+regex behind a projection barrier;
    # the inline spelling re-ran normalize_text once per element_at
    # inside the transform lambda (CollapseProject) — measured 19 s
    # vs 1.4 s at sf0.1 for this very plan.
    wd = dedup.with_words(docs, "doc_id", "text")
    w = F.col("w")
    starts = F.when(
        F.size(w) >= 2, F.sequence(F.lit(1), F.size(w) - 1)
    ).otherwise(F.array().cast("array<int>"))
    big = wd.select(
        F.col("id").alias("doc_id"),
        F.explode(
            F.transform(
                starts,
                lambda s: F.struct(
                    F.element_at(w, s).alias("pfx"),
                    F.concat_ws(
                        "_", F.element_at(w, s), F.element_at(w, s + 1)
                    ).alias("bg"),
                ),
            )
        ).alias("t"),
    ).select("doc_id", "t.pfx", "t.bg")
    # Count tables as windows, not aggregate+join-back: the join
    # spelling computed the bigram explode THREE times (once per
    # count table, once for the probe side — the partial aggregates
    # block exchange reuse). Two count-over-partition windows keep
    # one explode and the same two shuffles (1.12 -> 0.76 s at
    # sf0.1). The 100 TB plan is unchanged: both windows partition
    # on high-entropy vocab keys, no SinglePartition anywhere; the
    # Zipf-head hot keys are exactly as hot as they were as join
    # keys, and AQE skew-split applies to the sort-window shuffle
    # the same way.
    bitlen = lambda c: F.length(F.bin(c))  # noqa: E731
    scored = (
        big
        .withColumn("c2", F.count(F.lit(1)).over(W.partitionBy("bg")))
        .withColumn("c1", F.count(F.lit(1)).over(W.partitionBy("pfx")))
        .select("doc_id", (bitlen(F.col("c1")) - bitlen(F.col("c2"))).alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("s").cast("bigint").alias("sum_surprisal"),
        F.expr("1000000 * CAST(SUM(s) AS BIGINT) DIV COUNT(*)")
        .alias("mean_surprisal_ppm"),
    )


# ---------------------------------------------------------------------------
# dedup: cluster-representative selection (the keep/drop policy step)
# ---------------------------------------------------------------------------


@register(
    "dd_cluster_keep",
    oracle=f"""
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
        SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node
    ),
    everyone AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               d.n_chars
        FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, cluster_id, n_chars AS quality,
           CAST(CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY cluster_id
                    ORDER BY n_chars DESC, doc_id ASC) = 1
                THEN 1 ELSE 0 END AS INT) AS kept
    FROM everyone
    """,
)
def dd_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POLICY step of near-dup dedup: given MinHash-LSH
    duplicate clusters (dd_minhash_clusters), keep exactly one
    representative per cluster — the highest-quality member
    (longest document, ties to the smallest doc_id) — and mark the
    rest dropped. Documents in no cluster are their own
    representatives. This is the row-level keep/drop verdict a
    training-mix builder consumes (vs dd_minhash_clusters, which
    stops at the cluster assignment).

    Scale shape: the LSH pair join and checkpointed label
    propagation are the measured scale paths (see
    dd_minhash_clusters); the selection itself is one left join of
    the corpus against the (much smaller) cluster map plus a window
    partitioned by cluster_id — no global sort, and cluster sizes
    are bounded by true duplicate multiplicity.
    """
    from metadata_wrangler_spark.operators import closure

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    cc = closure.connected_components(pairs, src="id_a", dst="id_b")
    comp = cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    everyone = docs.select("doc_id", "n_chars").join(
        comp, "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        "n_chars",
    )
    by_quality = W.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return everyone.select(
        "doc_id", "cluster_id", F.col("n_chars").alias("quality"),
        F.when(F.row_number().over(by_quality) == 1, 1).otherwise(0)
        .cast("int").alias("kept"),
    )


# ---------------------------------------------------------------------------
# decontamination tier 2: per-document contamination FRACTION
# ---------------------------------------------------------------------------


@register(
    "txt_contamination_frac",
    oracle=f"""
    WITH ws AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    tr AS (
        SELECT doc_id, unnest({_shingles_sql(_DECON_N)}) AS sh
        FROM ws WHERE NOT ({_DECON_EVAL_PRED})
    ),
    evs AS (
        SELECT DISTINCT unnest({_shingles_sql(_DECON_N)}) AS sh
        FROM ws WHERE {_DECON_EVAL_PRED}
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_windows FROM tr GROUP BY doc_id),
    hit AS (
        SELECT t.doc_id, COUNT(*) AS n_hits
        FROM tr t JOIN evs USING (sh) GROUP BY t.doc_id
    )
    SELECT h.doc_id, tot.n_windows, h.n_hits,
           (1000000 * h.n_hits) // tot.n_windows AS contamination_ppm
    FROM hit h JOIN tot USING (doc_id)
    """,
)
def txt_contamination_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination FRACTION: the share of a training
    document's {_DECON_N}-gram windows (counted with multiplicity)
    that appear anywhere in the held-out eval slice — the graded
    score real decontamination policies threshold on (GPT-3's
    appendix-C style "dirtiness"), vs dd_decontaminate's per-PAIR
    collision count. Only contaminated docs (>=1 hit) are emitted;
    the fraction is exact ppm integer arithmetic.

    Scale shape: identical to dd_decontaminate — the eval shingle
    set is distinct-reduced and BROADCAST (benchmark suites are MBs
    against a 100 TB corpus), so the sweep is ONE training-corpus
    scan. Round 10: that scan is now the fused Arrow kernel
    `operators/dedup.contamination_counts` — normalization stays the
    identical JVM projection, then window construction and the
    eval-set probe run in C++ (`binary_join_element_wise` + a
    per-process-cached hash index) instead of the shingle-explode +
    broadcast-join + per-doc aggregate, whose per-window JVM string
    build dominated the sf10 wall at 2.5x the oracle. The join
    spelling is kept below (`_contamination_frac(arrow_kernel=False)`)
    and the tiers are row-identical by test — the kernel probes the
    SAME distinct eval-shingle strings, counts windows with the same
    multiplicity, and both sides rely on the same broadcast-bounded
    eval contract.
    """
    return _contamination_frac(spark, sf_dir)


def _contamination_frac(
    spark: SparkSession, sf_dir: str, arrow_kernel: bool = True
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ev = docs.where(F.expr(_DECON_EVAL_PRED))
    tr_docs = docs.where(~F.expr(_DECON_EVAL_PRED))
    evs = (
        dedup.distinct_shingles(ev, "doc_id", "text", _DECON_N)
        .select("sh")
        .distinct()
    )
    if arrow_kernel:
        return dedup.contamination_counts(
            tr_docs, evs.toArrow().column("sh"), n=_DECON_N
        ).select(
            "doc_id", "n_windows", "n_hits",
            F.expr("(1000000 * n_hits) DIV n_windows")
            .alias("contamination_ppm"),
        )
    tr = dedup.with_words(tr_docs, "doc_id", "text").select(
        "id", F.explode(dedup.shingles(_DECON_N)).alias("sh")
    )
    return (
        tr.join(F.broadcast(evs.withColumn("_hit", F.lit(1))), "sh", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count("_hit").alias("n_hits"),
        )
        .where(F.col("n_hits") >= 1)
        .select(
            F.col("id").alias("doc_id"),
            "n_windows",
            "n_hits",
            F.expr("(1000000 * n_hits) DIV n_windows")
            .alias("contamination_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# stratified train/val/test split assignment
# ---------------------------------------------------------------------------

_SPLIT_VAL_PCT = 5    # 5% validation
_SPLIT_TEST_PCT = 10  # next 10% test, remainder train


@register(
    "txt_split_assign",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN 100 * rn <= {_SPLIT_VAL_PCT} * n THEN 'val'
                WHEN 100 * rn <= {_SPLIT_VAL_PCT + _SPLIT_TEST_PCT} * n
                    THEN 'test'
                ELSE 'train' END AS split
    FROM r
    """,
)
def txt_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test assignment: within
    each language stratum, documents are ordered by the md5 of
    their id (a seedless, engine-portable shuffle) and the first 5%
    become validation, the next 10% test, the rest train. Exact
    per-stratum proportions — unlike independent Bernoulli gates,
    which only hit the target fraction in expectation and can
    starve small strata — and stable under reruns and engine moves,
    the property a reproducible data recipe needs.

    Scale shape: the per-stratum rank rides the GROUPED
    range-bucketed prefix operator (operators/prefix.py — strata
    are a handful of languages over ALL documents, so a plain
    partitionBy(lang) window would hand one task an entire
    stratum to sort); stratum sizes come from a broadcast
    aggregate. The assignment rule itself is unchanged — it only
    needs rank and stratum size.
    """
    from metadata_wrangler_spark.operators.prefix import global_order_stats

    docs = load(spark, sf_dir, "documents")
    r = global_order_stats(
        docs.select(
            "doc_id", "lang",
            F.md5(F.col("doc_id").cast("string")).alias("__h"),
        ),
        [F.asc("__h"), F.asc("doc_id")],
        group_cols=["lang"], rank_col="rn", total_col="n",
    )
    return r.select(
        "doc_id",
        "lang",
        F.when(100 * F.col("rn") <= _SPLIT_VAL_PCT * F.col("n"), "val")
        .when(
            100 * F.col("rn")
            <= (_SPLIT_VAL_PCT + _SPLIT_TEST_PCT) * F.col("n"),
            "test",
        )
        .otherwise("train")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# cross-source overlap matrix (corpus curation)
# ---------------------------------------------------------------------------

#: (applicationId, sf_dir) -> persisted per-shingle source-basket
#: frame. Vocab-sized (one row per distinct shingle; payload bounded
#: by |sources|), so MEMORY_AND_DISK persistence is safe at any SF.
#: Same eviction contract as plans/graph.py::_BASKET_CACHE: one
#: sf_dir's frame lives per application; switching scales evicts.
_OVERLAP_CACHE: dict = {}


def clear_overlap_cache() -> None:
    """Unpersist and drop the memoized overlap baskets. Bench/test
    harnesses iterating sf ladders call this between scales."""
    for df in _OVERLAP_CACHE.values():
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
    _OVERLAP_CACHE.clear()


def _overlap_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _OVERLAP_CACHE.get(key)
    if hit is not None:
        return hit
    stale = [k for k in _OVERLAP_CACHE if k[0] == key[0] and k[1] != sf_dir]
    for k in stale:
        try:
            _OVERLAP_CACHE.pop(k).unpersist()
        except Exception:
            pass
    docs = widen(spark, load(spark, sf_dir, "documents"))
    baskets = (
        dedup.with_words(
            docs.select(F.col("source").alias("id_src"), "text"),
            "id_src", "text",
        )
        .select(F.col("id").alias("source"),
                F.explode(F.array_distinct(dedup.shingles(3))).alias("f"))
        .groupBy("f")
        .agg(F.sort_array(F.collect_set("source")).alias("s"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _OVERLAP_CACHE[key] = baskets
    return baskets


@register(
    "dd_source_overlap",
    oracle=f"""
    WITH ws AS (SELECT source, {_WORDS_SQL} AS w FROM documents),
    fp AS (
        SELECT DISTINCT source, unnest({_SHINGLES_SQL}) AS f FROM ws
    ),
    per AS (SELECT source, COUNT(*) AS n FROM fp GROUP BY source),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT s.src_a, s.src_b, s.n_shared,
           pa.n AS n_a, pb.n AS n_b,
           (1000000 * s.n_shared) // least(pa.n, pb.n)
               AS containment_ppm
    FROM shared s
    JOIN per pa ON pa.source = s.src_a
    JOIN per pb ON pb.source = s.src_b
    """,
)
def dd_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair overlap matrix: for every pair of ingestion
    sources, how many distinct 3-gram shingles they share, as a
    containment fraction of the smaller source's shingle set (exact
    ppm) — the corpus-curation census that decides which feeds are
    near-mirrors of each other and which earn independent trust
    (the reference weighs data sources the same way, `model.py`
    DataSource weights). Shingle-level rather than whole-document
    fingerprints so partial mirroring registers too (whole-doc
    exact overlap is dd_exact_groups' domain and is zero on feeds
    that rewrap content).

    Scale shape (round-8 rewrite, 2.3 -> ~1.6 s at sf1, the rest is
    the per-stage scheduling floor): ONE pass over the corpus.
    Exploded shingles aggregate straight into per-shingle source
    baskets — collect_set's map-side partial dedups (source, f)
    before the shuffle, so the old separate repartition+dropDuplicates
    stage (which shuffled RAW shingle instances, defeating the
    partial) is gone, and the (source, shingle) projection the r7
    verdict saw built twice is never built at all. The basket table
    is vocab-sized (one row per distinct shingle, payload bounded by
    |sources|) and is PERSISTED, so the two downstream consumers —
    pair counts and per-source totals (now derived by exploding the
    baskets, not by re-reading the corpus) — share the single corpus
    scan at any SF. Eviction mirrors plans/graph.py's basket cache:
    entering a new sf_dir unpersists the old scale's frame.
    Never all-pairs on documents. At 100 TB the shingle set drops
    to a per-source KMV sketch (a_kmv_set_ops shows the plumbing)
    for an estimated matrix at a fraction of the shuffle.
    """
    baskets = _overlap_baskets(spark, sf_dir)
    per = (
        baskets.select(F.explode("s").alias("source"))
        .groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = baskets.select(
        F.explode(F.flatten(F.expr(
            "transform(s, (x, i) -> transform("
            "slice(s, i + 2, size(s)), "
            "y -> struct(x AS src_a, y AS src_b)))"
        ))).alias("p")
    ).select("p.src_a", "p.src_b")
    shared = pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    return (
        shared.join(
            F.broadcast(per.select(F.col("source").alias("src_a"),
                                   F.col("n").alias("n_a"))), "src_a")
        .join(
            F.broadcast(per.select(F.col("source").alias("src_b"),
                                   F.col("n").alias("n_b"))), "src_b")
        .select(
            "src_a", "src_b", "n_shared", "n_a", "n_b",
            F.expr("(1000000 * n_shared) DIV least(n_a, n_b)")
            .alias("containment_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# boilerplate STRIP: the transform twin of txt_boilerplate_passages
# ---------------------------------------------------------------------------

_STRIP_CHUNK = 8
_STRIP_MIN_DOCS = 2


def _strip_oracle_sql() -> str:
    w8 = ", ".join(f"w[i + {k}]" if k else "w[i]"
                   for k in range(_STRIP_CHUNK))
    return f"""
    WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    chunks AS (
        SELECT doc_id, i,
               concat_ws(' ', {w8}) AS txt,
               md5(concat_ws('_', {w8})) AS fp
        FROM words,
             unnest(generate_series(1, len(w) - {_STRIP_CHUNK - 1},
                                    {_STRIP_CHUNK})) AS t(i)
    ),
    boiler AS (
        SELECT fp FROM chunks
        GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= {_STRIP_MIN_DOCS}
    ),
    agg AS (
        SELECT c.doc_id,
               COUNT(*) AS n_chunks,
               SUM(CASE WHEN b.fp IS NULL THEN 0 ELSE 1 END) AS n_dropped,
               string_agg(CASE WHEN b.fp IS NULL THEN c.txt END,
                          ' ' ORDER BY c.i) AS body
        FROM chunks c LEFT JOIN boiler b ON b.fp = c.fp
        GROUP BY c.doc_id
    )
    SELECT wd.doc_id,
           CAST(COALESCE(a.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(COALESCE(a.n_dropped, 0) AS BIGINT) AS n_dropped,
           trim(concat_ws(' ',
               COALESCE(a.body, ''),
               CASE WHEN len(wd.w) >= {_STRIP_CHUNK}
                    THEN array_to_string(
                        wd.w[(1 + {_STRIP_CHUNK}
                              * CAST((len(wd.w) - {_STRIP_CHUNK})
                                     // {_STRIP_CHUNK} AS BIGINT)
                              + {_STRIP_CHUNK}):len(wd.w)], ' ')
                    ELSE array_to_string(wd.w, ' ') END)) AS clean_text
    FROM words wd LEFT JOIN agg a USING (doc_id)
    """


@register("txt_boilerplate_strip", oracle=_strip_oracle_sql())
def txt_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of boilerplate removal: every document is
    re-emitted with its repeated passages cut out —
    txt_boilerplate_passages detects (chunk fingerprints in >=
    {_STRIP_MIN_DOCS} distinct docs, a lower bar than the
    detector's 3 because stripping wants recall), this one
    produces the cleaned text a training-prep job actually writes.
    Documents are cut into non-overlapping {_STRIP_CHUNK}-word
    chunks; surviving chunks re-join in order, and the sub-chunk
    tail (and any document shorter than one chunk) is always kept.

    Scale shape: the same stride-{_STRIP_CHUNK} explode as the
    detector (output tokens ~= input tokens), one DF hash-aggregate,
    one fingerprint equi-join back, then a PER-DOCUMENT ordered
    re-assembly (collect_list + array_sort within the doc's own
    group — bounded by document length, no cross-document state).
    The reassembled text shuffles once, keyed by doc_id.
    """
    docs = widen(spark, load(spark, sf_dir, "documents"))
    words = dedup.with_words(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), F.col("w")
    )
    L = _STRIP_CHUNK
    starts = F.sequence(F.lit(1), F.size("w") - (L - 1), F.lit(L))
    # fp = xxhash64 over the word slice: internal-only key (never in
    # the output), so the equality classes are all that matter —
    # identical to the oracle's md5-over-concat (see dd_span_dedup).
    chunks = (
        words.where(F.size("w") >= L)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    starts,
                    lambda s: F.struct(
                        s.alias("i"),
                        F.concat_ws(" ", F.slice("w", s, L)).alias("txt"),
                        F.xxhash64(F.slice("w", s, L)).alias("fp"),
                    ),
                )
            ).alias("c"),
        )
        .select("doc_id", "c.i", "c.txt", "c.fp")
    )
    # Distinct-doc count as windows over ONE explicit fp exchange,
    # not aggregate+join-back (the join spelling computed `chunks`
    # twice — same idiom as dd_span_dedup / txt_lm_surprisal).
    # HashPartitioning(fp) satisfies both window specs below, so no
    # further exchange. COUNT(DISTINCT doc_id) is spelled as
    # sum-of-first-flags — row_number marks each doc's first chunk
    # per fp, a sum over fp counts them — which stays spill-safe on
    # a boilerplate fingerprint shared by millions of docs (a
    # collect_set window would buffer that entire doc-id set per
    # row).
    flagged = (
        chunks.repartition("fp")
        .withColumn(
            "first_in_doc",
            F.when(
                F.row_number().over(
                    W.partitionBy("fp", "doc_id").orderBy("i")
                ) == 1,
                1,
            ).otherwise(0),
        )
        .withColumn(
            "nd", F.sum("first_in_doc").over(W.partitionBy("fp"))
        )
        .withColumn(
            "hit",
            F.when(F.col("nd") >= _STRIP_MIN_DOCS, F.lit(1)),
        )
    )
    agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("bigint")
        .alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("hit").isNull(),
                            F.struct(F.col("i"), F.col("txt")),
                        )
                    )
                ),
                lambda x: x["txt"],
            ),
            " ",
        ).alias("body"),
    )
    tail = F.when(
        F.size("w") >= L,
        F.array_join(
            F.slice(
                "w",
                1 + L * F.floor((F.size("w") - L) / L).cast("int") + L,
                F.size("w"),
            ),
            " ",
        ),
    ).otherwise(F.array_join("w", " "))
    return (
        words.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("bigint")
            .alias("n_chunks"),
            F.coalesce("n_dropped", F.lit(0)).cast("bigint")
            .alias("n_dropped"),
            F.trim(
                F.concat_ws(
                    " ", F.coalesce("body", F.lit("")), tail
                )
            ).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights (target-vs-raw hashed-LM log ratio)
# ---------------------------------------------------------------------------

_DSIR_TARGET_PRED = "lang = 'en'"  # the distribution we want more of


@register(
    "txt_dsir_weight",
    oracle=f"""
    WITH words AS (
        -- COALESCE: an unknown (NULL) language is NOT the target
        -- distribution — it belongs to the raw pool, same as the
        -- plan's when/otherwise(0) flag
        SELECT doc_id, COALESCE({_DSIR_TARGET_PRED}, FALSE) AS is_tgt,
               {_WORDS_SQL} AS w
        FROM documents
        WHERE text IS NOT NULL  -- NULL-payload rule shared with the plan
    ), big AS (
        SELECT doc_id, is_tgt, w[i] AS pfx,
               concat(w[i], '_', w[i+1]) AS bg
        FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i)
    ),
    tbg AS (SELECT bg, COUNT(*) AS c FROM big WHERE is_tgt GROUP BY bg),
    tpf AS (SELECT pfx, COUNT(*) AS c FROM big WHERE is_tgt GROUP BY pfx),
    rbg AS (SELECT bg, COUNT(*) AS c FROM big WHERE NOT is_tgt GROUP BY bg),
    rpf AS (SELECT pfx, COUNT(*) AS c FROM big WHERE NOT is_tgt
            GROUP BY pfx)
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(
               (length(bin(COALESCE(rp.c, 0)))
                - length(bin(COALESCE(rb.c, 0))))
               - (length(bin(COALESCE(tp.c, 0)))
                  - length(bin(COALESCE(tb.c, 0))))
           ) AS BIGINT) AS sum_weight,
           (1000000 * CAST(SUM(
               (length(bin(COALESCE(rp.c, 0)))
                - length(bin(COALESCE(rb.c, 0))))
               - (length(bin(COALESCE(tp.c, 0)))
                  - length(bin(COALESCE(tb.c, 0))))
           ) AS BIGINT)) // COUNT(*) AS mean_weight_ppm
    FROM big b
    LEFT JOIN tbg tb USING (bg) LEFT JOIN tpf tp USING (pfx)
    LEFT JOIN rbg rb USING (bg) LEFT JOIN rpf rp USING (pfx)
    WHERE NOT b.is_tgt
    GROUP BY b.doc_id
    """,
)
def txt_dsir_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): each
    raw (non-target) document is scored by log p_target(doc) -
    log p_raw(doc) under two hashed bigram LMs — one fit on the
    target slice ({_DSIR_TARGET_PRED}), one on the raw remainder —
    so resampling by this weight shifts the raw corpus toward the
    target distribution. Per bigram the log-ratio uses the same
    libm-free integer-log2 surrogate as txt_lm_surprisal
    (bitlen(prefix count) - bitlen(bigram count), with absent
    counts coalescing to 0 whose bin() length of 1 acts as add-one
    smoothing), so the weights are bit-reproducible across engines.

    Scale shape (round-10): the bigram stream aggregates ONCE, on
    the (prefix, bigram) pair key — all four LM count tables
    (target/raw x bigram/prefix) derive from that pair table by
    window summation over the vocabulary-bounded distinct pairs —
    and the scoring leg joins back once on the pair key. The Zipf
    head of the count table broadcasts at scale, and the raw corpus
    shuffles only its bigram stream, exactly like the surprisal
    plan it extends.
    """
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()  # NULL-payload rule
    )
    # projection barrier (see txt_lm_surprisal) + BOTH LMs' counts in
    # ONE aggregate per key via conditional sums — two joins back
    # instead of four, and the bigram explode evaluates three times
    # (two count legs + the scoring leg), not five.
    wd = dedup.with_words(docs, "doc_id", "text")
    w_ = F.col("w")
    starts = F.when(
        F.size(w_) >= 2, F.sequence(F.lit(1), F.size(w_) - 1)
    ).otherwise(F.array().cast("array<int>"))
    big = wd.join(
        F.broadcast(
            docs.select(
                "doc_id",
                # NULL lang is NOT the target distribution — raw pool
                F.coalesce(F.expr(_DSIR_TARGET_PRED), F.lit(False))
                .alias("is_tgt"),
            )
        ),
        wd.id == F.col("doc_id"),
    ).select(
        "doc_id",
        "is_tgt",
        F.explode(
            F.transform(
                starts,
                lambda s: F.struct(
                    F.element_at(w_, s).alias("pfx"),
                    F.concat_ws(
                        "_", F.element_at(w_, s), F.element_at(w_, s + 1)
                    ).alias("bg"),
                ),
            )
        ).alias("t"),
    ).select("doc_id", "is_tgt", "t.pfx", "t.bg")
    tgt_flag = F.when(F.col("is_tgt"), 1).otherwise(0)
    # Round-10 rewrite: ONE full-stream aggregation on the (pfx, bg)
    # PAIR key; the per-bg and per-pfx totals both derive from the
    # pair table by summation (integer sums are associative — the
    # counts are the exact values the separate groupBy("bg") /
    # groupBy("pfx") legs produced), computed as two window sums over
    # the vocabulary-bounded distinct-pair table. The bigram stream
    # is evaluated twice (pair leg + scoring leg) instead of three
    # times, shuffles once instead of twice, and the scoring leg
    # joins back ONCE on (pfx, bg) instead of once per key.
    pair = big.groupBy("pfx", "bg").agg(
        F.sum(tgt_flag).alias("t_c"),
        F.sum(1 - tgt_flag).alias("r_c"),
    )
    wb = W.partitionBy("bg")
    wp = W.partitionBy("pfx")
    cnt = pair.select(
        "pfx",
        "bg",
        F.sum("t_c").over(wb).alias("tb_c"),
        F.sum("r_c").over(wb).alias("rb_c"),
        F.sum("t_c").over(wp).alias("tp_c"),
        F.sum("r_c").over(wp).alias("rp_c"),
    )
    bitlen = lambda c: F.length(F.bin(F.coalesce(c, F.lit(0))))  # noqa: E731
    w = (
        big.where(~F.col("is_tgt"))
        .join(cnt, ["pfx", "bg"])
        .select(
            "doc_id",
            (
                (bitlen(F.col("rp_c")) - bitlen(F.col("rb_c")))
                - (bitlen(F.col("tp_c")) - bitlen(F.col("tb_c")))
            ).alias("wt"),
        )
    )
    return w.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("wt").cast("bigint").alias("sum_weight"),
        F.expr("(1000000 * CAST(SUM(wt) AS BIGINT)) DIV COUNT(*)")
        .alias("mean_weight_ppm"),
    )


# ---------------------------------------------------------------------------
# unigram self-LM entropy per source (corpus health / compressibility)
# ---------------------------------------------------------------------------


@register(
    "txt_unigram_entropy",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_WORDS_SQL}) AS w FROM documents
    ),
    c AS (SELECT source, w, COUNT(*) AS cw FROM tok GROUP BY source, w),
    n AS (SELECT source, SUM(cw) AS nt, COUNT(*) AS vocab FROM c
          GROUP BY source)
    SELECT c.source, CAST(n.nt AS BIGINT) AS n_tokens, n.vocab,
           CAST(SUM(c.cw * (length(bin(n.nt)) - length(bin(c.cw))))
                AS BIGINT) AS sum_bits,
           CAST((1000000 * CAST(SUM(c.cw * (length(bin(n.nt))
                                            - length(bin(c.cw)))) AS BIGINT))
                // n.nt AS BIGINT) AS mean_bits_ppm
    FROM c JOIN n USING (source)
    GROUP BY c.source, n.nt, n.vocab
    """,
)
def txt_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram self-entropy: the mean per-token surprisal
    of each source under its own unigram distribution — the
    corpus-health metric that flags template-generated or
    low-diversity feeds (low bits/token ≈ highly compressible)
    before they flood a training mix. Like txt_lm_surprisal, the
    log2 is the libm-free INTEGER bit-length surrogate
    (bitlen(N) - bitlen(c_w), within ±1 bit of -log2(c_w/N)), so
    the aggregate is bit-stable across engines — the repo's
    standing rule of never trusting two libms to round alike.

    Scale shape: one token explode, one (source, word) hash
    aggregate (vocabulary-bounded), one per-source rollup, one
    equi-join between them — map-side partials everywhere, no
    window, no quadratic step.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(F.split(dedup.normalize_text(F.col("text")), " "))
        .alias("w"),
    )
    c = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("cw"))
    n = c.groupBy("source").agg(
        F.sum("cw").alias("nt"), F.count(F.lit(1)).alias("vocab")
    )
    bits = F.col("cw") * (
        F.length(F.bin("nt")) - F.length(F.bin("cw"))
    )
    return (
        c.join(F.broadcast(n), "source")
        .groupBy("source", "nt", "vocab")
        .agg(
            F.sum(bits).cast("bigint").alias("sum_bits"),
            F.expr(
                "(1000000 * CAST(SUM(cw * (length(bin(nt))"
                " - length(bin(cw)))) AS BIGINT)) DIV nt"
            ).alias("mean_bits_ppm"),
        )
        .select(
            "source",
            F.col("nt").alias("n_tokens"),
            "vocab",
            "sum_bits",
            "mean_bits_ppm",
        )
    )


# ---------------------------------------------------------------------------
# mutual information between two metadata facets (feature dependence)
# ---------------------------------------------------------------------------


@register(
    "a_mutual_info",
    oracle="""
    WITH cxy AS (
        SELECT lang, source, COUNT(*) AS c_xy
        FROM documents GROUP BY lang, source
    ),
    cx AS (SELECT lang, SUM(c_xy) AS c_x FROM cxy GROUP BY lang),
    cy AS (SELECT source, SUM(c_xy) AS c_y FROM cxy GROUP BY source),
    n AS (SELECT SUM(c_xy) AS nt FROM cxy)
    SELECT cxy.lang,
           CAST(cx.c_x AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(c_xy * (length(bin(c_xy * nt))
                            - length(bin(c_x * c_y)))) AS BIGINT)
               AS sum_bits,
           CAST((1000000 * CAST(SUM(c_xy * (length(bin(c_xy * nt))
                                 - length(bin(c_x * c_y)))) AS BIGINT))
                // cx.c_x AS BIGINT) AS mi_bits_ppm
    FROM cxy
    JOIN cx USING (lang)
    JOIN cy USING (source)
    CROSS JOIN n
    GROUP BY cxy.lang, cx.c_x
    """,
)
def a_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mutual-information contribution between the lang
    and source facets — the information-theoretic dependence measure
    next to a_chi2_independence's frequency test: bits of
    information each language's source mix carries over the
    corpus-wide source distribution (≈0 for a language drawn from
    the global mix; large when a language is concentrated in a few
    feeds — the training-mix imbalance a curriculum needs to know
    about). Pointwise log2(c_xy·N / (c_x·c_y)) uses the INTEGER
    bit-length surrogate (bitlen(a) − bitlen(b) is within ±1 bit of
    log2(a/b)) — the repo's standing rule of never trusting two
    libms to round alike.

    Scale shape: one (lang, source) hash aggregate over the corpus
    — cells bounded by |langs|×|sources|, map-side partials do the
    heavy lifting — then marginals and the grand total derive from
    the CELLS (tiny), broadcast back. No second pass over raw rows,
    no window.
    """
    docs = load(spark, sf_dir, "documents")
    cxy = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("c_xy")
    )
    cx = cxy.groupBy("lang").agg(F.sum("c_xy").alias("c_x"))
    cy = cxy.groupBy("source").agg(F.sum("c_xy").alias("c_y"))
    n = cxy.agg(F.sum("c_xy").alias("nt"))
    bits = F.col("c_xy") * (
        F.length(F.bin(F.col("c_xy") * F.col("nt")))
        - F.length(F.bin(F.col("c_x") * F.col("c_y")))
    )
    return (
        cxy.join(F.broadcast(cx), "lang")
        .join(F.broadcast(cy), "source")
        .crossJoin(F.broadcast(n))
        .groupBy("lang", "c_x")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.sum(bits).cast("bigint").alias("sum_bits"),
            F.expr(
                "CAST((1000000 * CAST(SUM(c_xy * (length(bin(c_xy * nt))"
                " - length(bin(c_x * c_y)))) AS BIGINT)) DIV c_x"
                " AS BIGINT)"
            ).alias("mi_bits_ppm"),
        )
        .select(
            "lang",
            F.col("c_x").cast("bigint").alias("n_docs"),
            "n_sources",
            "sum_bits",
            "mi_bits_ppm",
        )
    )


# ---------------------------------------------------------------------------
# language-ID evaluation: confusion matrix vs declared labels
# ---------------------------------------------------------------------------


@register(
    "txt_lang_confusion",
    oracle=f"""
    WITH pred AS ({_langid_oracle_sql().replace('SELECT doc_id,', 'SELECT doc_id,', 1)}),
    joined AS (
        SELECT d.lang, p.predicted_lang
        FROM documents d JOIN pred p USING (doc_id)
    ),
    cell AS (
        SELECT lang, predicted_lang, COUNT(*) AS n
        FROM joined GROUP BY lang, predicted_lang
    ),
    tot AS (SELECT lang, SUM(n) AS nl FROM cell GROUP BY lang)
    SELECT c.lang, c.predicted_lang, c.n,
           CAST((1000000 * c.n) // t.nl AS BIGINT) AS share_ppm,
           CAST(c.lang = c.predicted_lang AS BOOLEAN) AS is_correct
    FROM cell c JOIN tot t USING (lang)
    """,
)
def txt_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the marker-heuristic
    predictions (txt_language_id) censused against the corpus's
    declared labels — per (declared, predicted) cell counts and the
    row-share in exact ppm. This is the EVALUATION harness every
    classifier in the pipeline needs (the reference evaluates its
    own guessers the same way, e.g. VIAF candidate scoring): run it
    after swapping marker tables to see exactly which languages
    regressed.

    Scale shape: the per-doc scoring is one codegen pass (see
    txt_language_id); the matrix is a |langs|² hash aggregate with
    a broadcast row-total join. One corpus scan.
    """
    # carry=("lang",): the true label rides through the scoring scan,
    # so no join-back on doc_id — one scan, one |langs|² aggregate.
    docs = widen(spark, load(spark, sf_dir, "documents"))
    joined = textstats.language_id(docs, carry=("lang",)).select(
        "lang", "predicted_lang"
    )
    cell = joined.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cell.groupBy("lang").agg(F.sum("n").alias("nl"))
    return (
        cell.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "predicted_lang",
            "n",
            F.expr("(1000000 * n) DIV nl").alias("share_ppm"),
            (F.col("lang") == F.col("predicted_lang"))
            .alias("is_correct"),
        )
    )


# ---------------------------------------------------------------------------
# IDF-rarity document scoring (quality-mix signal)
# ---------------------------------------------------------------------------


@register(
    "txt_idf_rarity",
    oracle=f"""
    WITH t AS (
        SELECT DISTINCT doc_id, w FROM (
            SELECT doc_id, unnest({_WORDS_SQL}) AS w FROM documents
        ) x
    ), df AS (SELECT w, COUNT(*) AS dfw FROM t GROUP BY w),
    n AS (SELECT COUNT(*) AS nd FROM documents)
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(length(bin(nd)) - length(bin(dfw))) AS BIGINT)
               AS sum_bits,
           CAST((1000000 * CAST(SUM(length(bin(nd)) - length(bin(dfw)))
                                AS BIGINT)) // COUNT(*) AS BIGINT)
               AS rarity_ppm
    FROM t JOIN df USING (w) CROSS JOIN n
    GROUP BY t.doc_id
    """,
)
def txt_idf_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-IDF rarity score per document: how far a document's
    vocabulary sits from the corpus mainstream — high scorers are
    specialist/long-tail content worth up-weighting in a training
    mix, low scorers are boilerplate-adjacent (complements
    txt_quality_score's surface features and txt_dsir_weight's
    target-domain weighting with a corpus-relative signal). IDF is
    the INTEGER bit-length surrogate bitlen(N) − bitlen(df_w)
    (within ±1 bit of log2(N/df)) — no libm, bit-stable across
    engines.

    Scale shape: the per-document distinct happens JVM-side inside
    the row via ``array_distinct`` before the explode (the minhash
    convention, operators/dedup.py — doc_id is the document key, so
    within-row distinct IS the (doc, term) distinct and the global
    dropDuplicates shuffle of every token pair disappears). Term
    document frequencies are a vocabulary-sized hash aggregate; the
    join back on term carries no hint — AQE converts it to a
    broadcast when the vocabulary is small and leaves an equi-join
    when, at web scale, the df table is itself large. The final
    per-doc aggregate's map-side partials collapse to one row per
    document before the shuffle because a document's terms are
    emitted from a single input row. The corpus-size scalar is a
    1-row broadcast. (Round-10 rewrite: the dropDuplicates spelling
    paid a full 27M-token shuffle-dedup plus an 11.6M-pair hash join
    at sf10 — 2.9 s steady vs 1.8 s for this shape, row-identical.)
    """
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.split(dedup.normalize_text(F.col("text")), " ")
            )
        ).alias("w"),
    )
    df = t.groupBy("w").agg(F.count(F.lit(1)).alias("dfw"))
    n = docs.agg(F.count(F.lit(1)).alias("nd"))
    bits = F.length(F.bin("nd")) - F.length(F.bin("dfw"))
    return (
        t.join(df, "w")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum(bits).cast("bigint").alias("sum_bits"),
            F.expr(
                "CAST((1000000 * CAST(SUM(length(bin(nd))"
                " - length(bin(dfw))) AS BIGINT)) DIV COUNT(*)"
                " AS BIGINT)"
            ).alias("rarity_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# dedup estimation-error harness: MinHash estimate vs exact Jaccard
# ---------------------------------------------------------------------------


def _est_vs_exact_oracle_sql() -> str:
    """LSH candidate pairs scored twice — MinHash slot agreement and
    exact shingle Jaccard — and the estimation error between them."""
    n_eq = " + ".join(
        f"(CASE WHEN sa.mh_{k} = sb.mh_{k} THEN 1 ELSE 0 END)"
        for k in range(_NUM_HASHES)
    )
    return f"""
    WITH {_lsh_pairs_ctes()},
    sh AS (
        SELECT DISTINCT id, sh FROM (
            SELECT doc_id AS id, unnest({_SHINGLES_SQL}) AS sh
            FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents) t0
        ) t1
    ),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    shared AS (
        SELECT p.id_a, p.id_b, COUNT(*) AS n_shared
        FROM lsh_pairs p
        JOIN sh a ON a.id = p.id_a
        JOIN sh b ON b.id = p.id_b AND b.sh = a.sh
        GROUP BY 1, 2
    ),
    est AS (
        SELECT p.id_a, p.id_b, {n_eq} AS n_eq
        FROM lsh_pairs p
        JOIN sig sa ON sa.id = p.id_a
        JOIN sig sb ON sb.id = p.id_b
    ),
    scored AS (
        SELECT e.id_a, e.id_b,
               CAST((1000000 * e.n_eq) // {_NUM_HASHES} AS BIGINT)
                   AS est_ppm,
               CAST((1000000 * COALESCE(s.n_shared, 0))
                    // (za.n_sh + zb.n_sh - COALESCE(s.n_shared, 0))
                    AS BIGINT) AS exact_ppm
        FROM est e
        LEFT JOIN shared s ON s.id_a = e.id_a AND s.id_b = e.id_b
        JOIN sizes za ON za.id = e.id_a
        JOIN sizes zb ON zb.id = e.id_b
    )
    SELECT id_a, id_b, est_ppm, exact_ppm,
           abs(est_ppm - exact_ppm) AS abs_err_ppm
    FROM scored
    """


@register("dd_est_vs_exact", oracle=_est_vs_exact_oracle_sql())
def dd_est_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-estimated vs exact Jaccard on every LSH candidate
    pair — the dedup twin of sim_recall_eval: an approximate tier is
    only trustworthy with its estimation error measured on the pairs
    it actually surfaces (a biased estimator quietly drops true
    dups / keeps false ones at whatever threshold ops picked). Both
    scores come from the PRODUCTION operators (minhash_signatures,
    the hashed shingle table); error is exact integer ppm.

    Scale shape: candidate pairs are linear in true duplicates (the
    LSH contract); the signature join is pair-keyed against a
    16-column signature table, and the exact score reuses the
    candidate-bounded shingle join (never all-pairs). At 100 TB this
    runs as a SAMPLED audit (add a pair-hash gate) — the plan shape
    is unchanged.
    """
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS
    )
    sig = dedup.minhash_signatures(docs, num_hashes=_NUM_HASHES)
    sh, sizes = dedup._shingle_tables(docs, "doc_id", "text", 3)
    shared = (
        pairs.join(sh.alias("a"), pairs.id_a == F.col("a.id"))
        .join(
            sh.alias("b"),
            (F.col("b.id") == pairs.id_b)
            & (F.col("a.hp") == F.col("b.hp")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    n_eq = sum(
        F.when(
            F.col(f"sa.mh_{k}") == F.col(f"sb.mh_{k}"), 1
        ).otherwise(0)
        for k in range(_NUM_HASHES)
    )
    est = (
        pairs.join(sig.alias("sa"), pairs.id_a == F.col("sa.id"))
        .join(sig.alias("sb"), pairs.id_b == F.col("sb.id"))
        .select("id_a", "id_b", n_eq.alias("n_eq"))
    )
    za = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("sh_a"))
    zb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("sh_b"))
    scored = (
        est.join(shared, ["id_a", "id_b"], "left")
        .join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "id_a", "id_b",
            F.expr(f"CAST((1000000 * n_eq) DIV {_NUM_HASHES} AS BIGINT)")
            .alias("est_ppm"),
            F.expr(
                "CAST((1000000 * COALESCE(n_shared, 0))"
                " DIV (sh_a + sh_b - COALESCE(n_shared, 0)) AS BIGINT)"
            ).alias("exact_ppm"),
        )
    )
    return scored.withColumn(
        "abs_err_ppm", F.abs(F.col("est_ppm") - F.col("exact_ppm"))
    )


# ---------------------------------------------------------------------------
# tokenizer fertility audit (BPE-ish tokens per whitespace word, per lang)
# ---------------------------------------------------------------------------


@register(
    "txt_tokenizer_fertility",
    oracle=r"""
    WITH t AS (
        SELECT lang,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
               len(string_split(trim(regexp_replace(lower(text),
                   '\s+', ' ', 'g')), ' ')) AS n_ws
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe,
           CAST(SUM(n_ws) AS BIGINT) AS total_ws,
           CAST((1000000 * CAST(SUM(n_bpe) AS BIGINT))
                // CAST(SUM(n_ws) AS BIGINT) AS BIGINT)
               AS fertility_ppm
    FROM t GROUP BY lang
    """,
)
def txt_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens emitted per
    whitespace word — the compute-cost / vocabulary-fairness audit a
    multilingual training mix runs before fixing a token budget
    (high-fertility languages consume budget faster and are
    systematically under-trained if the mix is sized in raw tokens).
    Same pretokenizer regex as txt_bpe_token_count, aggregated per
    language in exact integer ppm.

    Scale shape: pure map-side regex counting into one
    language-keyed hash aggregate — map-side partials collapse the
    corpus before the shuffle; |langs| rows out.
    """
    from metadata_wrangler_spark.operators.dedup import normalize_text

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.size(F.regexp_extract_all(
            F.col("text"),
            F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0),
        )).alias("n_bpe"),
        F.size(F.split(normalize_text(F.col("text")), " ")).alias("n_ws"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bpe").cast("bigint").alias("total_bpe"),
        F.sum("n_ws").cast("bigint").alias("total_ws"),
        F.expr(
            "CAST((1000000 * CAST(SUM(n_bpe) AS BIGINT))"
            " DIV CAST(SUM(n_ws) AS BIGINT) AS BIGINT)"
        ).alias("fertility_ppm"),
    )


# ---------------------------------------------------------------------------
# n-gram novelty: how much of each document is first-seen content?
# ---------------------------------------------------------------------------


@register(
    "txt_ngram_novelty",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT id, sh FROM (
            SELECT doc_id AS id, unnest({_SHINGLES_SQL}) AS sh
            FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents) t0
        ) t1
    ), fo AS (SELECT sh, MIN(id) AS first_id FROM sh GROUP BY sh)
    SELECT sh.id AS doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN fo.first_id = sh.id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST((1000000 * SUM(CASE WHEN fo.first_id = sh.id
                                    THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM sh JOIN fo USING (sh)
    GROUP BY sh.id
    """,
)
def txt_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a document's
    distinct 3-gram shingles whose FIRST corpus occurrence (min
    doc id — in an ingest-ordered corpus, the earliest arrival) is
    this document. The diversity dial a data-mixing pipeline reads:
    near-1 novelty = fresh content worth keeping; near-0 = the
    document restates what the corpus already holds, the soft
    complement of the hard dedup tiers (dd_* report duplicate PAIRS;
    novelty grades every document on a continuous scale even when no
    single pair crosses a threshold).

    Scale design (round-10 credit-assignment spelling): every
    shingle awards its novelty credit to exactly ONE document — the
    min-id holder — so the per-shingle first-occurrence aggregate
    feeds a counter-sized `groupBy(id).count` and the 50M-row
    shingle table is never JOINED back to its own aggregate (the
    old spelling's join-back re-partitioned every shingle row
    against the min-id table; canonical sf10 A/B back-to-back:
    old 5.44 s/2.2x → this shape 2.50 s/1.1x, row-identical —
    the committed record in SCALE.md/BENCH_NOTES.md). The
    shingle table is cached once and read twice — the
    first-occurrence aggregate and a per-doc `groupBy(id).count`
    for shingle totals, whose map-side partials collapse to one row
    per document because a document's shingles are co-located (a
    per-row `size(shs)` spelling was measured and REJECTED: the
    second tokenize+shingle scan costs 2.4 s at sf10, more than the
    memory-speed cache read it replaces). Both aggregate outputs
    are per-doc-sized; their left join is AQE-broadcast at bench
    scale. The same `max_doc_freq` stop-shingle lever as the
    Jaccard tier applies if a boilerplate shingle ever dominates a
    hash partition (it only shifts work, never correctness: min-id
    is insensitive to bucket balance). Unlike the pairwise dedup
    tiers — where xxhash64 only gates CANDIDATES that are then
    re-scored exactly — here the equality class IS the result, so
    the key stays the raw shingle string: a hash collision would
    silently merge two shingles' min-id classes and shift n_novel.

    Measurement trap recorded in SCALE.md: `.count()` on the left
    join ELIMINATES the whole credit subtree (the aggregate's
    distinct keys prove the join row-preserving), so count-based
    probes flattered a two-scan spelling by 4.5 s — force full
    evaluation (agg over every column) when timing plans whose
    tails a count can prune.

    Reference: the wranglers' "have we already covered this
    identifier" freshness checks (`coverage_provider.py:79-92`)
    generalized from identifiers to content.
    """
    docs = load(spark, sf_dir, "documents")
    base = dedup.with_words(docs, "doc_id", "text").select(
        "id", F.array_distinct(dedup.shingles(3)).alias("shs")
    )
    # cached: feeds the first-occurrence aggregate AND the per-doc
    # totals — like the pairwise scorers' shingle table.
    sh = base.select("id", F.explode("shs").alias("s")).cache()
    nov = (
        sh.groupBy("s")
        .agg(F.min("id").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("nn"))
    )
    sizes = sh.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    return (
        sizes.join(nov, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.coalesce(F.col("nn"), F.lit(0)).cast("bigint")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm",
            F.expr("CAST((1000000 * n_novel) DIV n_shingles AS BIGINT)"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge step: the tokenizer-vocabulary induction primitive
# ---------------------------------------------------------------------------


@register(
    "txt_bpe_merge_step",
    oracle=f"""
    WITH w AS (
        SELECT unnest(string_split({_NORM_SQL}, ' ')) AS wd
        FROM documents
    ),
    p AS (
        SELECT substr(wd, i, 2) AS pair
        FROM w, unnest(generate_series(1, len(wd) - 1)) AS t(i)
        WHERE len(wd) >= 2
    )
    SELECT pair, COUNT(*) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT 20
    """,
)
def txt_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE (byte-pair encoding) MERGE STEP over the corpus: the
    frequency of every adjacent symbol pair inside word tokens, top
    20 by count with a deterministic tie order — the argmax of this
    table is exactly the pair a Sennrich-style tokenizer trainer
    merges next. txt_bpe_token_count APPLIES a tokenizer; this is
    the induction side: run it, merge the winner into one symbol,
    re-tokenize, repeat (the loop is a bounded driver iteration like
    operators/similarity.ivf_train — each step is one job and only
    the merged pair comes back to the driver).

    Scale design (round 11 — guide §4.2/§2.3, the same shape as
    ``ivf_partial_moments``): ONE Arrow pass
    (``textstats.bpe_pair_partials``) slices the in-word pairs in
    C++ and folds each task's batches into a bounded per-task count
    dict — the pair-vocabulary is |alphabet|², so the shuffle
    carries vocabulary-sized counters, never the per-position pair
    stream the old two-explode spelling fanned out (one row per
    character position). The final aggregate sums integer partials
    (associative — counts, and therefore the oracle hash, are
    unchanged). Top-k is TakeOrderedAndProject — no global sort, no
    single-partition window.

    Reference: the reference normalizes author/title tokens before
    matching (`oclc/classify.py:640-754`); subword induction is the
    modern continuation of that normalization stack.
    """
    from metadata_wrangler_spark.operators import textstats

    docs = load(spark, sf_dir, "documents")
    partials = textstats.bpe_pair_partials(docs, text_col="text")
    return (
        partials.groupBy("pair")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )
