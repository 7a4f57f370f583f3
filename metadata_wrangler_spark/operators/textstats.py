"""Text-analysis operators for the training-data pipeline: token
counting, quality scoring, language-ID heuristic, fingerprinting.

Everything is built from JVM-side expressions (split/filter/length)
— at 100 TB these run inside whole-stage codegen with zero Python.
Token counting filters the word array (exact, handles consecutive
repeats — the padded replace-length trick undercounts 'the the the'
because non-overlapping matches consume the shared delimiter);
space-free scripts (zh) count marker SUBSTRINGS, since their text
never contains space-delimited tokens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators.arrow_stage import arrow_stage
from metadata_wrangler_spark.operators.dedup import normalize_text

# Tiny per-language marker vocabularies for the n-gram/stopword
# language-ID heuristic (SURVEY.md: language-ID as an engine op; the
# reference itself trusts upstream `language` fields, e.g.
# `oclc/classify.py:966`, so the heuristic is an LLM-pipeline add-on).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and"),
    "es": ("el", "la", "los"),
    "fr": ("le", "la", "les"),
    "de": ("der", "die", "und"),
    "zh": ("的", "是", "在"),
}
# Languages whose markers are counted as substrings (unsegmented
# scripts — their text never contains space-delimited tokens).
SUBSTRING_LANGS = frozenset({"zh"})


def count_token(words: Column, token: str) -> Column:
    """Exact occurrences of ``token`` in the word array."""
    return F.size(F.filter(words, lambda w: w == F.lit(token)))


def count_substring(text: Column, token: str) -> Column:
    """Occurrences of ``token`` as a substring — the counting rule
    for unsegmented scripts. Non-overlapping replace is exact here
    because no delimiter is shared between adjacent matches."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(token), F.lit(""))))
        / len(token)
    ).cast("int")


def token_stats(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-document token statistics: token count (whitespace), char
    count, mean token length, distinct-token ratio."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    return docs.select(
        F.col(id_col),
        F.size(words).alias("n_tokens"),
        F.length(F.col(text_col)).cast("bigint").alias("n_chars_actual"),
        (F.length(F.regexp_replace(normalize_text(F.col(text_col)), " ", ""))
         / F.size(words)).alias("mean_token_len"),
        (F.size(F.array_distinct(words)) / F.size(words)).alias("distinct_ratio"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Heuristic quality signals: length band, stopword ratio,
    repetition. Mirrors the length/stopword/punctuation family of
    filters used in large-scale corpus cleaning (C4/Gopher-style)."""
    norm = normalize_text(F.col(text_col))
    words = F.split(norm, " ")
    n_tokens = F.size(words)
    stop_hits = None
    for tok in ("the", "a", "and", "is", "of"):
        c = count_token(words, tok)
        stop_hits = c if stop_hits is None else (stop_hits + c)
    stopword_ratio = (stop_hits / n_tokens).alias("stopword_ratio")
    distinct_ratio = F.size(F.array_distinct(words)) / n_tokens
    return docs.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        stopword_ratio,
        distinct_ratio.alias("distinct_ratio"),
        (
            F.when(n_tokens < 10, 0.0)
            .otherwise(
                0.5 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
                + 0.5 * distinct_ratio
            )
        ).alias("quality"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                carry: tuple[str, ...] = ()) -> DataFrame:
    """Marker-word language-ID heuristic: count per-language marker
    hits, pick the argmax (ties broken by language code order).

    Emitted as a greatest/when cascade so the scoring is one codegen
    pass; at 100 TB swap markers for larger per-language tables
    without changing the plan shape.

    ``carry`` columns are passed through from the input, so a caller
    that needs the prediction NEXT TO another document column (e.g.
    the confusion matrix's true ``lang``) gets both from the single
    scan instead of joining back on ``id_col``.
    """
    # Materialize (norm, words) behind a Generate barrier FIRST: the
    # score expressions reference them once per marker AND reappear
    # inside greatest() and every when() clause, so the inline
    # spelling re-ran the normalize regex + split dozens of times per
    # row (CollapseProject — measured 3.0 s vs 0.6 at sf0.1 through
    # txt_lang_confusion).
    barrier = docs.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.explode(
            F.array(
                F.struct(
                    normalize_text(F.col(text_col)).alias("norm"),
                    F.split(normalize_text(F.col(text_col)), " ")
                    .alias("w"),
                )
            )
        ).alias("_t"),
    ).select(id_col, *carry, "_t.norm", "_t.w")
    norm = F.col("norm")
    words = F.col("w")

    def marker_count(lang: str, t: str) -> Column:
        if lang in SUBSTRING_LANGS:
            return count_substring(norm, t)
        return count_token(words, t)

    scores = {
        lang: sum(
            (marker_count(lang, t) for t in toks[1:]),
            start=marker_count(lang, toks[0]),
        )
        for lang, toks in LANG_MARKERS.items()
    }
    langs = sorted(scores)  # deterministic tie order
    # SECOND barrier: each per-language score is referenced again by
    # greatest(), twice per when() clause, and the output projection.
    # The lambda-bearing count expressions defeat codegen subexpr
    # elimination, so without the barrier every score was evaluated
    # ~|langs| times per row (the array-scan IS the cost). Behind it,
    # each score is one column read.
    scored = barrier.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.explode(
            F.array(F.struct(
                *[scores[lang].alias(f"score_{lang}") for lang in langs]
            ))
        ).alias("_s"),
    ).select(id_col, *carry, "_s.*")
    svals = {lang: F.col(f"score_{lang}") for lang in langs}
    best = F.greatest(*[svals[lang] for lang in langs])
    pred = None
    for lang in langs:
        clause = (svals[lang] == best, F.lit(lang))
        pred = F.when(*clause) if pred is None else pred.when(*clause)
    return scored.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        *[svals[lang].alias(f"score_{lang}") for lang in langs],
        F.when(best <= 0, F.lit("und")).otherwise(pred).alias("predicted_lang"),
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals: duplicate
    2-gram / 5-gram fractions (1 − distinct/total) and the
    top-2-gram fraction (share of all 2-grams taken by the most
    frequent one). NULL-text rows are excluded (NULL-payload rule).

    Zero-shuffle plan: every statistic here is WITHIN-document, so
    none of it needs an explode or an aggregate — the tokenizer runs
    once, both shingle arrays materialize behind a second projection
    barrier, and the top-2-gram frequency is a max-run-length fold
    over the SORTED 2-gram array (equal grams are adjacent after
    array_sort, so the longest run IS the mode count). The whole
    operator is scan → project → project: no exchange at any scale.
    Replaced the explode + two stacked hash-aggregates spelling —
    same results bit-for-bit, 1.47 s → 0.32 s at sf0.1.

    `keep` applies the repetition-filter rule: reject documents whose
    repetition exceeds the thresholds (values follow the Gopher rules'
    shape; tune per corpus).
    """
    from metadata_wrangler_spark.operators.dedup import shingles, with_words

    docs = docs.where(F.col(text_col).isNotNull())
    # Second barrier: g2/g5 are each referenced multiple times below
    # (size / array_distinct / array_sort); materialize them once
    # (the standing CollapseProject idiom).
    pre = with_words(docs, id_col, text_col).select(
        "id",
        F.explode(F.array(F.struct(
            shingles(2).alias("g2"), shingles(5).alias("g5")
        ))).alias("_a"),
    ).select("id", "_a.g2", "_a.g5")
    # Max run length over the sorted array. First-element edge case
    # is benign: with run=0, both IF branches yield 1.
    maxrun = F.expr(
        "aggregate(array_sort(g2),"
        " struct(CAST('' AS STRING) AS prev, 0 AS run, 0 AS best),"
        " (a, x) -> struct(x AS prev,"
        "                  IF(x = a.prev, a.run + 1, 1) AS run,"
        "                  GREATEST(a.best,"
        "                           IF(x = a.prev, a.run + 1, 1)) AS best),"
        " a -> a.best)"
    )
    per_doc = pre.select(
        "id",
        F.size("g2").alias("n2"),
        F.size(F.array_distinct("g2")).alias("d2"),
        F.size("g5").alias("n5"),
        F.size(F.array_distinct("g5")).alias("d5"),
        maxrun.alias("mx"),
    )
    empty2 = F.col("n2") <= 0
    out = per_doc.select(
        F.col("id").alias(id_col),
        F.col("n2").alias("n_2grams"),
        F.when(empty2, F.lit(0.0))
         .otherwise(1.0 - F.col("d2") / F.col("n2")).alias("dup_2gram_frac"),
        F.when(F.col("n5") <= 0, F.lit(0.0))
         .otherwise(1.0 - F.col("d5") / F.col("n5")).alias("dup_5gram_frac"),
        F.when(empty2, F.lit(0.0))
         .otherwise(F.col("mx") / F.col("n2")).alias("top_2gram_frac"),
    )
    keep = (
        (F.col("dup_2gram_frac") <= 0.6)
        & (F.col("dup_5gram_frac") <= 0.3)
        & (F.col("top_2gram_frac") <= 0.2)
    )
    return out.withColumn("keep", keep)


def fingerprint(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Stable document fingerprint: md5 of the canonical text plus a
    coarse locality key (first 5 normalized tokens) for blocking.
    NULL-text rows are excluded (the repo's NULL-payload rule; a
    null document has no fingerprint — and the engines disagree on
    md5-of-concat-of-NULL corner algebra anyway)."""
    docs = docs.where(F.col(text_col).isNotNull())
    norm = normalize_text(F.col(text_col))
    words = F.split(norm, " ")
    return docs.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
        F.md5(F.concat_ws(" ", F.slice(words, 1, 5))).alias("prefix_key"),
    )


# PII patterns for the scrubbing pass (C4-style corpus cleanup).
# Kept deliberately simple and portable: the same regex dialect runs
# in Spark and the DuckDB oracle.
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "PHONE": r"(\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ][0-9]{4}",
    "IP": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}
# Replacement order matters: IP before PHONE would still be safe, but
# PHONE must not run before EMAIL (digits inside an address are not a
# phone number) — scrub in the declared order.
PII_ORDER = ("EMAIL", "PHONE", "IP")


def pii_scrub(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Redact emails/phones/IPs to typed placeholder tokens and count
    what was removed — the standard pre-training privacy pass.

    Pure `regexp_replace`/`regexp_count` chains (codegen, one scan,
    no shuffle); patterns are intentionally conservative — at
    production scale swap in the full pattern set without changing
    the plan shape.
    """
    scrubbed = F.col(text_col)
    counts = []
    for kind in PII_ORDER:
        pat = PII_PATTERNS[kind]
        counts.append(
            F.regexp_count(scrubbed, F.lit(pat)).alias(f"n_{kind.lower()}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind}>")
    return docs.select(
        F.col(id_col),
        *counts,
        scrubbed.alias("scrubbed_text"),
    ).withColumn(
        "has_pii",
        (F.col("n_email") + F.col("n_phone") + F.col("n_ip")) > 0,
    )


def bpe_pair_partials(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(pair, n) per-task PARTIAL counts of every adjacent character
    pair inside word tokens — the fused-kernel twin of the
    words-explode + in-word-pair-explode + hash-aggregate spelling in
    plans/documents.txt_bpe_merge_step. Sum the partials by pair to
    get the exact global counts (associative integer sums).

    One Arrow pass: normalization stays the identical JVM projection
    (``normalize_text`` — tokenization semantics cannot drift), then
    the kernel splits on the single literal space normalization
    guarantees and slices the 2-codepoint pairs in C++
    (``utf8_slice_codeunits`` — codepoint-indexed, exactly Spark's
    character-based ``substring``), cascading the length filter so
    total slice work is Σ(len-1) = the pair count, never
    max_len × words. Each task folds its batches into ONE bounded
    dict (the pair vocabulary is |alphabet|²) and emits vocabulary-
    sized partials, so the shuffle feeding the final aggregation
    carries counters, never the per-position pair stream — map-side
    aggregation in the kernel itself (guide §2.3/§4.2, the same
    shape as ``similarity.ivf_partial_moments``).
    """
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    nt = docs.select(normalize_text(F.col(text_col)).alias("nt"))

    def fold(batches):
        counts: dict = {}
        for pdf in batches:
            arr = pa.array(pdf["nt"], type=pa.string())
            toks = pc.split_pattern(arr, " ")
            cur = toks.flatten()  # null docs contribute no tokens
            cur_lens = pc.utf8_length(cur)
            subs = []
            i = 0
            while True:
                mask = pc.greater_equal(cur_lens, i + 2)
                cur = cur.filter(mask)
                if not len(cur):
                    break
                cur_lens = cur_lens.filter(mask)
                subs.append(
                    pc.utf8_slice_codeunits(cur, start=i, stop=i + 2)
                )
                i += 1
            if not subs:
                continue
            vc = pa.chunked_array(subs).value_counts()
            for pair, n in zip(
                vc.field("values").to_pylist(),
                vc.field("counts").to_pylist(),
            ):
                counts[pair] = counts.get(pair, 0) + n
        if counts:
            yield pd.DataFrame(
                {"pair": list(counts), "n": list(counts.values())}
            )

    return arrow_stage(
        nt, "txt_bpe_pair_partials", "pair string, n long", fold, fold=True
    )
