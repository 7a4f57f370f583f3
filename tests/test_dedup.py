"""Dedup-tier tests on crafted near-duplicates: exact groups,
shingle Jaccard values, MinHash-LSH candidate recall, SimHash
Hamming pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators import dedup
from tests.conftest import rows


@pytest.fixture(scope="module")
def docs(spark):
    data = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The  quick  BROWN fox jumps over the lazy dog"),   # ws/case dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),     # near-dup of 1
        (4, "completely different text about spark engines"),
        (5, "completely different text about spark engines"),   # exact dup of 4
        (6, "one two three four five six seven eight nine"),
    ]
    return spark.createDataFrame(data, "doc_id bigint, text string")


def test_exact_groups_collapse_case_and_whitespace(docs):
    out = dedup.exact_dedup_groups(docs)
    got = {r["canonical_id"]: r["n_docs"] for r in out.collect()}
    assert got == {1: 2, 3: 1, 4: 2, 6: 1}


def test_ngram_jaccard_pair_value(docs):
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 4)
           for r in out.collect()}
    # doc1/doc2 normalize identically -> jaccard 1.0
    assert got[(1, 2)] == 1.0
    # doc1 vs doc3: 7 shingles each, 6 shared -> 6/8
    assert got[(1, 3)] == 0.75
    assert got[(4, 5)] == 1.0
    # doc2 normalizes to doc1's text, so (2,3) mirrors (1,3)
    assert got[(2, 3)] == 0.75
    assert set(got) == {(1, 2), (1, 3), (2, 3), (4, 5)}


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    out = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs            # identical signature
    assert (4, 5) in pairs
    assert (1, 3) in pairs            # near-dup: expect >=1 band collision
    assert (1, 6) not in pairs and (4, 6) not in pairs


def test_minhash_signature_identical_for_normalized_dups(docs):
    sig = dedup.minhash_signatures(docs, num_hashes=8)
    by_id = {r["id"]: tuple(r)[1:] for r in sig.collect()}
    assert by_id[1] == by_id[2]
    assert by_id[4] == by_id[5]
    assert by_id[1] != by_id[6]


def test_minhash_params_deterministic_and_in_range():
    p1 = dedup.minhash_params(16)
    p2 = dedup.minhash_params(16)
    assert p1 == p2
    for a, b in p1:
        assert 1 <= a < dedup.MINHASH_P
        assert 0 <= b < dedup.MINHASH_P
    assert len({ab for ab in p1}) == 16


def test_simhash_pairs_exact_dups_distance_zero(docs):
    out = dedup.simhash_pairs(docs, bits=32, bands=4, max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert got[(1, 2)] == 0
    assert got[(4, 5)] == 0
    # unrelated docs never surface
    assert (1, 6) not in got and (1, 4) not in got


def test_simhash_banding_is_pigeonhole_complete(spark):
    # any pair within Hamming <= bands-1 MUST be found; craft two
    # fingerprint-adjacent docs by checking the operator end to end
    # on texts differing by one rare word
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " lambda")],
        "doc_id bigint, text string",
    )
    fp = {r["id"]: r["simhash"]
          for r in dedup.simhash(docs, bits=32).collect()}
    ham = bin(fp[1] ^ fp[2]).count("1")
    pairs = dedup.simhash_pairs(docs, bits=32, bands=4, max_hamming=3)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    if ham <= 3:
        assert (1, 2) in found
    else:
        assert (1, 2) not in found


def test_decontaminate_flags_ngram_leak(spark):
    """A training doc that embeds an eval doc's 5-gram is flagged;
    unrelated training docs are not."""
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta"),   # leaks eval 10
            (2, "one two three four five six seven"),         # clean
        ],
        "doc_id bigint, text string",
    )
    eval_set = spark.createDataFrame(
        [
            (10, "intro words alpha beta gamma delta epsilon trailing"),
            (11, "totally disjoint benchmark content here okay"),
        ],
        "doc_id bigint, text string",
    )
    out = dedup.decontaminate_pairs(train, eval_set, n=5)
    got = {(r["train_id"], r["eval_id"]): r["n_shared"] for r in out.collect()}
    # "alpha beta gamma delta epsilon" is the one shared 5-gram
    assert got == {(1, 10): 1}


def test_decontaminate_counts_multiple_shared_ngrams(spark):
    train = spark.createDataFrame(
        [(1, "a b c d e f g")], "doc_id bigint, text string")
    eval_set = spark.createDataFrame(
        [(10, "a b c d e f zz")], "doc_id bigint, text string")
    # shared distinct 5-grams: "a b c d e", "b c d e f" -> 2
    out = dedup.decontaminate_pairs(train, eval_set, n=5)
    assert out.collect()[0]["n_shared"] == 2


def test_minhash_clusters_transitive_canonical(spark):
    """Near-dup chains collapse to one cluster with the min doc id as
    canonical, even when the endpoints never collide directly."""
    from metadata_wrangler_spark.operators import closure
    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tonight"),       # near-dup of 1
            (3, base + " tonight ok"),    # near-dup of 2
            (4, "completely different text about spark engines at scale"),
        ],
        "doc_id bigint, text string",
    )
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4)
    cc = closure.connected_components(pairs, src="id_a", dst="id_b")
    got = {r["node"]: r["component"] for r in cc.collect()}
    assert got.get(1) == 1 and got.get(2) == 1 and got.get(3) == 1
    assert 4 not in got          # no pair involves the unrelated doc


def test_incremental_exact_admits_only_unseen(spark):
    """New-batch docs whose canonical text already exists in the
    corpus are rejected; genuinely new content is admitted."""
    from pyspark.sql import functions as F
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "other corpus text")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "THE  quick   brown fox"),   # normalizes to doc 1 -> reject
            (11, "never seen before text"),   # admit
        ],
        "doc_id bigint, text string",
    )
    fp = F.md5(dedup.normalize_text(F.col("text")))
    out = (
        new.select("doc_id", fp.alias("fingerprint"))
        .join(corpus.select(fp.alias("fingerprint")), "fingerprint",
              "left_anti")
    )
    assert [r["doc_id"] for r in out.collect()] == [11]


def test_mixture_sample_rates_and_determinism(spark):
    """Stratified hash-gate sampling: 100% strata keep everything,
    0%/unknown strata keep nothing, and the gate is deterministic."""
    from pyspark.sql import functions as F
    docs = spark.createDataFrame(
        [(i, f"text {i}", "en" if i < 50 else "xx", "s") for i in range(100)],
        "doc_id bigint, text string, lang string, source string",
    )
    rates = {"en": 100}          # xx absent -> rate 0
    rate = F.lit(0)
    for lang, pct in rates.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    gate = dedup.md5_long(F.col("doc_id").cast("string")) % 100
    kept = docs.where(gate < rate)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == list(range(50))                    # all en, no xx
    ids2 = sorted(r["doc_id"] for r in kept.collect())
    assert ids2 == ids                               # deterministic


def test_containment_catches_doc_inside_doc(spark):
    """A short doc embedded in a boilerplate wrapper scores
    containment 1.0 while its Jaccard is diluted by the wrapper."""
    inner = "alpha beta gamma delta epsilon zeta"
    wrapper = ("header one two three four five six seven eight nine ten "
               + inner + " footer eleven twelve thirteen fourteen fifteen")
    docs = spark.createDataFrame(
        [(1, inner), (2, wrapper)], "doc_id bigint, text string")
    cont = {(r["id_a"], r["id_b"]): r["containment"]
            for r in dedup.ngram_containment_pairs(docs, threshold=0.9)
            .collect()}
    assert cont[(1, 2)] == 1.0
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []          # symmetric Jaccard misses the pair


def test_stop_shingle_pruning_drops_boilerplate_only_pairs(spark):
    """With max_doc_freq set, a pair overlapping ONLY in a ubiquitous
    boilerplate shingle vanishes from the candidates, while true
    near-dups keep their exact (full-set) Jaccard."""
    bp = "subscribe to our newsletter"          # in every doc
    docs = spark.createDataFrame(
        [
            (1, bp + " unique one content here now"),
            (2, bp + " unrelated two words entirely different"),
            (3, bp + " unique one content here now"),    # dup of 1
            (4, bp + " third separate body of text"),
        ],
        "doc_id bigint, text string",
    )
    unpruned = {(r["id_a"], r["id_b"]) for r in
                dedup.ngram_jaccard_pairs(docs, threshold=0.01).collect()}
    assert (1, 2) in unpruned                  # boilerplate-only pair
    pruned_rows = dedup.ngram_jaccard_pairs(
        docs, threshold=0.01, max_doc_freq=3).collect()
    pruned = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pruned_rows}
    assert (1, 2) not in pruned
    # the true dup survives with FULL-set jaccard (boilerplate
    # shingles still count toward the score)
    assert pruned[(1, 3)] == 1.0


# Non-ASCII case folding: dotted/dotless i, final sigma, ß and a
# titlecase digraph. The kernels fold with Python's str.lower, the
# SQL spellings with Spark's lower() under the pinned en_US JVM
# locale (session.py); the equivalence tests below pin that they agree.
_CASE_FOLD = "İSTANBUL ıi I ΣΑΣ Straße ǅ"


def test_minhash_kernel_matches_sql_spelling(spark):
    """The Arrow signature fold must be bit-identical to the SQL
    spelling the oracle mirrors — including whitespace/empty/NULL
    text, docs below the shingle width, multibyte codepoints, and
    under forced odd partitioning (per-partition segmented mins
    compose per document, never across)."""
    data = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The  quick  BROWN fox jumps over the lazy dog"),
        (3, None),
        (4, ""),
        (5, "two words"),                       # below n=3: no shingles
        (6, "  leading and trailing   spaces  "),
        (7, "tab\tand\nnewline separated words here"),
        (8, "naïve café déjà vu encore une fois"),   # multibyte
        (9, "a b c d e f g h i j k l m n o p q r s t"),
        (10, _CASE_FOLD),
    ]
    for nparts in (1, 3, 7):
        docs = spark.createDataFrame(
            data, "doc_id bigint, text string"
        ).repartition(nparts)
        kern = dedup.minhash_signatures(docs, num_hashes=8)
        sql = dedup.minhash_signatures_sql(docs, num_hashes=8)
        assert kern.exceptAll(sql).count() == 0
        assert sql.exceptAll(kern).count() == 0


def test_token_jaccard_blocked_matches_join_spelling(spark):
    """The block-local kernel must reproduce the equi-join-on-token
    oracle classes exactly: pairs share >=1 token within a block,
    scored |A∩B|/(|A|+|B|-|A∩B|), key_a < key_b — including NULL
    text/block rows (never pair), duplicate tokens (distinct sets),
    hot buckets, and any partitioning."""
    data = [
        (1, "B1", "red green blue"),
        (2, "B1", "red green blue"),          # identical set
        (3, "B1", "red green yellow"),        # 2/4 shared with 1
        (4, "B2", "red green blue"),          # other block: no pair w/ 1
        (5, "B1", None),                      # NULL text
        (6, None, "red green blue"),          # NULL block
        (7, "B1", "red red red green"),       # dup tokens -> {red, green}
        (8, "B1", "cyan"),                    # lonely token
        (9, "B2", "red green blue"),          # pairs with 4 only
        (10, "B3", _CASE_FOLD),
        (11, "B3", "istanbul ıi i σας strasse ǆ"),
    ]
    for nparts in (1, 3, 8):
        df = spark.createDataFrame(
            data, "k bigint, blk string, txt string"
        ).repartition(nparts)
        got = {
            (r["key_a"], r["key_b"]): round(r["jaccard"], 6)
            for r in dedup.token_jaccard_blocked(
                df, "k", "blk", "txt", threshold=0.0
            ).collect()
        }
        # reference: plain Spark join spelling
        tok = (df.where(F.col("txt").isNotNull() & F.col("blk").isNotNull())
                 .select("k", "blk",
                         F.explode(F.array_distinct(
                             F.split("txt", " "))).alias("w")))
        sizes = tok.groupBy("k").count().withColumnRenamed("count", "n")
        a = tok.alias("a"); b = tok.alias("b")
        shared = (a.join(b, (F.col("a.w") == F.col("b.w"))
                          & (F.col("a.blk") == F.col("b.blk"))
                          & (F.col("a.k") < F.col("b.k")))
                  .groupBy(F.col("a.k").alias("key_a"),
                           F.col("b.k").alias("key_b"))
                  .agg(F.count(F.lit(1)).alias("s")))
        ref_rows = (shared
                    .join(sizes.select(F.col("k").alias("key_a"),
                                       F.col("n").alias("na")), "key_a")
                    .join(sizes.select(F.col("k").alias("key_b"),
                                       F.col("n").alias("nb")), "key_b")
                    .select("key_a", "key_b",
                            (F.col("s") / (F.col("na") + F.col("nb")
                                           - F.col("s"))).alias("j"))
                    .collect())
        ref = {(r["key_a"], r["key_b"]): round(r["j"], 6) for r in ref_rows}
        assert got == ref, f"nparts={nparts}"
    assert (1, 3) in got and got[(1, 2)] == 1.0 and (1, 4) not in got


def test_token_jaccard_blocked_rejects_duplicate_keys(spark):
    """Keys must be unique: a key repeated within a block used to
    share one merged token set and score a (k, k) self-pair; it now
    fails loudly, naming the key."""
    df = spark.createDataFrame(
        [(1, "B1", "red green"), (1, "B1", "red blue"), (2, "B1", "red")],
        "k bigint, blk string, txt string",
    )
    with pytest.raises(Exception, match="key 1 repeats"):
        dedup.token_jaccard_blocked(df, "k", "blk", "txt", 0.0).collect()


def test_shingle_table_kernel_matches_jvm_spelling(spark):
    """The Arrow shingle pass must reproduce the JVM spelling's
    (id, n_sh) rows and 64-bit equality classes: same doc set (NULL/
    empty/short texts dropped), same distinct-shingle counts, and
    identical bucket partners — checked by comparing the pair
    outputs, which depend only on hp equality classes."""
    data = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The  quick  BROWN fox jumps over the lazy dog"),
        (3, None),
        (4, ""),
        (5, "two words"),
        (6, "tab\tand\nnewline separated words go here"),
        (7, "naïve café déjà vu encore une fois oui"),
        (8, "the quick brown fox jumps over the lazy cat"),
        (9, _CASE_FOLD),
    ]
    for nparts in (1, 4):
        docs = spark.createDataFrame(
            data, "doc_id bigint, text string"
        ).repartition(nparts)
        sh, _ = dedup._shingle_tables(docs, "doc_id", "text", 3)
        # (id, n_sh) rows must match the JVM derivation exactly
        ref_base = dedup.with_words(docs, "doc_id", "text").select(
            "id", F.array_distinct(dedup.shingles(3)).alias("shs")
        )
        ref = (ref_base.where(F.size("shs") > 0)
               .select("id", F.size("shs").alias("n_sh"),
                       F.explode("shs").alias("sh"))
               .select("id", "n_sh", F.xxhash64("sh").alias("hp")))
        got_counts = {(r["id"], r["n_sh"]): r["c"] for r in
                      sh.groupBy("id", "n_sh").count()
                      .withColumnRenamed("count", "c").collect()}
        ref_counts = {(r["id"], r["n_sh"]): r["c"] for r in
                      ref.groupBy("id", "n_sh").count()
                      .withColumnRenamed("count", "c").collect()}
        assert got_counts == ref_counts
        # equality classes: pair outputs agree between hash families
        got_pairs = {(r["id_a"], r["id_b"], r["n_shared"]) for r in
                     dedup._shared_counts_sized(sh).collect()}
        ref_pairs = {(r["id_a"], r["id_b"], r["n_shared"]) for r in
                     dedup._shared_counts_sized(ref).collect()}
        assert got_pairs == ref_pairs
