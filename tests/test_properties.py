"""Property-based and degenerate-input tests.

Hypothesis generates the example sets up front and each property runs
as ONE Spark job over the whole batch (a per-example Spark job would
be ~100× slower for no extra coverage).
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators import dedup, textstats

# ---------------------------------------------------------------------------
# batched hypothesis properties
# ---------------------------------------------------------------------------

texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
    max_size=80,
)


def test_normalize_text_idempotent(spark):
    @settings(max_examples=1, deadline=None)
    @given(st.lists(texts, min_size=30, max_size=30))
    def run(samples):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(samples)], "id int, text string"
        )
        once = dedup.normalize_text(F.col("text"))
        twice = dedup.normalize_text(once)
        bad = df.where(~(twice.eqNullSafe(once))).count()
        assert bad == 0
    run()


def test_isbn10_to_13_checksum_property(spark):
    """For random 9-digit bodies, the engine's ISBN-13 matches the
    checksum computed independently in Python."""
    @settings(max_examples=1, deadline=None)
    @given(st.lists(st.integers(0, 10 ** 9 - 1), min_size=25, max_size=25))
    def run(bodies):
        def isbn10(body9: str) -> str:
            s = sum((i + 1) * int(d) for i, d in enumerate(body9))
            chk = s % 11
            return body9 + ("X" if chk == 10 else str(chk))

        def isbn13(isbn_10: str) -> str:
            core = "978" + isbn_10[:9]
            s = sum((1 if i % 2 == 0 else 3) * int(d)
                    for i, d in enumerate(core))
            return core + str((10 - s % 10) % 10)

        rows = []
        for i, b in enumerate(bodies):
            b9 = str(b).zfill(9)
            i10 = isbn10(b9)
            rows.append((i, i10, isbn13(i10)))
        df = spark.createDataFrame(rows, "id int, isbn10 string, want string")
        from metadata_wrangler_spark.functions.isbn import isbn10_to_13
        got = df.select("id", "want", isbn10_to_13(F.col("isbn10")).alias("got"))
        assert got.where(F.col("got") != F.col("want")).count() == 0
    run()


def test_jaccard_bounds_and_symmetry(spark):
    """Pair Jaccard is in (0, 1] and identical docs score exactly 1."""
    @settings(max_examples=1, deadline=None)
    @given(st.lists(st.lists(st.sampled_from("abcdefg"), min_size=3,
                             max_size=12), min_size=8, max_size=8))
    def run(docs):
        rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
        rows += [(100 + i, t) for i, (_, t) in enumerate(rows[:3])]  # dups
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = dedup.ngram_jaccard_pairs(df, threshold=0.0).collect()
        for r in out:
            assert 0.0 < r["jaccard"] <= 1.0
        exact = {(r["id_a"], r["id_b"]) for r in out
                 if r["jaccard"] == 1.0}
        for i in range(3):
            if len(docs[i]) >= 3:  # has at least one 3-gram
                assert (i, 100 + i) in exact
    run()


# ---------------------------------------------------------------------------
# degenerate inputs: empty tables in, empty (right-schema) out
# ---------------------------------------------------------------------------

def test_operators_accept_empty_input(spark):
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert dedup.exact_dedup_groups(empty).count() == 0
    assert dedup.ngram_jaccard_pairs(empty).count() == 0
    assert dedup.minhash_lsh_pairs(empty).count() == 0
    assert dedup.simhash_pairs(empty).count() == 0
    assert textstats.token_stats(empty).count() == 0
    assert textstats.repetition_stats(empty).count() == 0
    out = dedup.decontaminate_pairs(empty, empty)
    assert out.columns == ["train_id", "eval_id", "n_shared"]
    assert out.count() == 0


def test_closure_empty_and_self_loop(spark):
    from metadata_wrangler_spark.operators.closure import (
        connected_components, equivalent_ids)
    edges = spark.createDataFrame(
        [], "src bigint, dst bigint, strength double")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    out = equivalent_ids(edges, seeds, levels=3).collect()
    assert [(r["node"], r["level"]) for r in out] == [(1, 0)]
    # self-loop must not spin the label propagation
    loop = spark.createDataFrame([(5, 5)], "src bigint, dst bigint")
    cc = connected_components(loop).collect()
    assert [(r["node"], r["component"]) for r in cc] == [(5, 5)]


def test_asof_and_range_join_match_brute_force(spark, tmp_path):
    """The windowed as-of rewrite and the bucketed range-join rewrite
    must equal their O(n^2) definitions on adversarial small inputs
    (epoch collisions, bucket boundaries, users with no match)."""
    import datetime as dt

    from metadata_wrangler_spark.plans import QUERIES, load_all_plans

    load_all_plans()
    base = dt.datetime(2024, 1, 1)
    base_epoch = int(
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    )

    @settings(max_examples=1, deadline=None)
    @given(st.lists(
        st.tuples(st.integers(1, 3),          # user_id
                  st.integers(0, 200),        # epoch offset
                  st.sampled_from(["click", "purchase", "error", "view"])),
        min_size=40, max_size=40,
    ))
    def run(evs):
        rows = [(i, base + dt.timedelta(seconds=s), u, t, 1.0)
                for i, (u, s, t) in enumerate(evs)]
        sf = str(tmp_path / "prop")
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double",
        ).coalesce(1).write.mode("overwrite").parquet(
            sf + "/events.parquet"
        )
        ev = [(i, base_epoch + s, u, t) for i, (u, s, t) in enumerate(evs)]

        # brute-force as-of: latest click strictly before the
        # purchase in (epoch, event_id) order
        expect_asof = {}
        for i, ep, u, t in ev:
            if t != "purchase":
                continue
            clicks = [(e2, i2) for i2, e2, u2, t2 in ev
                      if u2 == u and t2 == "click" and (e2, i2) < (ep, i)]
            expect_asof[i] = max(clicks)[0] if clicks else None
        got_asof = {
            r["event_id"]: r["click_epoch"]
            for r in QUERIES["ev_asof_join"](spark, sf).collect()
        }
        assert got_asof == expect_asof

        # brute-force range join: events within (e, e+60] same user
        expect_range = {}
        for i, ep, u, t in ev:
            if t != "error":
                continue
            expect_range[i] = sum(
                1 for i2, e2, u2, _ in ev
                if u2 == u and ep < e2 <= ep + 60
            )
        got_range = {
            r["event_id"]: r["n_following"]
            for r in QUERIES["ev_range_join"](spark, sf).collect()
        }
        assert got_range == expect_range

    run()


def test_decimal_aggregates_partition_invariant(spark):
    """The engine's numeric-stability convention (plans/__init__
    docstring) claims dsum/davg are bit-identical across
    partitionings — the property that makes value hashes stable at
    any cluster size. Pin it: same data, 1 vs 37 partitions, equal
    bits."""
    from pyspark.sql import functions as F

    from metadata_wrangler_spark.plans.relational import davg, dsum

    data = [(i % 5, ((i * 7919) % 997) / 31.0 - 16.0) for i in range(20000)]
    base = spark.createDataFrame(data, "k int, v double")

    def agg(df):
        return sorted(
            tuple(r)
            for r in df.groupBy("k")
            .agg(dsum(F.col("v")).alias("s"), davg(F.col("v")).alias("a"))
            .collect()
        )

    assert agg(base.repartition(1)) == agg(base.repartition(37))


def test_pagerank_mass_conserved(spark):
    """With uniform out-degree 2 and no dangling nodes, PageRank
    iteration preserves total mass: sum(rank) stays 1 within the
    1e-10 quantization (N rows × 0.5e-10 each)."""
    from metadata_wrangler_spark.plans import QUERIES, load_all_plans

    load_all_plans()
    df = QUERIES["g_pagerank"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < len(rows) * 1e-9
    assert all(r["rank"] > 0 for r in rows)


def test_chunk_overlap_covers_every_token(spark):
    """Chunking invariants: chunk 0 starts at the first word, every
    token index is inside at least one chunk, consecutive chunks
    overlap by exactly chunk-stride words except the tail."""
    from pyspark.sql import functions as F

    from metadata_wrangler_spark.operators import dedup
    from metadata_wrangler_spark.plans import QUERIES, load_all_plans
    from metadata_wrangler_spark.plans.documents import (
        _CHUNK_STRIDE,
        _CHUNK_WORDS,
    )

    load_all_plans()
    sf = "/root/testdata/sf0.001"
    chunks = QUERIES["txt_chunk_overlap"](spark, sf).collect()
    n_words = {
        r["doc_id"]: r["n"]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select(
            "doc_id",
            F.size(F.split(dedup.normalize_text(F.col("text")), " "))
            .alias("n"),
        )
        .collect()
    }
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(n_words)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_no"])
        assert rows[0]["chunk_no"] == 0
        covered = 0
        for r in rows:
            start = r["chunk_no"] * _CHUNK_STRIDE
            assert start <= covered  # no gap
            assert r["n_tokens"] <= _CHUNK_WORDS
            covered = max(covered, start + r["n_tokens"])
        assert covered == n_words[doc_id]


def test_closing_ops_partition_invariant(spark):
    """The closing-session integer-exact aggregates (binary-shift
    decay, rank-formula Gini, chi-square cells) must hash
    identically at any parallelism — rerun each query under a
    1-partition and a 64-partition shuffle config and compare full
    sorted outputs."""
    from metadata_wrangler_spark.plans import QUERIES, load_all_plans

    load_all_plans()
    sf = "/root/testdata/sf0.001"

    def run_all():
        out = {}
        for name in ("ev_decay_halflife", "a_gini_coefficient",
                     "a_chi2_independence", "a_abc_pareto"):
            out[name] = sorted(
                tuple(r) for r in QUERIES[name](spark, sf).collect()
            )
        return out

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        one = run_all()
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        many = run_all()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert one == many


def test_global_order_stats_property(spark):
    """Random keys with heavy ties + random partition counts: the
    range-bucketed prefix operator's rank and running sum must equal
    the flat prefix computed independently in Python, for every
    npart (boundaries falling inside tie runs included)."""
    from hypothesis import given, settings, strategies as st2

    from metadata_wrangler_spark.operators.prefix import global_order_stats

    @settings(max_examples=1, deadline=None)
    @given(
        st2.lists(
            st2.tuples(st2.integers(0, 5), st2.integers(1, 9)),
            min_size=40, max_size=120,
        ),
        st2.integers(1, 11),
    )
    def run(pairs, npart):
        rows = [(i, k, v) for i, (k, v) in enumerate(pairs)]
        df = spark.createDataFrame(rows, "id long, k long, v long")
        got = {
            r["id"]: (r["rn"], r["cum_v"])
            for r in global_order_stats(
                df, [F.asc("k"), F.asc("id")], cum_cols=["v"], npart=npart
            ).collect()
        }
        want, cum = {}, 0
        for rn, (i, k, v) in enumerate(
            sorted(rows, key=lambda r: (r[1], r[0])), start=1
        ):
            cum += v
            want[i] = (rn, cum)
        assert got == want

    run()


def test_global_order_stats_property_random_groups(spark):
    """Randomized grouped prefix-stat parity: for arbitrary
    (group, value) data — duplicate values, NULL group keys, single-
    row groups — global_order_stats reproduces the flat
    Window.partitionBy exactly (rank, running sum, group count and
    group sum)."""
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators import prefix

    @settings(max_examples=1, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 4),                      # group id
                st.booleans(),                          # NULL the group?
                st.integers(-50, 50),                   # value (dup-heavy)
            ),
            min_size=40,
            max_size=120,
        )
    )
    def run(samples):
        rows = [
            (i, None if null_g else str(g), v)
            for i, (g, null_g, v) in enumerate(samples)
        ]
        df = spark.createDataFrame(rows, "id long, g string, v long")
        flat = W.partitionBy("g").orderBy("v", "id")
        whole = W.partitionBy("g")
        want = {
            r["id"]: tuple(r)[1:]
            for r in df.select(
                "id",
                F.row_number().over(flat).cast("bigint").alias("rn"),
                F.sum("v").over(
                    flat.rowsBetween(W.unboundedPreceding, W.currentRow)
                ).alias("cum_v"),
                F.count(F.lit(1)).over(whole).alias("n_total"),
                F.sum("v").over(whole).alias("tot_v"),
            ).collect()
        }
        got = {
            r["id"]: (r["rn"], r["cum_v"], r["n_total"], r["tot_v"])
            for r in prefix.global_order_stats(
                df, [F.asc("v"), F.asc("id")],
                group_cols=["g"], cum_cols=["v"], npart=5,
                total_col="n_total",
            ).collect()
        }
        assert got == want

    run()
