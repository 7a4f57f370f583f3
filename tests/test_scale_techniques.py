"""Scale-technique tests: salted aggregation/join equivalence and
bucketed-table co-located joins (shuffle elimination made visible
in the physical plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators import skew
from tests.test_plan_shapes import SF, explain_str


def _skewed(spark):
    # one hot key (90% of rows) + a tail
    rows = [("hot", i, float(i % 7)) for i in range(900)]
    rows += [(f"k{i % 10}", i, float(i)) for i in range(100)]
    return spark.createDataFrame(rows, "k string, n bigint, v double")


def test_salted_agg_matches_plain_agg(spark):
    df = _skewed(spark)
    plain = {
        r["k"]: (r["cnt"], r["total"], r["mx"])
        for r in df.groupBy("k").agg(
            F.count("n").alias("cnt"),
            F.sum("v").alias("total"),
            F.max("n").alias("mx"),
        ).collect()
    }
    salted = {
        r["k"]: (r["cnt"], r["total"], r["mx"])
        for r in skew.salted_agg(
            df, ["k"],
            {"cnt": ("n", "count"), "total": ("v", "sum"),
             "mx": ("n", "max")},
            n_salts=8,
        ).collect()
    }
    assert salted == plain


def test_salted_agg_rejects_non_algebraic(spark):
    with pytest.raises(ValueError):
        skew.salted_agg(_skewed(spark), ["k"], {"m": ("v", "median")})


def test_salted_join_matches_plain_join(spark):
    big = _skewed(spark)
    small = spark.createDataFrame(
        [("hot", "H"), ("k1", "A"), ("k2", "B")], "k string, tag string"
    )
    plain = sorted(tuple(r) for r in
                   big.join(small, "k").select("k", "n", "tag").collect())
    salted = sorted(tuple(r) for r in
                    skew.salted_join(big, small, "k")
                    .select("k", "n", "tag").collect())
    assert salted == plain
    assert len(plain) == 900 + 20


def test_bucketed_join_has_no_shuffle(spark):
    """Co-located join: two tables bucketed on the same key into the
    same bucket count join WITHOUT an exchange on either side — the
    pre-shuffled layout every big-big equi-join should use at 100 TB.
    (Tables land in the default spark-warehouse dir; dropped after.)
    """
    left = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    left.write.bucketBy(8, "k").sortBy("k").mode("overwrite") \
        .saveAsTable("t_bucket_left")
    right.write.bucketBy(8, "k").sortBy("k").mode("overwrite") \
        .saveAsTable("t_bucket_right")
    try:
        joined = spark.table("t_bucket_left").join(
            spark.table("t_bucket_right"), "k"
        )
        plan = explain_str(joined)
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 10000
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucket_left")
        spark.sql("DROP TABLE IF EXISTS t_bucket_right")


# --- distributed global order statistics (operators/prefix.py) -------------


def test_global_order_stats_matches_flat_window(spark):
    """The range-bucketed prefix scheme must reproduce the flat
    global window EXACTLY — rank and running sum — on skewed data
    (one value covering a third of all rows, so range boundaries
    land inside a tie run) and regardless of bucket count."""
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators.prefix import global_order_stats

    df = spark.range(0, 900).select(
        F.col("id"),
        # heavy skew: ids 0..299 share key 7; the rest spread out
        F.when(F.col("id") < 300, F.lit(7))
        .otherwise((F.col("id") * 37) % 101).alias("k"),
        ((F.col("id") * 13) % 50 + 1).alias("v"),
    )
    order = [F.asc("k"), F.asc("id")]
    got = {
        r["id"]: (r["rn"], r["cum_v"])
        for r in global_order_stats(
            df, order, cum_cols=["v"], npart=7
        ).collect()
    }
    flat = W.orderBy(*order)
    want = {
        r["id"]: (r["rn"], r["cum_v"])
        for r in df.select(
            "id",
            F.row_number().over(flat).cast("bigint").alias("rn"),
            F.sum("v").over(
                flat.rowsBetween(W.unboundedPreceding, W.currentRow)
            ).alias("cum_v"),
        ).collect()
    }
    assert got == want


def test_global_order_stats_descending_and_rankless(spark):
    """Descending primary order; cum-only mode (rank_col=None)."""
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators.prefix import global_order_stats

    df = spark.range(0, 400).select(
        F.col("id"), ((F.col("id") * 7) % 23).alias("k")
    )
    order = [F.desc("k"), F.asc("id")]
    got = {
        r["id"]: r["cum_k"]
        for r in global_order_stats(
            df, order, cum_cols=["k"], rank_col=None, npart=5
        ).collect()
    }
    flat = W.orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        r["id"]: r["cum_k"]
        for r in df.select("id", F.sum("k").over(flat).alias("cum_k"))
        .collect()
    }
    assert got == want


def test_global_order_stats_decimal_cum_falls_back_and_matches(spark):
    """A DECIMAL cum column must take the window + broadcast-offsets
    tier (the Arrow kernel is integer-only) and still reproduce the
    flat window exactly."""
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators.prefix import global_order_stats

    df = spark.range(0, 300).select(
        F.col("id"),
        ((F.col("id") * 13) % 50 + 1).cast("decimal(20,0)").alias("v"),
    )
    order = [F.asc("v"), F.asc("id")]
    out = global_order_stats(df, order, cum_cols=["v"], npart=5)
    # fallback proof: the window tier plans a Window; the kernel
    # tier plans a MapInPandas and no Window.
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "indow" in plan and "mapInPandas" not in plan
    got = {r["id"]: (r["rn"], r["cum_v"]) for r in out.collect()}
    flat = W.orderBy(*order)
    want = {
        r["id"]: (r["rn"], r["cum_v"])
        for r in df.select(
            "id",
            F.row_number().over(flat).cast("bigint").alias("rn"),
            F.sum("v").over(
                flat.rowsBetween(W.unboundedPreceding, W.currentRow)
            ).alias("cum_v"),
        ).collect()
    }
    assert got == want


def test_global_order_stats_null_cum_values_flat_window_semantics(spark):
    """NULL cum inputs through the kernel tier: running sums skip
    NULLs and stay NULL until the group's first non-null value —
    the flat-window spec."""
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators.prefix import global_order_stats

    df = spark.range(0, 200).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("g"),
        F.when(F.col("id") < 60, F.lit(None))
        .otherwise((F.col("id") * 7) % 40 + 1).alias("v"),
    )
    order = [F.asc("id")]
    got = {
        r["id"]: (r["rn"], r["cum_v"])
        for r in global_order_stats(
            df, order, group_cols=["g"], cum_cols=["v"], npart=7
        ).collect()
    }
    flat = W.partitionBy("g").orderBy(*order)
    want = {
        r["id"]: (r["rn"], r["cum_v"])
        for r in df.select(
            "id",
            F.row_number().over(flat).cast("bigint").alias("rn"),
            F.sum("v").over(
                flat.rowsBetween(W.unboundedPreceding, W.currentRow)
            ).alias("cum_v"),
        ).collect()
    }
    assert got == want


def test_grouped_rank_value_sums_matches_flat_window(spark):
    """The rank-moment partials must reproduce the flat windowed
    (n, Σv, Σ rank·v) exactly — heavy value skew so range boundaries
    split tie runs (the tie-order-invariance claim), NULL group key
    as a real group, NULL values excluded, odd bucket counts."""
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators.prefix import (
        grouped_rank_value_sums,
    )

    df = spark.range(0, 900).select(
        F.col("id"),
        F.when(F.col("id") % 11 == 0, F.lit(None))
        .otherwise((F.col("id") % 3).cast("string")).alias("g"),
        # NULL values excluded; a third of the rest share v=7, so
        # bucket boundaries land inside a tie run somewhere
        F.when(F.col("id") % 17 == 0, F.lit(None))
        .when(F.col("id") < 300, F.lit(7))
        .otherwise((F.col("id") * 13) % 50 + 1).alias("v"),
    )
    w = W.partitionBy("g").orderBy("v", "id")
    want = {
        (r["g"], ): (r["n"], r["sx"], r["srx"])
        for r in df.where(F.col("v").isNotNull())
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sx"),
            F.sum(F.col("rn") * F.col("v")).alias("srx"),
        )
        .collect()
    }
    for npart in (1, 5, 13):
        got = {
            (m["g"], ): (m["n"], m["sx"], m["srx"])
            for m in grouped_rank_value_sums(
                df, "v", group_cols=["g"], npart=npart
            )
        }
        assert got == want, f"npart={npart}"


def test_grouped_rank_value_sums_ungrouped_big_values_empty(spark):
    """Ungrouped mode; out-of-contract magnitudes (≥2^33) take the
    exact pure-Python path; empty input returns no groups."""
    from metadata_wrangler_spark.operators.prefix import (
        grouped_rank_value_sums,
    )

    big = 1 << 40
    df = spark.range(1, 101).select(
        (F.col("id") * F.lit(big)).alias("v")
    )
    [m] = grouped_rank_value_sums(df, "v", npart=4)
    n = 100
    assert m["n"] == n
    assert m["sx"] == big * n * (n + 1) // 2
    # ranks align with id: Σ i²·big
    assert m["srx"] == big * n * (n + 1) * (2 * n + 1) // 6

    empty = df.where(F.lit(False))
    assert grouped_rank_value_sums(empty, "v", npart=4) == []


def test_grouped_rank_value_sums_rejects_over_cap_partials(
    spark, monkeypatch
):
    """The (bucket, group) partials compose on the driver, so their
    fetch is capped at _DRIVER_TOTALS_MAX: past it the operator must
    raise, naming the cap, instead of collecting without bound."""
    from metadata_wrangler_spark.operators import prefix

    df = spark.range(0, 60).select(
        (F.col("id") % 3).cast("string").alias("g"), F.col("id").alias("v")
    )
    monkeypatch.setattr(prefix, "_DRIVER_TOTALS_MAX", 1)  # 3 groups > 1
    with pytest.raises(ValueError, match="_DRIVER_TOTALS_MAX=1"):
        prefix.grouped_rank_value_sums(df, "v", group_cols=["g"], npart=4)


def test_degree_distribution_distributed_tier_matches_driver_tier(
    spark, monkeypatch
):
    """g_degree_distribution finishes on the driver when the degree
    histogram fits _DRIVER_TOTALS_MAX and on global_order_stats past
    it; forcing the bound to 1 runs the distributed tier, which must
    return the driver tier's rows."""
    from metadata_wrangler_spark.operators import prefix
    from metadata_wrangler_spark.plans import QUERIES, load_all_plans

    load_all_plans()
    query = QUERIES["g_degree_distribution"]
    driver = sorted(tuple(r) for r in query(spark, SF).collect())
    monkeypatch.setattr(prefix, "_DRIVER_TOTALS_MAX", 1)
    distributed = sorted(tuple(r) for r in query(spark, SF).collect())
    assert len(driver) > 1
    assert distributed == driver


def test_global_order_stats_plan_has_no_single_partition_window(spark):
    """The operator's own plan must pass the audit it exists to
    satisfy: every window partitioned, offsets via broadcast join."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from plan_audit import single_partition_windows

    from metadata_wrangler_spark.operators.prefix import global_order_stats

    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 9).alias("k")
    )
    out = global_order_stats(
        df, [F.asc("k"), F.asc("id")], cum_cols=["k"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not single_partition_windows(plan)


def test_global_order_stats_grouped_matches_flat_window(spark):
    """group_cols mode must equal Window.partitionBy(group) exactly
    — rank and running sum — including groups that span range-bucket
    boundaries (3 groups over 6 buckets guarantees it)."""
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators.prefix import global_order_stats

    df = spark.range(0, 1200).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("g"),
        ((F.col("id") * 31) % 97).alias("v"),
    )
    got = {
        r["id"]: (r["rn"], r["cum_v"])
        for r in global_order_stats(
            df, [F.asc("v"), F.asc("id")], group_cols=["g"],
            cum_cols=["v"], npart=6,
        ).collect()
    }
    flat = W.partitionBy("g").orderBy("v", "id")
    want = {
        r["id"]: (r["rn"], r["cum_v"])
        for r in df.select(
            "id",
            F.row_number().over(flat).cast("bigint").alias("rn"),
            F.sum("v").over(
                flat.rowsBetween(W.unboundedPreceding, W.currentRow)
            ).alias("cum_v"),
        ).collect()
    }
    assert got == want


def test_global_order_stats_grouped_null_keys_match_flat_window(spark):
    """NULL group keys are a normal partition under
    Window.partitionBy; the bucketed spelling must keep them too.
    Regression test for the round-5 defect: plain `=` in the offsets
    triangular join and a using-join on the group names both drop
    NULL-keyed rows from the output entirely (txt_split_assign /
    txt_sequence_packing group on nullable documents columns)."""
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators.prefix import global_order_stats

    df = spark.range(0, 900).select(
        F.col("id"),
        # ~a third of rows NULL-keyed, interleaved with two groups
        F.when(F.col("id") % 3 == 0, F.lit(None).cast("string"))
        .otherwise((F.col("id") % 3).cast("string")).alias("g"),
        ((F.col("id") * 31) % 97).alias("v"),
    )
    out = global_order_stats(
        df, [F.asc("v"), F.asc("id")], group_cols=["g"],
        cum_cols=["v"], npart=6,
    )
    got = {r["id"]: (r["rn"], r["cum_v"]) for r in out.collect()}
    assert len(got) == 900, "NULL-keyed rows vanished from the output"
    flat = W.partitionBy("g").orderBy("v", "id")
    want = {
        r["id"]: (r["rn"], r["cum_v"])
        for r in df.select(
            "id",
            F.row_number().over(flat).cast("bigint").alias("rn"),
            F.sum("v").over(
                flat.rowsBetween(W.unboundedPreceding, W.currentRow)
            ).alias("cum_v"),
        ).collect()
    }
    assert got == want


def _flat_grouped_stats(df, order, cum):
    """The spec global_order_stats replaces: Window.partitionBy(g)
    rank and running sum, plus the group's row count and total."""
    from pyspark.sql import Window as W

    flat = W.partitionBy("g").orderBy(*order)
    whole = W.partitionBy("g")
    return {
        r["id"]: tuple(r)[1:]
        for r in df.select(
            "id",
            F.row_number().over(flat).cast("bigint").alias("rn"),
            F.sum(cum).over(
                flat.rowsBetween(W.unboundedPreceding, W.currentRow)
            ).alias(f"cum_{cum}"),
            F.count(F.lit(1)).over(whole).alias("n_total"),
            F.sum(cum).over(whole).alias(f"tot_{cum}"),
        ).collect()
    }


def test_global_order_stats_grouped_totals_match_flat_window(spark):
    """Grouped rank, running sum, total_col and tot_<c> equal the
    flat Window.partitionBy spec: NULL group keys, a DECIMAL cum
    column, and NULL cum values after non-NULL ones: scattered, and
    an all-NULL second half of every group, which bucket boundaries
    fall into (the offset then carries the earlier buckets' sum
    through a NULL local running sum)."""
    from metadata_wrangler_spark.operators.prefix import global_order_stats

    df = spark.range(0, 600).select(
        F.col("id"),
        F.when(F.col("id") % 4 == 0, F.lit(None).cast("string"))
        .otherwise((F.col("id") % 4).cast("string")).alias("g"),
        F.when((F.col("id") % 7 == 0) | (F.col("id") >= 300), F.lit(None))
        .otherwise((F.col("id") * 13) % 41)
        .cast("decimal(20,0)").alias("v"),
    )
    order = [F.asc("id")]
    out = global_order_stats(
        df, order, group_cols=["g"], cum_cols=["v"], npart=5,
        total_col="n_total",
    )
    got = {
        r["id"]: (r["rn"], r["cum_v"], r["n_total"], r["tot_v"])
        for r in out.collect()
    }
    assert len(got) == 600
    assert got == _flat_grouped_stats(df, order, "v")


def test_global_order_stats_many_bucket_group_totals_match_flat_window(
    spark,
):
    """More (bucket, group) totals than the 65,536 rows a driver
    collect of them would admit: every group holds at least one
    totals row, so 70,000 two-row groups make over 70,000, and the
    result still equals the flat Window.partitionBy spec."""
    from metadata_wrangler_spark.operators.prefix import global_order_stats

    df = spark.range(0, 140_000).select(
        F.col("id"),
        (F.col("id") % 70_000).cast("string").alias("g"),
        (F.col("id") % 5).alias("v"),
    )
    order = [F.asc("id")]
    out = global_order_stats(
        df, order, group_cols=["g"], cum_cols=["v"], npart=3,
        total_col="n_total",
    )
    got = {
        r["id"]: (r["rn"], r["cum_v"], r["n_total"], r["tot_v"])
        for r in out.collect()
    }
    assert got == _flat_grouped_stats(df, order, "v")


def test_global_order_stats_offsets_stay_in_the_plan(spark, monkeypatch):
    """The offsets are part of the lazy plan: no driver fetch, and no
    Python-built RDD scan carries offset columns. The only RDD scans
    left are the range pin's, whose columns are the input's plus the
    bucket id."""
    import re

    from metadata_wrangler_spark.operators import prefix

    def no_fetch(*a, **k):
        raise AssertionError("global_order_stats fetched to the driver")

    monkeypatch.setattr(prefix, "fetch_at_most", no_fetch)
    df = spark.range(0, 400).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 11).alias("v"),
    )
    for group_cols in ([], ["g"]):
        out = prefix.global_order_stats(
            df, [F.asc("v"), F.asc("id")], group_cols=group_cols,
            cum_cols=["v"], npart=4, total_col="n_total",
        )
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        scans = re.findall(r"Scan ExistingRDD\[([^\]]*)\]", plan)
        assert scans
        for cols in scans:
            names = {c.split("#")[0] for c in cols.split(",")}
            assert names == {"id", "g", "v", "__gos_bucket"}, cols


def test_global_order_stats_total_col_matches_group_counts(spark):
    """total_col attaches the per-group row count (the extra
    aggregate callers used to pay a separate job for)."""
    from metadata_wrangler_spark.operators.prefix import global_order_stats

    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("g")
    )
    out = global_order_stats(
        df, [F.asc("id")], group_cols=["g"], total_col="n_total",
        npart=4,
    )
    got = {(r["g"], r["n_total"]) for r in out.collect()}
    assert got == {("0", 100), ("1", 100), ("2", 100)}
    # ungrouped: total = full row count on every row
    out2 = global_order_stats(
        df, [F.asc("id")], total_col="n_total", npart=4
    )
    assert {r["n_total"] for r in out2.collect()} == {300}


def test_global_order_stats_repeated_runs_are_stable(spark):
    """The bucketed frame feeds two plan subtrees (windows + the
    broadcast offsets build). Before the operator pinned it with
    localCheckpoint, each subtree could re-sample its OWN range
    boundaries — bucket ids disagreed between the sides and the
    offset join attached wrong (or no) offsets: a_weighted_median's
    per-group row counts FLAPPED across executions. Five runs must
    produce identical full outputs."""
    from metadata_wrangler_spark.operators.prefix import global_order_stats

    df = spark.range(0, 20000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("g"),
        ((F.col("id") * 17) % 5000).alias("v"),
    )
    outs = set()
    for _ in range(5):
        rows = global_order_stats(
            df, [F.asc("v"), F.asc("id")], group_cols=["g"],
            cum_cols=["v"], npart=7,
        ).groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rn").alias("srn"),
            F.sum("cum_v").alias("scum"),
        ).collect()
        outs.add(tuple(sorted(tuple(r) for r in rows)))
    assert len(outs) == 1, f"unstable across runs: {len(outs)} variants"


# --- adversarial-skew ladder for the r6 joins -------------------------------


def _hot_key_events(spark, n=4000, hot_frac=0.7):
    """Synthetic events timeline where one user owns ``hot_frac`` of
    all rows — the 70%-hot tenant/bot-user ladder."""
    n_hot = int(n * hot_frac)
    rows = [(7, i, "click" if i % 5 == 0 else "purchase", 1000 + i)
            for i in range(n_hot)]
    rows += [(100 + (i % 37), 10_000 + i,
              "click" if i % 3 == 0 else "purchase", 50_000 + i)
             for i in range(n - n_hot)]
    return spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, event_type string, ep bigint"
    )


def test_asof_states_matches_window_on_hot_key_ladder(spark):
    """operators/asof.py (segmented scan) must reproduce the plain
    per-key-window as-of spelling exactly on a 70%-hot-key table."""
    from pyspark.sql import Window as W

    from metadata_wrangler_spark.operators.asof import asof_states

    ev = _hot_key_events(spark)
    got = asof_states(
        ev,
        "user_id",
        ["ep", "event_id"],
        F.col("event_type") == "click",
        "ep",
        npart=8,
        back_col="back_ep",
        fwd_col="fwd_ep",
    )
    w = W.partitionBy("user_id").orderBy("ep", "event_id")
    click_ep = F.when(F.col("event_type") == "click", F.col("ep"))
    exp = ev.select(
        "user_id", "event_id",
        F.last(click_ep, ignorenulls=True)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("back_ep"),
        F.first(click_ep, ignorenulls=True)
        .over(w.rowsBetween(W.currentRow, W.unboundedFollowing))
        .alias("fwd_ep"),
    )
    got_rows = sorted(
        (r["user_id"], r["event_id"], r["back_ep"], r["fwd_ep"])
        for r in got.select(
            "user_id", "event_id", "back_ep", "fwd_ep"
        ).collect()
    )
    exp_rows = sorted(tuple(r) for r in exp.collect())
    assert got_rows == exp_rows


def test_asof_segmented_layout_bounds_hot_key_skew(spark):
    """The range-bucketed layout the as-of operator sorts on must
    stay balanced even when one key owns 70% of the rows: no bucket
    (= one task's sort) holds more than 4x the median bucket."""
    ev = _hot_key_events(spark)
    npart = 8
    sizes = [
        r["c"]
        for r in ev.repartitionByRange(
            npart, F.asc("user_id"), F.asc("ep"), F.asc("event_id")
        )
        .groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    sizes.sort()
    median = sizes[len(sizes) // 2]
    assert max(sizes) <= 4 * median, sizes
    # contrast: the per-key-window layout puts 70% of rows in ONE
    # task — document the failure mode this operator removes
    key_sizes = [
        r["c"]
        for r in ev.repartition(npart, "user_id")
        .groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    assert max(key_sizes) > 4 * sorted(key_sizes)[len(key_sizes) // 2]


def test_band_join_aqe_splits_hot_bucket(spark):
    """j_band_join's bucket-equi-join shape on a 70%-hot-bucket
    ladder: with AQE skew-join enabled (session default) and
    broadcast disabled (forcing the shuffle join a 100 TB run would
    use), the hot bucket's join work must be SPLIT across tasks —
    no output partition more than 4x the median — and the result
    must equal the naive band predicate."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "24KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        d = 5
        # 70% of customers share one quantized balance (one hot
        # INPUT bucket — the skew is in the probe side's shuffle
        # partition, which AQE must split); only 2 suppliers match
        # the hot balance, so the OUTPUT stays linear (a band join
        # where many-hot meets many-hot is inherently quadratic —
        # that is the documented per-bucket occupancy-product
        # contract, not a partitioning problem).
        cus = spark.createDataFrame(
            [(i, 50_000 if i % 10 < 7 else 10_000 + (i * 13) % 80_000)
             for i in range(30_000)],
            "c_custkey bigint, qb_c bigint",
        )
        sup = spark.createDataFrame(
            [(j, 50_000 + j if j < 2 else 200_000 + j * 17)
             for j in range(400)],
            "s_suppkey bigint, qb_s bigint",
        )
        sup_b = sup.select(
            "s_suppkey", "qb_s",
            F.explode(F.array(
                F.floor(F.col("qb_s") / d).cast("bigint") - 1,
                F.floor(F.col("qb_s") / d).cast("bigint"),
                F.floor(F.col("qb_s") / d).cast("bigint") + 1,
            )).alias("bkt"),
        )
        cus_b = cus.withColumn(
            "bkt", F.floor(F.col("qb_c") / d).cast("bigint")
        )
        joined = (
            sup_b.join(cus_b, "bkt")
            .where(F.abs(F.col("qb_s") - F.col("qb_c")) <= d)
            .select("s_suppkey", "c_custkey")
        )
        sizes = [
            r["c"]
            for r in joined.groupBy(
                F.spark_partition_id().alias("pid")
            ).agg(F.count(F.lit(1)).alias("c")).collect()
            if r["c"] > 0
        ]
        sizes.sort()
        median = sizes[len(sizes) // 2]
        assert max(sizes) <= 4 * median, sizes
        # correctness vs the naive cartesian band predicate
        assert joined.count() == (
            sup.crossJoin(cus)
            .where(F.abs(F.col("qb_s") - F.col("qb_c")) <= d)
            .count()
        )
        assert cus.where(F.col("qb_c") == 50_000).count() == 21_000
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_asof_states_edge_cases(spark):
    """asof_states boundaries: a key with no marked rows gets NULL
    states; an all-marked single-row key points at itself; an empty
    input returns an empty (schema-stable) frame; NULL keys form a
    normal group."""
    from metadata_wrangler_spark.operators.asof import asof_states

    rows = [
        # user 1: no clicks at all -> both states NULL everywhere
        (1, 1, "view", 100),
        (1, 2, "view", 200),
        # user 2: single click row -> back=fwd=own ep
        (2, 3, "click", 300),
        # NULL user: one click between two views
        (None, 4, "view", 400),
        (None, 5, "click", 500),
        (None, 6, "view", 600),
    ]
    ev = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, event_type string, ep bigint"
    )
    got = {
        r["event_id"]: (r["back_state"], r["fwd_state"])
        for r in asof_states(
            ev, "user_id", ["ep", "event_id"],
            F.col("event_type") == "click", "ep", npart=3,
        ).collect()
    }
    assert got[1] == (None, None) and got[2] == (None, None)
    assert got[3] == (300, 300)
    assert got[4] == (None, 500)
    assert got[5] == (500, 500)
    assert got[6] == (500, None)

    empty = asof_states(
        ev.limit(0), "user_id", ["ep", "event_id"],
        F.col("event_type") == "click", "ep", npart=3,
    )
    assert empty.count() == 0
    assert {"back_state", "fwd_state"} <= set(empty.columns)


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_release_session_caches_drops_all_persisted_frames(spark):
    """Per-query measurement hygiene: after release_session_caches,
    no persisted frame of the basket analytics or the overlap
    baskets survives and a fresh persist still works — the helper
    tools/bench_vs_oracle.py calls between queries so one query's
    pinned storage cannot distort a successor's wall."""
    from metadata_wrangler_spark.plans import (
        load_all_plans,
        release_session_caches,
    )
    from metadata_wrangler_spark.plans import documents as docs_mod
    from metadata_wrangler_spark.plans import graph as graph_mod

    load_all_plans()
    # Start from a released session (an earlier test may have cached
    # the same frames), and require each query to persist storage of
    # its own, else the release assertions below pass vacuously for
    # whichever query stopped persisting (round-8 advice).
    release_session_caches(spark)
    base = _persistent_rdd_ids(spark)
    graph_mod.g_bipartite_project(spark, SF).collect()
    basket = _persistent_rdd_ids(spark) - base
    assert basket
    docs_mod.dd_source_overlap(spark, SF).collect()
    overlap = _persistent_rdd_ids(spark) - base - basket
    assert overlap

    release_session_caches(spark)
    left = _persistent_rdd_ids(spark)
    assert not left & (basket | overlap)
    # <= base, not == base: the ContextCleaner can reclaim another
    # test's blocks meanwhile (see test_free_checkpoint_contract).
    assert len(left) <= len(base)
    # Idempotent on an empty session, and queries still run after.
    release_session_caches(spark)
    assert graph_mod.g_bipartite_project(spark, SF).count() > 0


def test_basket_intermediates_shared_across_queries(spark):
    """Spark's CacheManager, not a memo of our own, shares the basket
    intermediates: re-running g_bipartite_project and then running
    a_assoc_rules persists nothing new, and a_assoc_rules reads the
    persisted frames."""
    from metadata_wrangler_spark.plans import release_session_caches
    from metadata_wrangler_spark.plans import graph as graph_mod

    release_session_caches(spark)
    first = graph_mod.g_bipartite_project(spark, SF).collect()
    persisted = _persistent_rdd_ids(spark)
    assert graph_mod.g_bipartite_project(spark, SF).collect() == first
    assert _persistent_rdd_ids(spark) <= persisted
    rules = graph_mod.a_assoc_rules(spark, SF)
    assert rules.collect()
    assert _persistent_rdd_ids(spark) <= persisted
    assert "InMemoryTableScan" in (
        rules._jdf.queryExecution().executedPlan().toString()
    )
    release_session_caches(spark)


def _cached_partitions(spark) -> int:
    sc = spark.sparkContext
    return sum(
        r.numCachedPartitions() for r in sc._jsc.sc().getRDDStorageInfo()
    )


def test_iterative_operators_release_checkpoints_synchronously(
    spark, monkeypatch
):
    """Round-9 checkpoint-lifetime bound (SCALE.md round-8 finding
    1): an iterative query's dead localCheckpoint rounds must be
    released by the operator itself, not left for the asynchronous
    ContextCleaner — measured at sf10, lingering blocks squeezed the
    NEXT query's execution memory into spilling (LPA 24 s in-ladder
    vs 10.2 s isolated). After a full materialize of each iterative
    query, at most its small final-result checkpoint may stay pinned
    (a handful of |V|-row partitions), never the edge-table rounds
    (32+ partitions each)."""
    from metadata_wrangler_spark.operators import closure
    from metadata_wrangler_spark.operators.closure import (
        connected_components,
        equivalent_ids,
    )
    from metadata_wrangler_spark.plans import load_all_plans, QUERIES

    load_all_plans()
    sf = "/root/testdata/sf0.001"
    spark.catalog.clearCache()

    # Shared pytest sessions carry other tests' checkpoint blocks;
    # assert the DELTA each query leaves behind, not an absolute.
    for name in ("g_label_propagation", "g_kcore"):
        before = _cached_partitions(spark)
        QUERIES[name](spark, sf).count()
        delta = _cached_partitions(spark) - before
        assert delta <= 8, f"{name} pinned {delta} new cached partitions"

    # Force the DISTRIBUTED tiers (the checkpoint-heavy paths) on the
    # tiny graph: edge materialization + per-round labels must all be
    # freed; only the final labels checkpoint may remain.
    from metadata_wrangler_spark.plans.graph import build_edges

    edges = build_edges(spark, sf)
    monkeypatch.setattr(closure, "LOCAL_SOLVE_MAX_EDGES", 0)
    before = _cached_partitions(spark)
    connected_components(edges).count()
    delta = _cached_partitions(spark) - before
    assert delta <= 40, f"connected_components pinned {delta} partitions"

    seeds = edges.select(F.col("src").alias("node")).limit(3)
    before = _cached_partitions(spark)
    equivalent_ids(edges, seeds, levels=4, threshold=0.0).count()
    delta = _cached_partitions(spark) - before
    # equivalent_ids' frontier checkpoints ARE the result data and
    # stay pinned until consumed; the edge materialization must not.
    # Frontier levels are tiny (<= levels+1 frames, AQE-coalesced —
    # measured 5 partitions; the edge set alone would add 32, so a
    # cap of 24 catches any reintroduced lingering materialization).
    assert delta <= 24


def test_matview_frees_its_slice_when_the_merge_raises(
    spark, tmp_path, monkeypatch
):
    """A CommitConflict out of the table merge propagates, and the
    slice materialized for it is freed on the way out: refresh and
    merge_batch leave no cached partition behind."""
    from metadata_wrangler_spark.catalog import load
    from metadata_wrangler_spark.operators.matview import (
        MaterializedDailyRollup,
    )
    from metadata_wrangler_spark.operators.merge import (
        CommitConflict,
        VersionedParquetTable,
    )

    ev = load(spark, SF, "events")
    mv = MaterializedDailyRollup(spark, str(tmp_path / "mv"))
    mv.init(ev.where(F.col("ts") <= F.lit("2024-01-15").cast("timestamp")))

    def conflict(self, fn, *args, **kwargs):
        raise CommitConflict("injected")

    monkeypatch.setattr(VersionedParquetTable, "merge", conflict)
    # <= 0, not == 0: a shared session's ContextCleaner may reclaim
    # another test's blocks meanwhile (see the contract test below).
    for call in (lambda: mv.refresh(ev), lambda: mv.merge_batch(ev, 7)):
        before = _cached_partitions(spark)
        with pytest.raises(CommitConflict):
            call()
        assert _cached_partitions(spark) - before <= 0


def test_free_checkpoint_contract(spark):
    """free_checkpoint: True + blocks gone for a localCheckpoint
    product; False (no-op) for an ordinary DataFrame."""
    from metadata_wrangler_spark.operators.lineage import free_checkpoint

    spark.catalog.clearCache()
    base = _cached_partitions(spark)
    df = spark.range(0, 10000).selectExpr("id", "id * 2 AS b")
    assert free_checkpoint(df) is False
    assert free_checkpoint(None) is False

    ck = df.localCheckpoint(eager=True)
    assert _cached_partitions(spark) > base
    assert free_checkpoint(ck) is True
    # <= base, not == base: a shared pytest session's ContextCleaner
    # can asynchronously reclaim ANOTHER test's leftover blocks while
    # this test runs (observed: count landed one BELOW the snapshot),
    # so equality is racy; the contract under test is only that this
    # checkpoint's own blocks are gone.
    assert _cached_partitions(spark) <= base


def test_free_checkpoint_warns_once_without_jvm_bridge(spark, caplog):
    """Under Spark Connect there is no _jdf bridge and frees silently
    degrade to the ContextCleaner — the capability gap must be logged
    ONCE per process so the round-8 interference regression is at
    least visible (VERDICT round 9, 'What's wrong' #5)."""
    import logging

    from metadata_wrangler_spark.operators import lineage

    class FakeConnectFrame:
        """A DataFrame-shaped object with no _jdf attribute, as a
        Connect session would hand back."""

    lineage._warned_no_bridge = False  # reset the once-latch
    with caplog.at_level(logging.WARNING, logger=lineage.__name__):
        assert lineage.free_checkpoint(FakeConnectFrame()) is False
        assert lineage.free_checkpoint(FakeConnectFrame()) is False
    warnings = [
        r for r in caplog.records if "no JVM bridge" in r.getMessage()
    ]
    assert len(warnings) == 1  # once, not per-call

    # classic-session frames with a bridge stay silent
    caplog.clear()
    df = spark.range(0, 10).localCheckpoint(eager=True)
    with caplog.at_level(logging.WARNING, logger=lineage.__name__):
        assert lineage.free_checkpoint(df) is True
    assert not caplog.records
