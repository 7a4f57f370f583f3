"""Relational core — SURVEY.md §2.11 obligations over the star schema.

Each plan re-expresses an operator family observed in the reference
(citations in docstrings point into /root/reference) as idiomatic
DataFrame code: declarative, Catalyst-optimizable, no Python in the
hot path. Filters and projections are written so they push down to
the parquet scan; dimension joins are broadcast; windows carry full
deterministic tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from metadata_wrangler_spark.catalog import load
from metadata_wrangler_spark.operators import dedup as dedup_ops
from metadata_wrangler_spark.operators import pagination
from metadata_wrangler_spark.plans import register
from metadata_wrangler_spark.session import local_frame


def dsum(col: F.Column) -> F.Column:
    """Order-independent sum of a DOUBLE column, portable across
    engines: quantize each value to 1e-4 with floor(x*10^4 + 0.5)
    (pure IEEE ops — bit-identical everywhere), sum exactly as
    BIGINT, divide back. See plans/__init__ docstring."""
    return (F.sum(F.floor(col * 10000 + F.lit(0.5)).cast("bigint"))
            / F.lit(10000.0))


def davg(col: F.Column) -> F.Column:
    """Order-independent mean built from the exact decimal sum."""
    return (dsum(col) / F.count(col)).cast("double")


# ---------------------------------------------------------------------------
# P1-P9 — projections / filters / predicates
# ---------------------------------------------------------------------------

@register(
    "p_projection_filter",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_quantity > 30
    """,
)
def p_projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P7: column projection + range/time predicates.

    Reference: `controller.py:661-663` (projection),
    `scripts.py:624` (time-range predicate). Both the projection and
    the conjunctive filter reach the parquet scan (PushedFilters /
    ReadSchema in `.explain`), so at 100 TB only matching row groups
    and 4 columns are read.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_quantity") > 30)
        )
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    )


@register(
    "p_compound_predicates",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
    WHERE (o_orderstatus IN ('F', 'P') AND o_totalprice > 150000.0)
       OR (o_orderpriority = '1-URGENT' AND o_orderdate IS NOT NULL
           AND o_totalprice <= 1000.0)
    """,
)
def p_compound_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4/P5/P6: IN-list, IS NOT NULL, OR/AND compounds.

    Reference: `monitor.py:42-44` (IN + null tests),
    `monitor.py:110-113` (OR), `controller.py:777-780` (AND).
    """
    o = load(spark, sf_dir, "orders")
    return o.where(
        (F.col("o_orderstatus").isin("F", "P") & (F.col("o_totalprice") > 150000.0))
        | (
            (F.col("o_orderpriority") == "1-URGENT")
            & F.col("o_orderdate").isNotNull()
            & (F.col("o_totalprice") <= 1000.0)
        )
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
             "o_totalprice")


@register(
    "p_like_blacklist",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type
    FROM part
    WHERE p_name LIKE '%widget%'
      AND lower(p_brand) NOT IN ('brand#13', 'brand#19')
    """,
)
def p_like_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9: LIKE plus a lower()-normalized string blacklist.

    Reference: `migration/20180626-move-cover-s3-bucket.sql:3` (LIKE),
    `oclc/linked_data.py:127-137,600-606` (blacklists with case
    normalization).
    """
    p = load(spark, sf_dir, "part")
    return p.where(
        F.col("p_name").like("%widget%")
        & ~F.lower(F.col("p_brand")).isin("brand#13", "brand#19")
    ).select("p_partkey", "p_name", "p_brand", "p_type")


# ---------------------------------------------------------------------------
# J1-J8 — joins
# ---------------------------------------------------------------------------

@register(
    "j_fk_inner_join",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'O'
    """,
)
def j_fk_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: FK equi-join with pushed-down filters on both sides.

    Reference: `monitor.py:118-120`, `oclc/classify.py:1234-1239`.
    Catalyst picks broadcast/sort-merge by size; both filters are
    applied before the join so the shuffle carries only matches.
    """
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, o.o_custkey == c.c_custkey, "inner").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "j_dim_3way_broadcast",
    oracle="""
    SELECT r.r_name, n.n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(floor((c.c_acctbal) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS total_acctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def j_dim_3way_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: chained dimension joins, explicitly broadcast.

    Reference: `overdrive.py:76-90` (3-way config join). nation and
    region are tiny at any scale — broadcasting removes two shuffles;
    the only shuffle left is the final aggregation.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
    )


@register(
    "j_semi_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE c.c_mktsegment = 'MACHINERY'
      AND EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def j_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/J8: catalog-membership probe as a left-semi join.

    Reference: `controller.py:776-785` (membership probe),
    `controller.py:1028-1035` (bulk key-list probe). Semi-join ships
    only the join key of the probe side and never duplicates rows.
    """
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "MACHINERY")
    urgent = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "j_anti_join_queue",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def j_anti_join_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: the reference's "needs coverage" anti-join.

    Reference: `controller.py:661-672` (outer-join-to-subquery
    rewritten as NOT EXISTS), `migration/20181220-register-isbns-for-
    oclc-coverage.sql:10-16`. left_anti is the direct Spark form.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "j_left_outer_null_split",
    oracle="""
    SELECT n.n_name,
           COUNT(DISTINCT CASE WHEN o.o_orderkey IS NOT NULL
                               THEN c.c_custkey END) AS with_orders,
           COUNT(DISTINCT CASE WHEN o.o_orderkey IS NULL
                               THEN c.c_custkey END) AS without_orders
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY n.n_name
    """,
)
def j_left_outer_null_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: left outer join + IS (NOT) NULL split, as in the backlog
    report. Reference: `scripts.py:676-694`."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("n_name")
        .agg(
            F.countDistinct(
                F.when(F.col("o_orderkey").isNotNull(), F.col("c_custkey"))
            ).alias("with_orders"),
            F.countDistinct(
                F.when(F.col("o_orderkey").isNull(), F.col("c_custkey"))
            ).alias("without_orders"),
        )
    )


# ---------------------------------------------------------------------------
# A1-A10 — aggregations
# ---------------------------------------------------------------------------

@register(
    "a_group_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(SUM(CAST(floor((o_totalprice) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def a_group_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: groupBy + count + countDistinct.

    Reference: `scripts.py:574-581` (new pools by type),
    `controller.py:495-498` (catalog size).
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "a_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(floor((l_quantity) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_qty,
           CAST(SUM(CAST(floor((l_extendedprice) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_base_price,
           CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_disc_price,
           CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_charge,
           CAST(SUM(CAST(floor((l_quantity) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 / COUNT(l_quantity) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A5: the multi-aggregate grouped summary (TPC-H Q1 shape),
    mirroring the reference's weight-accumulation aggregations.

    Reference: `scripts.py:442-454` (multi-column grouped counts),
    `oclc/classify.py:155-228` (holdings sums). Map-side partial
    aggregation makes the shuffle carry one row per (flag, status)
    per partition — the canonical scale-safe aggregate.
    """
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        dsum(charge).alias("sum_charge"),
        (dsum(F.col("l_quantity")) / F.count("l_quantity")).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "a_daily_buckets",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor((value) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def a_daily_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 / §2.9: time-bucketed counts — the reference's
    `report_the_past` 7-day loop collapsed into one grouped pass.

    Reference: `scripts.py:613-632`. One scan + one shuffle instead
    of 7 sequential filtered scans.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


@register(
    "a_token_explode_sum",
    oracle="""
    SELECT word,
           COUNT(*) AS n_parts,
           CAST(SUM(p_size) AS BIGINT) AS total_size
    FROM (SELECT unnest(string_split(p_name, ' ')) AS word, p_size FROM part) t
    GROUP BY word
    """,
)
def a_token_explode_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/F3: split → explode → sum-by-key.

    Reference: `oclc/classify.py:396-464` (pipe-split multi-author),
    `oclc/classify.py:233-249` (weight accumulation).
    """
    p = load(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split(F.col("p_name"), " ")).alias("word"), "p_size")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("p_size").cast("bigint").alias("total_size"),
        )
    )


@register(
    "a_mode_top1",
    oracle="""
    SELECT p_type, p_brand AS top_brand, cnt
    FROM (
        SELECT p_type, p_brand, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY p_type
                                  ORDER BY COUNT(*) DESC, p_brand ASC) AS rn
        FROM part
        GROUP BY p_type, p_brand
    ) t
    WHERE rn = 1
    """,
)
def a_mode_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/W4: mode (top-1 by frequency) per group with a
    deterministic tiebreak — the reference's "most popular sort
    name" pattern.

    Reference: `viaf.py:533-539,613-614`,
    `oclc/linked_data.py:437-471` (best-name with tiebreaks).
    """
    p = load(spark, sf_dir, "part")
    counts = p.groupBy("p_type", "p_brand").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("p_type").orderBy(F.desc("cnt"), F.asc("p_brand"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_type", F.col("p_brand").alias("top_brand"), "cnt")
    )


@register(
    "a_conditional_max",
    oracle="""
    SELECT event_type,
           MAX(value) AS lifetime_max,
           MAX(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN value END) AS recent_max,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                         THEN CAST(floor(value * 10000 + 0.5) AS BIGINT) END) AS BIGINT)
           / 10000.0 AS recent_sum
    FROM events
    GROUP BY event_type
    """,
)
def a_conditional_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: conditional max with a recency cutoff — the popularity
    estimate pattern (`max(recent) vs max(lifetime)`).

    Reference: `content_cafe.py:396-423`.
    """
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    recent = F.when(F.col("ts") >= cutoff, F.col("value"))
    return ev.groupBy("event_type").agg(
        F.max("value").alias("lifetime_max"),
        F.max(recent).alias("recent_max"),
        (F.sum(F.floor(recent * 10000 + F.lit(0.5)).cast("bigint"))
         / F.lit(10000.0)).alias("recent_sum"),
    )


@register(
    "a_percentile_disc",
    oracle="""
    WITH ranked AS (
        SELECT c_acctbal,
               ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS rn,
               COUNT(*) OVER () AS n
        FROM customer
        WHERE c_acctbal IS NOT NULL  -- NULL rule shared with the plan
    )
    SELECT p, c_acctbal AS value
    FROM ranked
    JOIN (VALUES (0.25), (0.50), (0.75), (0.90)) pcts(p)
      ON rn = CAST(floor((n - 1) * p) AS BIGINT) + 1
    """,
)
def a_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: discrete percentiles (exact data values, no interpolation
    — engine-portable by construction).

    Reference: `bin/util/calculate_percentile:11-36`. Plan shape:
    all four percentiles are a SELECTION problem, so they ride the
    histogram-refinement operator (operators/selection.py) over the
    exact 1e-2 quantization of the 2-decimal currency (injective,
    so the quantized rank order IS the value order): one coarse
    bounds histogram + one endgame round, raw rows never shuffled.
    The original doubles come back lazily, from one pushdown-filtered
    probe on the four selected quanta joined to them.
    `a_percentile_cont` is the single-pass aggregate variant.
    """
    import math

    from metadata_wrangler_spark.operators.selection import grouped_select

    c = load(spark, sf_dir, "customer")
    q = c.select(
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint").alias("qb"),
        "c_acctbal",
    )

    def pct_ranks(st):
        return {
            str(p): int(math.floor((st.n - 1) * p)) + 1
            for p in (0.25, 0.50, 0.75, 0.90)
        }

    # domain contract: 1e-2-quantized account balances span < 2^31
    # (|c_acctbal| < 2.1e7) — two scans total.
    sel = grouped_select(q, "qb", pct_ranks, domain_bits=31)
    picked = [(p, m[str(p)]) for m in sel for p in (0.25, 0.50, 0.75, 0.90)]
    # recover the exact source doubles (quantization is injective on
    # 2-decimal currency): the rows of the picked quanta — a
    # pushed-down IN over a derived column — join the broadcast picks
    # lazily, one value per percentile.
    picks = local_frame(spark, picked, "p double, qb bigint")
    return (
        q.where(F.col("qb").isin(*{qb for _, qb in picked}))
        .join(F.broadcast(picks), "qb")
        .groupBy("p")
        .agg(F.min("c_acctbal").alias("value"))
    )


@register(
    "a_percentile_cont",
    oracle="""
    SELECT o_orderpriority,
           CAST(CAST(quantile_cont(o_totalprice, 0.50) AS DECIMAL(18,4)) AS DOUBLE) AS p50,
           CAST(CAST(quantile_cont(o_totalprice, 0.90) AS DECIMAL(18,4)) AS DOUBLE) AS p90
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def a_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (scale path): exact continuous percentiles as a true
    AGGREGATE — partial-aggregable, one shuffle on the group key, no
    ordered pass at all. Spark `percentile()` and DuckDB
    `quantile_cont` share the p·(n−1) linear-interpolation
    definition.

    Reference: `bin/util/calculate_percentile:11-36`.
    """
    o = load(spark, sf_dir, "orders")
    def q(p: float, alias: str):
        return (
            F.expr(f"percentile(o_totalprice, {p})")
            .cast("decimal(18,4)").cast("double").alias(alias)
        )
    return o.groupBy("o_orderpriority").agg(q(0.50, "p50"), q(0.90, "p90"))


# ---------------------------------------------------------------------------
# W2-W4 — windows / top-k / pagination
# ---------------------------------------------------------------------------

@register(
    "w_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
    ) t
    WHERE rn <= 3
    """,
)
def w_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: ranked top-k per group with deterministic tiebreak — the
    VIAF candidate-ranking shape.

    Reference: `viaf.py:393-450,800-826`. row_number + rn<=k is
    shuffle-once and AQE-skew-splittable, unlike a sorted collect.
    """
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "w_offset_pagination",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM (
        SELECT o_orderkey, o_custkey, o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
        FROM orders
    ) t
    WHERE rn BETWEEN 101 AND 135
    """,
)
def w_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: offset/limit pagination via a deterministic row_number
    slice (page 3 of size 35, the reference's feed size).

    Reference: `controller.py:429,675-678`, `scripts.py:85-96`.
    Single-partition window — serving-layer parity only; the scale
    path is `w_keyset_pagination` (operators.pagination).
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.withColumn("rn", F.row_number().over(W.orderBy("o_orderkey")))
        .where(F.col("rn").between(101, 135))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "w_keyset_pagination",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey > 400
    ORDER BY o_orderkey
    LIMIT 35
    """,
)
def w_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (scale path): seek-method pagination — cursor predicate +
    TakeOrdered limit. The `o_orderkey > cursor` filter pushes down
    to the scan, so page cost is independent of how deep the cursor
    is; no global sort, no window.

    Reference: replaces the offset loops at `scripts.py:85-96,159-167`.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return pagination.keyset_page(o, "o_orderkey", 400, 35)


# ---------------------------------------------------------------------------
# SO1-SO4 — set operations
# ---------------------------------------------------------------------------

@register(
    "so_except_intersect",
    oracle="""
    SELECT 'never_ordered' AS op, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        EXCEPT
        SELECT o_custkey FROM orders
    ) a
    UNION ALL
    SELECT 'urgent_buyer' AS op, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ) b
    """,
)
def so_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO1/SO2/SO4: EXCEPT + INTERSECT + UNION ALL — the
    needs-adding / already-in-catalog set split.

    Reference: `controller.py:522-531,736-744`.
    """
    c = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "AUTOMOBILE"
    ).select("c_custkey")
    o = load(spark, sf_dir, "orders")
    never = c.subtract(o.select(F.col("o_custkey").alias("c_custkey")))
    urgent = c.intersect(
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return never.select(F.lit("never_ordered").alias("op"), "c_custkey").unionByName(
        urgent.select(F.lit("urgent_buyer").alias("op"), "c_custkey")
    )


@register(
    "so_drop_duplicates",
    oracle="""
    SELECT DISTINCT l_orderkey, l_partkey, l_returnflag
    FROM lineitem
    WHERE l_quantity >= 45
    """,
)
def so_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO3: dedup within a stream of values.

    Reference: `content_cafe.py:243-262` (`already_seen` set),
    `oclc/linked_data.py:186-223` (`processed_uris`).
    """
    li = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 45)
    return li.select("l_orderkey", "l_partkey", "l_returnflag").dropDuplicates()


# ---------------------------------------------------------------------------
# F1-F15 — scalar function families (JVM-side, no Python UDFs)
# ---------------------------------------------------------------------------

@register(
    "f_regex_extract_ids",
    oracle="""
    SELECT c_custkey,
           CAST(regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS BIGINT) AS name_id,
           regexp_extract(o_orderpriority, '^([0-9])-', 1) AS priority_code
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 100 = 0
    """,
)
def f_regex_extract_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F10: regexp_extract families (lifespan/role/URL-id
    extraction in the reference).

    Reference: `viaf.py:70-96`, `oclc/classify.py:360-394`,
    `oclc/linked_data.py:96-104`.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0)
    return c.join(o, o.o_custkey == c.c_custkey).select(
        "c_custkey",
        F.regexp_extract(F.col("c_name"), r"Customer#([0-9]+)", 1)
        .cast("bigint").alias("name_id"),
        F.regexp_extract(F.col("o_orderpriority"), r"^([0-9])-", 1)
        .alias("priority_code"),
    )


@register(
    "f_normalize_fingerprint",
    oracle="""
    SELECT p_partkey,
           lower(replace(replace(p_name, ' ', '_'), '-', '_')) AS norm_name,
           -- concat_ws, not concat: both engines SKIP a NULL field
           -- (partial metadata still fingerprints), where concat
           -- would NULL the whole id on one side only
           md5(concat_ws('|', lower(p_name), lower(p_brand),
                         lower(p_type))) AS permanent_id
    FROM part
    """,
)
def f_normalize_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F13: normalization + permanent-work-ID hash.

    Reference: `scripts.py:42,396-414` (WorkIDCalculator = hash of
    normalized title/author/medium), `oclc/linked_data.py:456-458`.
    """
    p = load(spark, sf_dir, "part")
    norm = F.lower(F.replace(F.replace(F.col("p_name"), F.lit(" "), F.lit("_")),
                             F.lit("-"), F.lit("_")))
    pid = F.md5(F.concat_ws("|", F.lower(F.col("p_name")),
                            F.lower(F.col("p_brand")), F.lower(F.col("p_type"))))
    return p.select("p_partkey", norm.alias("norm_name"),
                    pid.alias("permanent_id"))


@register(
    "f_levenshtein_ratio",
    oracle="""
    WITH sample_c AS (
        SELECT c_custkey, c_name, substr(c_name, 10) AS digits
        FROM customer WHERE c_custkey % 10 = 0
    ), bucket AS (
        SELECT c_custkey, c_name, bn.band_no,
               concat(substr(digits, bn.band_no + 1, 1),
                      substr(digits, bn.band_no + 4, 1),
                      substr(digits, bn.band_no + 7, 1)) AS band_val
        FROM sample_c, (VALUES (0), (1), (2)) AS bn(band_no)
    ), cand AS (
        SELECT DISTINCT a.c_custkey AS key_a, b.c_custkey AS key_b,
               a.c_name AS name_a, b.c_name AS name_b
        FROM bucket a
        JOIN bucket b ON a.band_no = b.band_no
                     AND a.band_val = b.band_val
                     AND a.c_custkey < b.c_custkey
    )
    SELECT key_a, key_b,
           levenshtein(name_a, name_b) AS lev,
           100.0 * (1.0 - levenshtein(name_a, name_b) /
                    greatest(length(name_a), length(name_b))) AS ratio
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 2
    """,
)
def f_levenshtein_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: fuzzy-match ratio = 100*(1 - lev/maxlen), thresholded —
    the reference's name-verification check.

    Reference: `scripts.py:304-344` (ratio >= 40 verify),
    `viaf.py:326-388` (threshold cascade).

    Blocking: the name's digit body is banded into three INTERLEAVED
    3-char position groups (chars {i, i+3, i+6}); any pair within 2
    substitutions leaves at least one group untouched (pigeonhole —
    the groups partition the 9 positions), so the candidate join is
    an equi-join on (band_no, band_val). Interleaving matters:
    zero-padded keys make the LEADING characters near-constant, so
    contiguous chunks would put the whole table in one skewed bucket
    (measured ~1.1M candidate pairs vs ~90k interleaved at sf0.1);
    every interleaved group ends on a high-entropy trailing digit.
    The exact levenshtein filter then verifies candidates.

    Round-10 shape (guide §2.4/§2.3): a pair that collides in more
    than one band used to be deduplicated by a post-join
    `dropDuplicates` — an Exchange of the FULL multi-million-row
    candidate stream. Each bucket row now carries all three of its
    band values, and the join emits a pair only from its FIRST
    matching band (no earlier band also equal), so the candidate
    stream is duplicate-free by construction and flows straight into
    the verify filter with no shuffle. The verify itself uses the
    thresholded levenshtein (banded DP, O(len·k) not O(len²)): the
    query only keeps lev <= 2, and `levenshtein(a, b, 2)` returns the
    exact distance in that range (-1 past it), so the emitted values
    are unchanged. sf1 interleaved A/B: 8.52 s -> 2.27 s median.
    """
    c = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey", "c_name",
            F.substring(F.col("c_name"), 10, 9).alias("digits"),
        )
    )
    vals = F.array(*[
        F.concat(
            F.substring(F.col("digits"), i + 1, 1),
            F.substring(F.col("digits"), i + 4, 1),
            F.substring(F.col("digits"), i + 7, 1),
        )
        for i in range(3)
    ])
    # levenshtein is invariant under a shared prefix, so when BOTH
    # names are exactly 'Customer#' + digits the DP can run on the
    # 9-char digit body instead of the 18-char name (half the banded
    # DP); `lev_key` is the digit body when the format holds and the
    # full name otherwise (checked per ROW, so a mirror-ladder corpus
    # with arbitrary names still verifies on the full string — two
    # conforming names share the 9-char prefix by construction, and a
    # non-conforming name forces both sides onto the full-name DP)
    conforms = F.col("c_name") == F.concat(F.lit("Customer#"), F.col("digits"))
    bucket = c.select(
        "c_custkey", "c_name", vals.alias("vals"),
        F.when(conforms, F.col("digits")).otherwise(None).alias("lev_key"),
    ).select(
        "c_custkey", "c_name", "vals", "lev_key",
        F.posexplode("vals").alias("band_no", "band_val"),
    )
    a, b = bucket.alias("a"), bucket.alias("b")

    def matched(j: int):
        # "pair also collides at earlier band j" — band values are
        # never NULL for a row that reached the equi-join (substring
        # of a non-NULL name is at worst ''), but spell it NULL-safe
        # so a NULL band can never be treated as a match.
        return F.coalesce(
            F.col("a.vals")[j] == F.col("b.vals")[j], F.lit(False)
        )

    first_match = (F.col("a.band_no") == 0) | (
        ~matched(0) & ((F.col("a.band_no") == 1) | ~matched(1))
    )
    # the lev test lives INSIDE the join condition, explicitly LAST:
    # left to Catalyst (a post-join .where gets pushed down and
    # prepended) the DP ran before the cheap key< / first-match
    # conjuncts — on every ordered hash-match, ~2x the pair count

    def pair_lev(left: str, right: str):
        return F.when(
            F.col(f"{left}.lev_key").isNotNull()
            & F.col(f"{right}.lev_key").isNotNull(),
            F.levenshtein(
                F.col(f"{left}.lev_key"), F.col(f"{right}.lev_key"), 2
            ),
        ).otherwise(
            F.levenshtein(
                F.col(f"{left}.c_name"), F.col(f"{right}.c_name"), 2
            )
        )

    cand = a.join(
        b,
        (F.col("a.band_no") == F.col("b.band_no"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey"))
        & first_match
        & (pair_lev("a", "b") >= 0),
    ).select(
        F.col("a.c_custkey").alias("key_a"),
        F.col("b.c_custkey").alias("key_b"),
        pair_lev("a", "b").alias("lev"),
        F.greatest(
            F.length("a.c_name"), F.length("b.c_name")
        ).alias("max_len"),
    )
    ratio = 100.0 * (1.0 - F.col("lev") / F.col("max_len"))
    return cand.select(
        "key_a", "key_b", "lev", ratio.alias("ratio")
    )


@register(
    "f_date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date
    FROM orders
    WHERE o_orderkey % 50 = 0
    """,
)
def f_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: parse/extract/bucket/shift dates.

    Reference: `controller.py:417-427`, `content_cafe.py:384-394`
    (month buckets), `scripts.py:617-624` (now − interval).
    """
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date")
        .alias("order_month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
    )


@register(
    "f_isbn10_to_13",
    oracle="""
    WITH ten AS (
        SELECT p_partkey, lpad(CAST(p_partkey AS VARCHAR), 9, '0') AS body9
        FROM part WHERE p_partkey % 3 = 0
    ), checked AS (
        SELECT p_partkey, body9,
               (11 - ((10*CAST(body9[1] AS INT) + 9*CAST(body9[2] AS INT)
                     + 8*CAST(body9[3] AS INT) + 7*CAST(body9[4] AS INT)
                     + 6*CAST(body9[5] AS INT) + 5*CAST(body9[6] AS INT)
                     + 4*CAST(body9[7] AS INT) + 3*CAST(body9[8] AS INT)
                     + 2*CAST(body9[9] AS INT)) % 11)) % 11 AS cd10
        FROM ten
    ), thirteen AS (
        SELECT p_partkey,
               body9 || (CASE WHEN cd10 = 10 THEN 'X' ELSE CAST(cd10 AS VARCHAR) END) AS isbn10,
               '978' || body9 AS body12
        FROM checked
    )
    SELECT p_partkey, isbn10,
           body12 || CAST((10 - ((CAST(body12[1] AS INT) + 3*CAST(body12[2] AS INT)
                 + CAST(body12[3] AS INT) + 3*CAST(body12[4] AS INT)
                 + CAST(body12[5] AS INT) + 3*CAST(body12[6] AS INT)
                 + CAST(body12[7] AS INT) + 3*CAST(body12[8] AS INT)
                 + CAST(body12[9] AS INT) + 3*CAST(body12[10] AS INT)
                 + CAST(body12[11] AS INT) + 3*CAST(body12[12] AS INT)) % 10)) % 10 AS VARCHAR) AS isbn13
    FROM thirteen
    """,
)
def f_isbn10_to_13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: ISBN-10 → ISBN-13 conversion with checksum math, done
    entirely with built-in expressions (JVM codegen — no Python UDF
    in the hot path, unlike the reference's isbnlib call).

    Reference: `oclc/linked_data.py:693-702`, `monitor.py:92-95`.
    """
    from metadata_wrangler_spark.functions.isbn import (
        isbn10_check_digit, isbn10_to_13)

    p = load(spark, sf_dir, "part").where(F.col("p_partkey") % 3 == 0)
    body9 = F.lpad(F.col("p_partkey").cast("string"), 9, "0")
    cd10 = isbn10_check_digit(body9)
    isbn10 = F.concat(
        body9, F.when(cd10 == 10, F.lit("X")).otherwise(cd10.cast("string"))
    )
    return p.select(
        "p_partkey", isbn10.alias("isbn10"),
        isbn10_to_13(isbn10).alias("isbn13"),
    )


@register(
    "f_title_token_jaccard",
    oracle="""
    WITH tok AS (
        SELECT p_partkey, p_brand, unnest(string_split(p_name, ' ')) AS w
        FROM part
    ), sets AS (
        SELECT p_partkey, p_brand, COUNT(DISTINCT w) AS n_tokens
        FROM tok GROUP BY 1, 2
    ), shared AS (
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
               COUNT(DISTINCT a.w) AS n_shared
        FROM tok a
        JOIN tok b ON a.w = b.w AND a.p_brand = b.p_brand
                   AND a.p_partkey < b.p_partkey
        GROUP BY 1, 2
    )
    SELECT s.key_a, s.key_b,
           s.n_shared / (sa.n_tokens + sb.n_tokens - s.n_shared) AS jaccard
    FROM shared s
    JOIN sets sa ON sa.p_partkey = s.key_a
    JOIN sets sb ON sb.p_partkey = s.key_b
    WHERE s.n_shared / (sa.n_tokens + sb.n_tokens - s.n_shared) >= 0.5
    """,
)
def f_title_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15/A9: token-set Jaccard similarity join, blocked on brand —
    the reference's title-similarity measure re-expressed as
    candidate-generation (equi-join on shared token within a block)
    + exact score, instead of Python pairwise loops.

    Reference: `oclc/classify.py:816-839` (threshold 0.25 token
    overlap), `oclc/linked_data.py:1095-1104` (proportion overlap).
    """
    # Block-local Arrow kernel (round 11, operators/dedup.py
    # token_jaccard_blocked): ONE exchange of (key, brand, name)
    # rows replaces the whole pair-stream pipeline — the r7
    # bucket-HOF expansion still shuffled one row per (shared
    # token, pair) into a pair-keyed aggregate, and that stream
    # barely aggregates on this corpus (sf0.1: 2.0M exploded rows →
    # 1.87M distinct pairs), so its exchange + hash-agg + the two
    # size join-backs + the cached base projection were nearly pure
    # overhead. Interleaved A/Bs, rows/checksums identical: sf0.1
    # 2.21 → 0.46 s, sf1 2.80 → 1.21 s, sf10 47.2 → 24.0 s medians
    # (24.1 → 20.8 s best samples under host bursts).
    p = load(spark, sf_dir, "part")
    return dedup_ops.token_jaccard_blocked(
        p, key_col="p_partkey", block_col="p_brand",
        text_col="p_name", threshold=0.5,
    )


@register(
    "a_category_pct",
    oracle="""
    WITH counts AS (
        SELECT o_orderpriority AS category, COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority
    )
    SELECT category, n,
           CAST(CAST(100.0 * n / (SELECT SUM(n) FROM counts)
                AS DECIMAL(18,6)) AS DOUBLE) AS pct
    FROM counts
    """,
)
def a_category_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: count-by-category with percentage of total — the backlog
    report's derived column. The total enters as a broadcast 1-row
    aggregate, not a second scan.

    Reference: `scripts.py:654-664`.
    """
    o = load(spark, sf_dir, "orders")
    counts = o.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "category", "n",
        (100.0 * F.col("n") / F.col("_total"))
        .cast("decimal(18,6)").cast("double").alias("pct"),
    )


@register(
    "j_first_match",
    oracle="""
    SELECT o_custkey AS identifier_id,
           o_orderdate AS first_ts,
           o_orderkey AS first_key
    FROM (
        SELECT o_custkey, o_orderdate, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders WHERE o_orderstatus = 'O'
          AND o_orderdate IS NOT NULL  -- no timestamp = never "first"
    ) t WHERE rn = 1
    """,
)
def j_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: existence probe / first-match — `get_one` semantics as a
    min_by aggregate (one map-side-combinable pass; no window, no
    sort).

    Reference: `scripts.py:228-233` (get_one Complaint),
    `viaf.py:780-782` (first duplicate probe).
    """
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderstatus") == "O")
        # no timestamp = never "first" (a NULL date would win the
        # struct-min, since Spark orders NULL struct fields first)
        & F.col("o_orderdate").isNotNull()
    )
    return o.groupBy(F.col("o_custkey").alias("identifier_id")).agg(
        F.min("o_orderdate").alias("first_ts"),
        F.min_by(
            "o_orderkey", F.struct("o_orderdate", "o_orderkey")
        ).alias("first_key"),
    )


@register(
    "w_order_by_rank",
    oracle="""
    SELECT n_name, total_customers,
           CAST(ROW_NUMBER() OVER (ORDER BY total_customers DESC, n_name)
                AS INT) AS rank
    FROM (
        SELECT n.n_name, COUNT(*) AS total_customers
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    ) t
    """,
)
def w_order_by_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: ORDER BY made hash-visible — the sort position is
    materialized as a rank column (the driver's value hash is
    order-insensitive, so a bare ORDER BY is unobservable). The
    global window runs over the 25-row aggregate, never raw rows.

    Reference: `canonicalize.py:228-230`, `scripts.py:76` (ordered
    reports).
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    agg = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("total_customers"))
    )
    rank = F.row_number().over(
        W.orderBy(F.desc("total_customers"), F.asc("n_name"))
    )
    return agg.select(
        "n_name", "total_customers", rank.cast("int").alias("rank")
    )


@register(
    "w_viaf_candidate_score",
    oracle="""
    WITH cand AS (
        SELECT c.c_custkey AS query_id,
               o.o_orderkey AS candidate_id,
               CAST(
                   2.0 * (CASE WHEN o.o_orderstatus = 'O' THEN 10 ELSE 0 END)
                 + 0.5 * (CASE WHEN o.o_orderpriority = '1-URGENT'
                               THEN 20 ELSE 0 END)
                 + 0.8 * least(o.o_totalprice / 2000.0, 50.0)
                 - 10.0 * (o.o_orderkey % 3)
               AS DECIMAL(18,4)) AS score
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey % 20 = 0
    )
    SELECT query_id, candidate_id, CAST(score AS DOUBLE) AS score
    FROM (
        SELECT query_id, candidate_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, candidate_id) AS rn
        FROM cand
    ) t
    WHERE rn = 1 AND score >= 30.0
    """,
)
def w_viaf_candidate_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: the VIAF candidate-selection shape — a multi-component
    weighted score per candidate (match bonuses, popularity penalty),
    per-query top-1 by score with deterministic tiebreak, and an
    acceptance threshold. Decomposed into column arithmetic +
    one window instead of the reference's per-candidate Python loop.

    Reference: `viaf.py:144-231` (weighted scoring), `:393-450,
    800-826` (sort desc, pick first, threshold).
    """
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") % 20 == 0)
    o = load(spark, sf_dir, "orders")
    score = (
        2.0 * F.when(F.col("o_orderstatus") == "O", 10).otherwise(0)
        + 0.5 * F.when(F.col("o_orderpriority") == "1-URGENT", 20).otherwise(0)
        + 0.8 * F.least(F.col("o_totalprice") / 2000.0, F.lit(50.0))
        - 10.0 * (F.col("o_orderkey") % 3)
    ).cast("decimal(18,4)")
    cand = c.join(o, o.o_custkey == c.c_custkey).select(
        F.col("c_custkey").alias("query_id"),
        F.col("o_orderkey").alias("candidate_id"),
        score.alias("score"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("candidate_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("score") >= 30.0))
        .select("query_id", "candidate_id",
                F.col("score").cast("double").alias("score"))
    )


@register(
    "f_token_sort_ratio",
    oracle="""
    WITH pairs AS (
        SELECT p_partkey,
               array_to_string(list_sort(string_split(p_name, ' ')), ' ')
                   AS sorted_a,
               array_to_string(list_sort(string_split(
                   reverse(p_name), ' ')), ' ') AS sorted_b
        FROM part WHERE p_partkey % 15 = 0
    )
    SELECT p_partkey,
           CAST(100.0 * (1.0 - levenshtein(sorted_a, sorted_b) /
                greatest(length(sorted_a), length(sorted_b)))
                AS DOUBLE) AS token_sort_ratio
    FROM pairs
    """,
)
def f_token_sort_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: fuzzywuzzy-style token_sort_ratio — sort the tokens of
    both strings, then levenshtein ratio on the canonical forms
    (word-order-insensitive fuzzy match; the reference's 90/80/70/60
    threshold cascade applies on top). Pure built-ins: array_sort +
    concat + levenshtein.

    Reference: `viaf.py:6,126-130,326-388` (fuzzywuzzy cascade).
    """
    p = load(spark, sf_dir, "part").where(F.col("p_partkey") % 15 == 0)
    def canon(col):
        return F.array_join(F.array_sort(F.split(col, " ")), " ")
    a = canon(F.col("p_name"))
    b = canon(F.reverse(F.col("p_name")))
    lev = F.levenshtein(a, b)
    ratio = 100.0 * (1.0 - lev / F.greatest(F.length(a), F.length(b)))
    return p.select(
        "p_partkey", ratio.cast("double").alias("token_sort_ratio")
    )


@register(
    "j_skew_salted_join",
    oracle="""
    WITH ev AS (
        SELECT CASE WHEN user_id % 10 < 7 THEN 1 ELSE user_id END
                   AS join_key,
               value
        FROM events
    ), dim AS (
        SELECT c_custkey AS join_key, c_mktsegment
        FROM customer WHERE c_custkey <= 1500
    )
    SELECT dim.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor((ev.value) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS total_value
    FROM ev JOIN dim ON ev.join_key = dim.join_key
    GROUP BY dim.c_mktsegment
    """,
)
def j_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join under explicit salting (operators.skew): 70% of
    the fact rows collapse onto ONE join key (a Zipf-like head), the
    dimension is forced through a SHUFFLE_HASH join — the shape where
    an unsalted shuffle sends 70% of the data to one reducer and the
    straggler owns the job's wall-clock.

    salted_join spreads the hot key across n_salts reducers by
    hashing the whole fact row into a salt and replicating the
    dimension ×n_salts; the result is identical to the plain join
    (the oracle IS the plain join), only the partitioning differs.
    At 100 TB this — or AQE's skew splitting, which this class of
    rewrite predates and still beats when skew is known a priori —
    is the difference between a balanced stage and a 1000× straggler.

    Reference analogue: identifier lookups fan in to a handful of
    very popular works (`coverage_provider.py:346-354` registers by
    identifier; popular identifiers dominate).
    """
    from metadata_wrangler_spark.operators import skew

    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 10 < 7, F.lit(1).cast("bigint"))
        .otherwise(F.col("user_id")).alias("join_key"),
        "value",
    )
    dim = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 1500)
        .select(F.col("c_custkey").alias("join_key"), "c_mktsegment")
        # Keep the dimension out of broadcast: the point is to
        # exercise the salted SHUFFLE path the operator exists for.
        .hint("shuffle_hash")
    )
    joined = skew.salted_join(ev, dim, "join_key", n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("total_value"),
    )


@register(
    "a_rollup_report",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(floor((l_quantity) * 10000 + 0.5) AS BIGINT))
                AS BIGINT) / 10000.0 AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- empty-input convention: Spark expands grouping sets from the
    -- input rows, so an empty table yields NO rows — drop the ANSI
    -- zero-count grand-total row the oracle would otherwise emit.
    -- No-op on non-empty input (every grouping-set row aggregates
    -- at least one row, so COUNT(*) >= 1).
    HAVING COUNT(*) > 0
    """,
)
def a_rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity report via ROLLUP — per-(flag, status),
    per-flag subtotal, and grand-total rows from ONE aggregation
    (the reference builds its report totals with separate queries,
    `scripts.py:654-664`; grouping sets collapse them into a single
    pass — Spark expands the rollup map-side, so it is still one
    shuffle).

    Null grouping keys from the rollup are relabeled 'ALL' (the
    grouping columns are non-null in this schema, so the label is
    unambiguous).
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL"))
            .alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL"))
            .alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


@register(
    "a_string_agg",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def a_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): nation names
    per region, sorted then joined — deterministic regardless of
    partitioning because the sort happens INSIDE the aggregate
    (collect_list alone is partition-order-dependent; array_sort
    makes the result well-defined, which is the only safe spelling
    on a shuffle engine).
    """
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",")
            .alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@register(
    "so_multiset_ops",
    oracle="""
    SELECT 'shipped_minus_returned' AS op, l_orderkey FROM (
        SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
        EXCEPT ALL
        SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    ) a
    UNION ALL
    SELECT 'both_multiset' AS op, l_orderkey FROM (
        SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
        INTERSECT ALL
        SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    ) b
    """,
)
def so_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations — EXCEPT ALL / INTERSECT ALL preserve
    DUPLICATE COUNTS (a key appearing 3× minus 1× leaves 2 copies),
    the semantics the distinct-set twins (so_except_intersect) erase.
    This is also what the version-diff change feed
    (VersionedParquetTable.changes) relies on.

    Scale shape: Spark plans both as aggregate-on-counts + replicate
    — one shuffle per operand, no join explosion.
    """
    li = load(spark, sf_dir, "lineitem")
    shipped = li.where(F.col("l_linestatus") == "F").select("l_orderkey")
    returned = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    minus = shipped.exceptAll(returned).select(
        F.lit("shipped_minus_returned").alias("op"), "l_orderkey"
    )
    both = shipped.intersectAll(returned).select(
        F.lit("both_multiset").alias("op"), "l_orderkey"
    )
    return minus.unionByName(both)


# --- Grouped linear regression (exact integer accumulation) ----------------

@register(
    "a_regr_trend",
    oracle="""
    WITH q AS (
        SELECT p.p_brand,
               CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT) AS qx,
               CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS qy
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), s AS (
        SELECT p_brand,
               COUNT(*) AS n,
               SUM(qx) AS sx, SUM(qy) AS sy,
               SUM(qx * qy) AS sxy, SUM(qx * qx) AS sxx
        FROM q GROUP BY p_brand
    )
    SELECT p_brand, n,
           CAST(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                     / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0)
                AS DECIMAL(18,6)) AS DOUBLE) AS slope,
           CAST(CAST((CAST(sy AS DOUBLE)
                      - (CAST(n * sxy - sx * sy AS DOUBLE)
                         / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0))
                        * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE) / 100.0
                AS DECIMAL(18,6)) AS DOUBLE) AS intercept
    FROM s
    """,
)
def a_regr_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand least-squares trend of extended price on quantity —
    grouped linear regression (regr_slope / regr_intercept) computed
    from exact integer moment sums so both engines produce
    bit-identical slopes regardless of summation order.

    Reference: the reference computes per-source quality weights and
    success-rate trends over coverage sweeps (`scripts.py:442-454`);
    a grouped OLS fit is the analytic generalization.

    Scale design: one part join (broadcast at bench scales by the
    optimizer's own threshold — part is SF-scaled, so no hint; see
    the inline comment) + TWO-LEVEL
    exact moment sums — the row-level pass accumulates the five
    integer moments in BIGINT per (brand, orderkey-block) where the
    block width bounds rows-per-group BY CONSTRUCTION (2^22 orders ×
    ~7 lines ≈ 2^25 rows; with |qx·qy| ≤ 2^37 from the 1e-2
    quantized domains the partial sum stays under 2^62), then the
    tiny partial table folds into DECIMAL(38,0) (HUGEINT in the
    oracle) per brand. Same single scan and map-side combine as a
    flat decimal aggregate, but the per-row arithmetic is long
    arithmetic in codegen — measured 2.2x cheaper than per-row
    Int128 (0.86 -> ~0.4 s at sf0.1); n*Sxy - Sx*Sy stays exact at
    any row count before one final float division per group.
    """
    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part")
    d38 = "decimal(38,0)"
    # No broadcast HINT: part is SF-scaled (not a true dimension), so
    # the side's size is the optimizer's call — under the session's
    # 64 MB autoBroadcastJoinThreshold the pruned (p_partkey, p_brand)
    # projection broadcasts at every bench scale anyway (same plan),
    # while a 100 TB part table falls back to a shuffle join on stats.
    q = li.join(pt, li.l_partkey == pt.p_partkey).select(
        "p_brand",
        F.shiftright(F.col("l_orderkey"), 22).alias("blk"),
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
        .cast("bigint").alias("qx"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint").alias("qy"),
    )
    part_sums = q.groupBy("p_brand", "blk").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("qx").alias("px"),
        F.sum("qy").alias("py"),
        F.sum(F.col("qx") * F.col("qy")).alias("pxy"),
        F.sum(F.col("qx") * F.col("qx")).alias("pxx"),
    )
    s = part_sums.groupBy("p_brand").agg(
        F.sum("pn").alias("n"),
        F.sum(F.col("px").cast(d38)).alias("sx"),
        F.sum(F.col("py").cast(d38)).alias("sy"),
        F.sum(F.col("pxy").cast(d38)).alias("sxy"),
        F.sum(F.col("pxx").cast(d38)).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    # arith-guard NULL rule: a degenerate group (single point, or all
    # x identical) has no least-squares slope — NULL on both engines
    # (oracle: NULLIF on the same denominator). Found by the tiny
    # ladder: ANSI mode raises DIVIDE_BY_ZERO on the bare division.
    slope = num / F.nullif(den, F.lit(0.0))
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double") / F.lit(100.0)
    )
    return s.select(
        "p_brand",
        "n",
        slope.cast("decimal(18,6)").cast("double").alias("slope"),
        intercept.cast("decimal(18,6)").cast("double").alias("intercept"),
    )


# --- Explicit bloom-filter semi-join pruning -------------------------------

_BLOOM_M = 1024   # bits
_BLOOM_K = 3      # hash functions
# affine universal-hash family over the Mersenne prime 2^31-1:
# integer keys hash with two multiplies and two mods — JVM-codegen
# arithmetic, ~100x cheaper than an md5-string hash per probe, and
# bit-identical in any engine (no string formatting, no hex).
_BLOOM_P = 2147483647
_BLOOM_AB = ((823117, 572807), (1500450271, 97231), (492876847, 1299709))


def _bloom_pos_sql(key: str, i: int) -> str:
    """DuckDB: hash slot i of `key` — mirrors the Spark side bit
    for bit."""
    a, b = _BLOOM_AB[i]
    return f"(({key} * {a} + {b}) % {_BLOOM_P}) % {_BLOOM_M}"


def _bloom_pos_col(key: F.Column, i: int) -> F.Column:
    a, b = _BLOOM_AB[i]
    return ((key * F.lit(a) + F.lit(b)) % _BLOOM_P) % _BLOOM_M


@register(
    "j_bloom_prune",
    oracle=f"""
    WITH needles AS (
        SELECT c_custkey FROM customer WHERE c_nationkey = 3
    ), bloom AS (
        SELECT DISTINCT pos FROM (
            {' UNION ALL '.join(
                f"SELECT {_bloom_pos_sql('c_custkey', i)} AS pos FROM needles"
                for i in range(_BLOOM_K)
            )}
        )
    ), probe AS (
        SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
    ), hits AS (
        SELECT p.o_orderkey, p.o_custkey, p.o_orderpriority,
               COUNT(DISTINCT p.i) AS k_hit
        FROM (
            {' UNION ALL '.join(
                f"SELECT o_orderkey, o_custkey, o_orderpriority, {i} AS i, "
                f"{_bloom_pos_sql('o_custkey', i)} AS pos FROM probe"
                for i in range(_BLOOM_K)
            )}
        ) p
        JOIN bloom b ON b.pos = p.pos
        GROUP BY 1, 2, 3
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_bloom_pass,
           CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM needles)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_true
    FROM hits
    WHERE k_hit = {_BLOOM_K}
    GROUP BY o_orderpriority
    """,
)
def j_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit bloom-filter semi-join pruning: hash a small needle
    key set into a {_BLOOM_M}-bit / {_BLOOM_K}-hash bloom
    materialized as a distinct-slot table, probe the fact side
    against it, and report per-priority how many rows pass the
    bloom vs how many are true matches (the false-positive margin).

    Reference: the reference pre-filters coverage sweeps with an
    in-memory set of already-covered identifiers before hitting the
    database (`coverage.py` CoverageRecord lookups); a bloom table
    is that set made shuffle-free at scale.

    Scale design: the bloom collapses to ONE row holding the sorted
    slot array (at most {_BLOOM_M} elements regardless of needle
    count) — it broadcasts even when the needle set itself would
    not, which is the whole point. The probe is then a narrow map
    stage (k array_contains per row, no shuffle of the fact table),
    and only bloom-positive rows (true matches + a bounded
    false-positive tail) reach the exact broadcast join. Spark can
    inject this automatically (runtime bloom filters); the explicit
    form is reusable across jobs and sizable per key set.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    needles = cust.where(F.col("c_nationkey") == 3).select("c_custkey")
    # The bloom "bitset": one row holding the sorted distinct slot
    # array (<= _BLOOM_M elements). Broadcast as a scalar row, so
    # the probe is a narrow map stage — array_contains per hash,
    # exactly how a task-local bloom bitset behaves on a cluster.
    bloom_row = (
        needles.select(
            F.explode(
                F.array(
                    *[
                        _bloom_pos_col(F.col("c_custkey"), i)
                        for i in range(_BLOOM_K)
                    ]
                )
            ).alias("pos")
        )
        .agg(F.sort_array(F.collect_set("pos")).alias("slots"))
    )
    probe = orders.select("o_orderkey", "o_custkey", "o_orderpriority")
    passed = probe.crossJoin(F.broadcast(bloom_row))
    for i in range(_BLOOM_K):
        passed = passed.where(
            F.array_contains(
                F.col("slots"), _bloom_pos_col(F.col("o_custkey"), i)
            )
        )
    flagged = passed.join(
        F.broadcast(
            needles.withColumnRenamed("c_custkey", "o_custkey")
            .withColumn("is_true", F.lit(1))
        ),
        "o_custkey",
        "left",
    )
    return flagged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.sum(F.coalesce(F.col("is_true"), F.lit(0))).alias("n_true"),
    )


# --- CUBE multi-granularity report ----------------------------------------

@register(
    "a_cube_report",
    oracle="""
    SELECT coalesce(l_returnflag, '~') AS rflag,
           coalesce(l_linestatus, '~') AS lstatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(floor((l_extendedprice) * 10000 + 0.5)
                    AS BIGINT)) AS BIGINT) / 10000.0 AS sum_price
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    -- empty-input convention: see a_rollup_report — Spark's Expand
    -- yields no rows over an empty input; drop the ANSI zero-count
    -- grand-total row. No-op on non-empty input.
    HAVING COUNT(*) > 0
    """,
)
def a_cube_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): every granularity —
    per-pair, per-flag subtotal, per-status subtotal, grand total —
    in ONE aggregation pass, each row tagged with its grouping-set
    id. The ROLLUP twin (`a_rollup_report`) covers the hierarchy
    case; CUBE covers the full lattice a reporting layer slices.

    Subtotal NULLs are folded to '~' so they are distinguishable
    from (non-existent here) real NULL group keys; gid carries the
    exact grouping set either way.

    Scale design: Spark expands grouping sets BEFORE the shuffle
    (Expand operator: 4 rows per input row here) then runs one
    partial+final hash aggregate — same shuffle shape as a plain
    groupBy, factor-of-sets map-side amplification, no extra pass.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("~")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("~")).alias("lstatus"),
            "gid",
            "n_rows",
            "sum_price",
        )
    )


# --- Z-score anomaly detection --------------------------------------------

@register(
    "a_anomaly_zscore",
    oracle="""
    WITH q AS (
        SELECT event_id, event_type,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS qv
        FROM events
    ), m AS (
        SELECT event_type,
               COUNT(*) AS n, SUM(qv) AS sx,
               SUM(qv * qv) AS sxx
        FROM q GROUP BY event_type
    )
    SELECT q.event_id, q.event_type,
           CAST(CAST(
               (CAST(q.qv AS DOUBLE) - CAST(m.sx AS DOUBLE) / m.n)
               / sqrt((CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                       - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
                      / (CAST(m.n AS DOUBLE) * (m.n - 1)))
           AS DECIMAL(18,6)) AS DOUBLE) AS zscore
    FROM q JOIN m ON m.event_type = q.event_type
    WHERE abs(
               (CAST(q.qv AS DOUBLE) - CAST(m.sx AS DOUBLE) / m.n)
               / sqrt((CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                       - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
                      / (CAST(m.n AS DOUBLE) * (m.n - 1)))
          ) > 3.0
    """,
)
def a_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers: events whose value sits more than
    3 sample standard deviations from the type mean — the
    quality-control sweep a metrics pipeline runs before trusting a
    day's data.

    Mean and variance come from exact integer moment sums (values
    quantized at 1e-4, accumulated as BIGINT/HUGEINT), so the
    statistics are partition-order-independent; the only float ops
    (one divide chain + one sqrt, both correctly-rounded IEEE) are
    spelled identically in both engines.

    Scale design: one map-side-partial aggregate for the moments,
    one broadcast join back (per-type stats are a handful of rows),
    filter in codegen — two scans of events, no window, no shuffle
    of the fact table.
    """
    ev = load(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    q = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5))
        .cast("bigint").alias("qv"),
    )
    m = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qv").cast(d38)).alias("sx"),
        F.sum((F.col("qv") * F.col("qv")).cast(d38)).alias("sxx"),
    )
    joined = q.join(F.broadcast(m), "event_type")
    mean = F.col("sx").cast("double") / F.col("n")
    var = (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    z = (F.col("qv").cast("double") - mean) / F.sqrt(var)
    return (
        joined.where(F.abs(z) > 3.0)
        .select(
            "event_id",
            "event_type",
            z.cast("decimal(18,6)").cast("double").alias("zscore"),
        )
    )


@register(
    "w_percent_rank_cume",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume_dist
    FROM customer
    WHERE c_acctbal > 5000
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def w_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position windows: PERCENT_RANK + CUME_DIST per
    market segment — the calibration curve behind the reference's
    percentile-based quality cutoffs (`measurement.py` percentile
    normalization of external ratings), exposed as window functions
    rather than a pre-computed lookup.

    Both functions are rational in integer rank/count quantities
    ((rank-1)/(n-1), rows<=x / n), so the doubles are single exact
    IEEE divisions — bit-identical cross-engine with no
    quantization needed. The deterministic (c_acctbal, c_custkey)
    order makes tie handling hash-stable.

    Scale design: the per-segment rank rides the GROUPED
    range-bucketed prefix operator (operators/prefix.py) —
    c_mktsegment has FIVE values, so a plain
    partitionBy(c_mktsegment) window sorts a fifth of all customers
    in one task. The filter pushes to the scan; per-segment totals
    come from a broadcast aggregate. percent_rank = (rn−1)/(n−1)
    and — because the order tuple ends in the unique c_custkey,
    every row is its own peer group — cume_dist = rn/n, both single
    exact IEEE divisions as before.
    """
    from metadata_wrangler_spark.operators.prefix import global_order_stats

    c = load(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000)
    ranked = global_order_stats(
        c.select("c_mktsegment", "c_custkey", "c_acctbal"),
        [F.asc("c_acctbal"), F.asc("c_custkey")],
        group_cols=["c_mktsegment"], rank_col="rn", total_col="n",
    )
    return ranked.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.when(F.col("n") > 1,
               (F.col("rn") - 1) / (F.col("n") - 1))
        .otherwise(F.lit(0.0)).alias("pct_rank"),
        (F.col("rn") / F.col("n")).alias("cume_dist"),
    )


# ---------------------------------------------------------------------------
# W8: NTILE quartile assignment (scale-safe spelling)
# ---------------------------------------------------------------------------


@register(
    "w_ntile",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           -- NULLS FIRST = Spark's ascending default; every row
           -- (incl. NULL balances) gets a tile, so the placement of
           -- the NULL tie-class must match across engines
           CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal NULLS FIRST, c_custkey)
                AS BIGINT) AS tile
    FROM customer
    """,
)
def w_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) balance quartiles per market segment — the
    segmentation primitive behind ABC tiers, spend quartiles and
    decile reports. ANSI NTILE semantics exactly: bucket sizes
    differ by at most one, larger buckets first, deterministic tie
    order (balance, then key).

    Scale shape: NTILE is rank arithmetic, so it rides the GROUPED
    range-bucketed prefix operator (operators/prefix.py) rather
    than a Window.partitionBy(segment) — five segments over the
    full customer table would serialize a fifth of it into one
    task's sort. With rank rn and group size n (total_col, free
    from the offsets table): q = n DIV 4, r = n % 4; the first r
    tiles take q+1 rows. Pure integer CASE arithmetic, codegen'd.
    """
    from metadata_wrangler_spark.operators.prefix import global_order_stats

    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    r = global_order_stats(
        c,
        [F.asc("c_acctbal"), F.asc("c_custkey")],
        group_cols=["c_mktsegment"],
        rank_col="rn",
        total_col="n",
    )
    tile = F.expr(
        "CASE WHEN rn <= (n DIV 4 + 1) * (n % 4) "
        "THEN (rn - 1) DIV (n DIV 4 + 1) + 1 "
        "ELSE (n % 4) + (rn - 1 - (n DIV 4 + 1) * (n % 4)) "
        "DIV (n DIV 4) + 1 END"
    )
    return r.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        tile.cast("bigint").alias("tile"),
    )


# ---------------------------------------------------------------------------
# SO5: schema evolution across snapshots (unionByName)
# ---------------------------------------------------------------------------


@register(
    "so_schema_evolution",
    oracle="""
    WITH v1 AS (
        SELECT doc_id, lang, source, CAST(NULL AS BIGINT) AS n_chars
        FROM documents WHERE doc_id % 2 = 0
    ), v2 AS (
        SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source, n_chars
        FROM documents WHERE doc_id % 2 = 1
    ), u AS (
        SELECT * FROM v1 UNION ALL SELECT * FROM v2
    )
    SELECT lang,
           COUNT(*) AS n_rows,
           COUNT(source) AS with_source,
           COUNT(n_chars) AS with_chars,
           CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS total_chars
    FROM u GROUP BY lang
    """,
)
def so_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union across two snapshot generations whose schemas drifted —
    the v1 extract carries ``source`` but predates ``n_chars``; the
    v2 extract added ``n_chars`` and dropped ``source``. The engine
    aligns them by COLUMN NAME with null-fill for either side's
    missing columns (``unionByName(allowMissingColumns=True)`` —
    positional UNION would silently zip source against n_chars),
    then audits per-language field coverage, the first question
    after any schema migration.

    Scale shape: two pruned scans of the same table (each reading
    only its generation's columns — check ReadSchema), one hash
    aggregate. The name-alignment is plan-time only; no runtime
    cost over a plain union.
    """
    docs = load(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "source"
    )
    v2 = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars"
    )
    u = v1.unionByName(v2, allowMissingColumns=True)
    return u.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("source").alias("with_source"),
        F.count("n_chars").alias("with_chars"),
        F.sum(F.coalesce(F.col("n_chars"), F.lit(0)))
        .cast("bigint").alias("total_chars"),
    )


@register(
    "a_histogram",
    oracle="""
    WITH bounds AS (
        SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
        FROM lineitem
    ), bucketed AS (
        SELECT CAST(least(9, floor((l_extendedprice - mn)
                                   / ((mx - mn) / 10.0))) AS BIGINT)
                   AS bucket,
               mn, mx
        FROM lineitem CROSS JOIN bounds
    )
    SELECT bucket,
           mn + bucket * ((mx - mn) / 10.0) AS lo,
           mn + (bucket + 1) * ((mx - mn) / 10.0) AS hi,
           COUNT(*) AS n
    FROM bucketed
    GROUP BY bucket, mn, mx
    """,
)
def a_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (10 buckets over the observed price
    range) — the profiling sweep a stats collector runs per column;
    DuckDB 1.0 has no width_bucket, so BOTH engines spell the
    bucket arithmetic with the identical expression tree (exact
    same IEEE ops -> identical bucket asymptotics and edge bits).

    Reference behavior: distribution reports over measurement
    values (`measurement.py` quantile normalization tables).

    Scale design: min/max is one tiny aggregate entering as a
    broadcast 1-row cross join (scalar-subquery shape); the bucket
    id is codegen arithmetic; the groupBy has 10 groups with
    map-side partials. One full scan, one 10-row shuffle.
    """
    li = load(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
    )
    width = (F.col("mx") - F.col("mn")) / 10.0
    bucket = F.least(
        F.lit(9),
        F.floor((F.col("l_extendedprice") - F.col("mn")) / width),
    ).cast("long")
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "mn", "mx")
        .groupBy("bucket", "mn", "mx")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.col("mn") + F.col("bucket") * width).alias("lo"),
            (F.col("mn") + (F.col("bucket") + 1) * width).alias("hi"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# A10+: ABC / Pareto revenue classification
# ---------------------------------------------------------------------------


@register(
    "a_abc_pareto",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey AS suppkey,
               SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000
                              + 0.5) AS BIGINT)) AS qrev
        FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT SUM(qrev) AS total FROM rev),
    ranked AS (
        SELECT suppkey, qrev,
               ROW_NUMBER() OVER (ORDER BY qrev DESC, suppkey ASC)
                   AS rev_rank,
               SUM(qrev) OVER (ORDER BY qrev DESC, suppkey ASC
                               ROWS UNBOUNDED PRECEDING) AS cum
        FROM rev
    )
    SELECT suppkey, CAST(qrev AS BIGINT) / 10000.0 AS revenue,
           rev_rank,
           CAST((1000000::HUGEINT * cum) // tot.total AS BIGINT)
               AS cum_share_ppm,
           CASE WHEN (1000000::HUGEINT * cum) // tot.total <= 800000
                    THEN 'A'
                WHEN (1000000::HUGEINT * cum) // tot.total <= 950000
                    THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked CROSS JOIN tot
    """,
)
def a_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of suppliers by revenue: rank by
    discounted revenue, cumulative revenue share in exact ppm, class
    A up to 80% of total, B to 95%, C beyond — the 80/20 inventory/
    vendor analysis every procurement dashboard runs. Revenue is the
    1e-4-quantized exact integer sum (order-independent), and the
    cumulative share stays integer to the end (HUGEINT/DECIMAL(38)
    product before the divide), so the class boundaries cannot drift
    between engines.

    Scale shape: the fact table collapses to one row per supplier
    FIRST (map-side-partial hash aggregate — the only stage that
    touches raw lineitem). The cumulative sum over suppliers is the
    textbook SinglePartition trap, so the Spark side computes it
    with the DISTRIBUTED PREFIX operator (operators/prefix.py):
    range-bucketed running sums (balanced partitions by sampled
    boundaries — immune to the magnitude skew a bit-length bucket
    key suffers when most revenues cluster in one decade), bucket
    offsets from one prefix-summing aggregate, offset + local sum.
    The oracle's flat global window is the semantic spec.
    """
    from metadata_wrangler_spark.operators.prefix import global_order_stats

    li = load(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(F.floor(disc * 10000 + F.lit(0.5)).cast("bigint"))
        .alias("qrev")
    )
    tot = rev.agg(F.sum("qrev").alias("total"))
    # distributed prefix sum over (qrev DESC, suppkey ASC) — the
    # range-bucketed operator (balanced partitions even when most
    # revenues share a magnitude; this plan's first spelling
    # bucketed by bit length, which skews exactly then)
    ranked = (
        global_order_stats(
            rev,
            [F.desc("qrev"), F.asc("suppkey")],
            cum_cols=["qrev"],
            rank_col="rev_rank",
        )
        .select(
            "suppkey", "qrev", "rev_rank",
            F.col("cum_qrev").alias("cum"),
        )
        .crossJoin(F.broadcast(tot))
    )
    ppm = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * CAST(cum AS DECIMAL(38,0)))"
        " DIV CAST(total AS DECIMAL(38,0)) AS BIGINT)"
    )
    return ranked.select(
        "suppkey",
        (F.col("qrev").cast("bigint") / 10000.0).alias("revenue"),
        "rev_rank",
        ppm.alias("cum_share_ppm"),
        F.when(ppm <= 800000, "A")
        .when(ppm <= 950000, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# ---------------------------------------------------------------------------
# A12: Benford first-digit audit
# ---------------------------------------------------------------------------


@register(
    "a_benford_digits",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    n AS (SELECT COUNT(*) AS total FROM d),
    obs AS (SELECT digit, COUNT(*) AS n_orders FROM d GROUP BY digit)
    SELECT obs.digit, obs.n_orders,
           (1000000 * obs.n_orders) // n.total AS share_ppm,
           CAST(floor(log10(1.0 + 1.0 / obs.digit) * 1000000 + 0.5)
                AS BIGINT) AS benford_ppm,
           (1000000 * obs.n_orders) // n.total
             - CAST(floor(log10(1.0 + 1.0 / obs.digit) * 1000000 + 0.5)
                    AS BIGINT) AS deviation_ppm
    FROM obs CROSS JOIN n
    """,
)
def a_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals: observed
    leading-digit shares vs the log10(1 + 1/d) expectation, the
    classic screen for fabricated or truncated numeric columns in a
    data-quality sweep. Shares are exact ppm integers; the Benford
    expectation is the identical IEEE log10+floor chain in both
    engines, so the deviation column is bit-stable.

    Scale shape: one codegen projection (string head of the integer
    part), one 9-row hash aggregate, one broadcast scalar for the
    total — nothing shuffles but 9 rows.
    """
    o = load(spark, sf_dir, "orders")
    d = o.where(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"),
            1, 1,
        ).cast("int").alias("digit")
    )
    n = d.agg(F.count(F.lit(1)).alias("total"))
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    share = F.expr("(1000000 * n_orders) DIV total")
    benford = F.floor(
        F.log10(1.0 + 1.0 / F.col("digit")) * 1000000 + F.lit(0.5)
    ).cast("bigint")
    return (
        obs.crossJoin(F.broadcast(n))
        .select(
            "digit",
            "n_orders",
            share.alias("share_ppm"),
            benford.alias("benford_ppm"),
            (share - benford).alias("deviation_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# A13: median absolute deviation (robust dispersion) per group
# ---------------------------------------------------------------------------


@register(
    "a_mad_robust",
    oracle="""
    -- NULL alignment with the plan: the selection operator counts
    -- only non-NULL values (value IS NOT NULL below), and a NULL
    -- event_type is a real group (NULL-safe joins, not USING,
    -- which would drop it) — so the equivalence does not depend on
    -- the data generator never producing NULLs here.
    WITH q AS (
        SELECT event_id, event_type,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS qv
        FROM events
        WHERE value IS NOT NULL
    ),
    r1 AS (
        SELECT event_type, qv,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY qv, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM q
    ),
    med AS (
        SELECT event_type, qv AS med_qv FROM r1
        WHERE rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1
    ),
    dev AS (
        SELECT q.event_id, q.event_type, abs(q.qv - m.med_qv) AS adev
        FROM q JOIN med m
          ON q.event_type IS NOT DISTINCT FROM m.event_type
    ),
    r2 AS (
        SELECT event_type, adev,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY adev, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    )
    SELECT r2.event_type,
           CAST(m.med_qv AS BIGINT) / 10000.0 AS median_value,
           CAST(r2.adev AS BIGINT) / 10000.0 AS mad
    FROM r2 JOIN med m
      ON r2.event_type IS NOT DISTINCT FROM m.event_type
    WHERE rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1
    """,
)
def a_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust
    dispersion measure outlier-immune pipelines use where stddev
    (a_anomaly_zscore's basis) is poisoned by the very outliers
    being hunted. Both medians are DISCRETE (exact data values at
    rank floor((n-1)/2)+1, ties broken by event_id), so the result
    is engine-portable with no interpolation arithmetic.

    Scale shape: both medians are SELECTION problems (one value per
    type, not a rank per row), so they ride the histogram-refinement
    selection operator (operators/selection.py): per pass, one
    map-side bounds aggregate plus ~2 bounded-histogram aggregates —
    raw events are never shuffled, sorted, or windowed; the only
    thing that moves is ≤65k integer counters per round. The
    deviation pass re-scans under the broadcast median map. At
    100 TB that is 4-5 column-pruned scans and zero data shuffles —
    strictly cheaper than any ranking pass (the grouped prefix
    operator remains the tool when every row needs its rank, e.g.
    a_gini_coefficient's Σi·x_i).
    """
    import math

    from metadata_wrangler_spark.operators.selection import grouped_select

    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5))
        .cast("bigint").alias("qv"),
    )

    def med_rank(st):
        return {"med": int(math.floor((st.n - 1) * 0.5)) + 1}

    # domain contract: the 1e-4-quantized event metric spans < 2^31
    # (raw value < 2.1e5; the generator's metric is O(10^3)) — one
    # refinement round after the bounds pass, two scans total.
    med = grouped_select(q, "qv", med_rank, group_cols=["event_type"],
                         domain_bits=31)
    # literal per-type median map (≤ |event types| branches) — pure
    # codegen; a broadcast join against a driver-built 5-row frame
    # measures ~1.5 s of fixed cost on local[32].
    med_expr = F.lit(None).cast("bigint")
    for m in med:
        cond = (
            F.col("event_type").isNull()
            if m["event_type"] is None
            else F.col("event_type") == F.lit(m["event_type"])
        )
        med_expr = F.when(cond, F.lit(m["med"])).otherwise(med_expr)
    dev = q.select(
        "event_type",
        F.abs(F.col("qv") - med_expr).alias("adev"),
    ).where(F.col("adev").isNotNull())
    # Pass-2 bounds derive from pass 1 (the median is a data value,
    # so min deviation is 0; max is the farther extreme) — no
    # second bounds job.
    from metadata_wrangler_spark.operators.selection import GroupStats

    dev_stats = [
        GroupStats(
            (m["event_type"],), m["n"], m["total_weight"], 0,
            max(m["med"] - m["vmin"], m["vmax"] - m["med"]),
        )
        for m in med
    ]
    mad = grouped_select(
        dev, "adev", med_rank, group_cols=["event_type"],
        known_stats=dev_stats,
    )
    med_by_type = {m["event_type"]: m["med"] for m in med}
    return local_frame(
        spark,
        [
            (m["event_type"],
             med_by_type[m["event_type"]] / 10000.0,
             m["med"] / 10000.0)
            for m in mad
        ],
        "event_type string, median_value double, mad double",
    )


# ---------------------------------------------------------------------------
# A14: Gini coefficient per group (inequality / concentration)
# ---------------------------------------------------------------------------


@register(
    "a_gini_coefficient",
    oracle="""
    WITH q AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS qv
        FROM orders
        WHERE o_totalprice IS NOT NULL  -- NULL rule shared with the plan
    ),
    r AS (
        SELECT o_orderpriority, qv,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY qv, o_orderkey) AS rn
        FROM q
    ),
    agg AS (
        SELECT o_orderpriority AS priority,
               COUNT(*) AS n_orders,
               SUM(CAST(qv AS HUGEINT)) AS sx,
               SUM(CAST(rn AS HUGEINT) * CAST(qv AS HUGEINT)) AS srx
        FROM r GROUP BY o_orderpriority
    )
    SELECT priority, n_orders,
           CAST(sx AS BIGINT) / 10000.0 AS total_value,
           CAST((1000000 * (2 * srx - (n_orders + 1) * sx))
                // (CAST(n_orders AS HUGEINT) * sx) AS BIGINT)
               AS gini_ppm
    FROM agg
    """,
)
def a_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of order value per priority
    class — the inequality measure behind revenue-concentration and
    workload-skew dashboards (complements a_simpson_diversity's
    categorical concentration and a_abc_pareto's cumulative-share
    classes). Uses the rank formula G = (2·Σ(i·x_i) − (n+1)·Σx) /
    (n·Σx) over ascending-sorted values with a deterministic tie
    order (value then order key), computed entirely in
    HUGEINT/DECIMAL integer arithmetic and emitted as exact ppm —
    no float accumulation anywhere.

    Scale shape (round-11): the statistic needs ONLY the per-group
    moments (n, Σqv, Σ rank·qv), so it rides the rank-moment partial
    operator (operators/prefix.py grouped_rank_value_sums): one
    range shuffle of (priority, qv), one Arrow fold to ≤ P×|groups|
    integer partials, driver-side exact composition, handed back
    through ``local_frame``. Ranks over ties are summed, never
    reported, so Σ rank·qv is tie-order invariant and no tiebreak
    column is shuffled; all arithmetic is exact arbitrary-precision
    integers, matching the oracle's HUGEINT chain bit for bit.
    """
    from metadata_wrangler_spark.operators.prefix import (
        grouped_rank_value_sums,
    )

    o = load(spark, sf_dir, "orders")
    q = o.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5))
        .cast("bigint").alias("qv"),
    ).where(F.col("qv").isNotNull())  # NULL values carry no rank
    moments = grouped_rank_value_sums(
        q, "qv", group_cols=["o_orderpriority"]
    )
    rows = []
    for m in moments:
        n, sx, srx = m["n"], m["sx"], m["srx"]
        # same integer chain as the oracle: numerator ≥ 0 by the
        # Chebyshev sum inequality (ascending ranks), so floor
        # division ≡ DuckDB // ≡ Spark DIV here.
        gini_ppm = (1000000 * (2 * srx - (n + 1) * sx)) // (n * sx)
        rows.append(
            (m["o_orderpriority"], n, float(sx) / 10000.0, gini_ppm)
        )
    return local_frame(
        spark,
        rows,
        "priority string, n_orders bigint, total_value double,"
        " gini_ppm bigint",
    )


# ---------------------------------------------------------------------------
# A15: weighted median per group
# ---------------------------------------------------------------------------


@register(
    "a_weighted_median",
    oracle="""
    -- NULL rule (shared with the plan): rows with a NULL value OR a
    -- NULL weight are excluded; a NULL flag is a real group.
    WITH q AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT) AS qv,
               CAST(floor(l_quantity) AS BIGINT) AS wt,
               l_orderkey, l_linenumber
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    r AS (
        SELECT flag, qv, wt,
               SUM(wt) OVER (PARTITION BY flag
                             ORDER BY qv, l_orderkey, l_linenumber
                             ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(wt) OVER (PARTITION BY flag) AS tot
        FROM q
    )
    SELECT flag,
           COUNT(*) AS n_rows,
           CAST(MAX(tot) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 2 * cum >= tot THEN qv END) AS BIGINT)
               / 10000.0 AS weighted_median
    FROM r GROUP BY flag
    """,
)
def a_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the value at
    which half the SHIPPED UNITS (not half the line items) are
    cheaper — the inventory-weighted center a pricing analysis
    needs where the plain median (a_percentile_disc) over-weights
    small orders. Computed as the first value whose running weight
    crosses half the group total, with a deterministic tie order
    (value, order key, line number), all in integer arithmetic.

    Scale shape: "first value whose running weight reaches half the
    total" is a weighted SELECTION — min v with W(≤v) ≥ ⌈total/2⌉ —
    so it rides the histogram-refinement selection operator
    (operators/selection.py, weight_col=quantity): one map-side
    bounds/total aggregate plus ~2 bounded weighted-histogram
    aggregates. No running sum over raw rows exists anywhere; the
    row-level cumulative in the oracle is definitionally equivalent
    because ties share a value (the crossing row's value IS the
    minimal value whose ≤-cumulative reaches half).
    """
    from metadata_wrangler_spark.operators.selection import grouped_select

    li = load(spark, sf_dir, "lineitem")
    q = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 10000 + F.lit(0.5))
        .cast("bigint").alias("qv"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("wt"),
    )
    sel = grouped_select(
        q, "qv",
        lambda st: {"wmed": (st.total_weight + 1) // 2},
        group_cols=["flag"], weight_col="wt",
        # domain contract: 1e-4-quantized line prices span < 2^31
        # (l_extendedprice = qty × part price < 2.1e5).
        domain_bits=31,
    )
    return local_frame(
        spark,
        [
            (m["flag"], m["n"], m["total_weight"], m["wmed"] / 10000.0)
            for m in sel
        ],
        "flag string, n_rows bigint, total_weight bigint,"
        " weighted_median double",
    )


# ---------------------------------------------------------------------------
# A16: IQR (Tukey fence) outliers per group
# ---------------------------------------------------------------------------


@register(
    "a_iqr_outliers",
    oracle="""
    -- NULL rule shared with the plan: NULL values are excluded from
    -- the quartile ranks; a NULL event_type is a real group
    -- (NULL-safe join below, not USING).
    WITH q AS (
        SELECT event_id, event_type,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS qv
        FROM events
        WHERE value IS NOT NULL
    ),
    r AS (
        SELECT event_type, qv,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY qv, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM q
    ),
    quart AS (
        SELECT event_type,
               MIN(CASE WHEN rn = CAST(floor((n - 1) * 0.25) AS BIGINT) + 1
                        THEN qv END) AS q1,
               MIN(CASE WHEN rn = CAST(floor((n - 1) * 0.75) AS BIGINT) + 1
                        THEN qv END) AS q3
        FROM r GROUP BY event_type
    )
    SELECT q.event_id, q.event_type,
           CAST(q.qv AS BIGINT) / 10000.0 AS value,
           CAST(quart.q1 AS BIGINT) / 10000.0 AS q1,
           CAST(quart.q3 AS BIGINT) / 10000.0 AS q3,
           CASE WHEN 2 * q.qv > 2 * quart.q3 + 3 * (quart.q3 - quart.q1)
                THEN 'high' ELSE 'low' END AS side
    FROM q JOIN quart
      ON q.event_type IS NOT DISTINCT FROM quart.event_type
    WHERE 2 * q.qv > 2 * quart.q3 + 3 * (quart.q3 - quart.q1)
       OR 2 * q.qv < 2 * quart.q1 - 3 * (quart.q3 - quart.q1)
    """,
)
def a_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (IQR) outliers per event type: values beyond
    quartile ± 1.5·IQR — the third member of the outlier family
    next to the parametric z-score (a_anomaly_zscore) and the
    robust MAD (a_mad_robust); IQR is what box plots draw and what
    most data-quality checklists specify. Quartiles are DISCRETE
    (exact data values, deterministic tie order) and the 1.5×
    fence is evaluated in doubled integers (2·q vs 2·q3 + 3·IQR),
    so no fractional arithmetic exists anywhere — bit-stable by
    construction.

    Scale shape: the two quartiles per type are a SELECTION problem,
    so they ride the histogram-refinement selection operator
    (operators/selection.py) — both targets resolve from the SAME
    bounded histograms (one bounds aggregate + ~2 histogram rounds;
    raw events never shuffle). The fence test is then one
    column-pruned scan against the broadcast 5-row quartile table,
    entirely in codegen.
    """
    import math

    from metadata_wrangler_spark.operators.selection import grouped_select

    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5))
        .cast("bigint").alias("qv"),
    )
    sel = grouped_select(
        q, "qv",
        lambda st: {
            "q1": int(math.floor((st.n - 1) * 0.25)) + 1,
            "q3": int(math.floor((st.n - 1) * 0.75)) + 1,
        },
        group_cols=["event_type"],
        # domain contract: 1e-4-quantized event metric spans < 2^31
        # (same bound as a_mad_robust).
        domain_bits=31,
    )
    # literal per-type quartile maps — codegen CASE chains instead of
    # a broadcast join against a driver-built 5-row frame (~1.5 s
    # fixed cost on local[32]).
    def _case_map(field):
        e = F.lit(None).cast("bigint")
        for m in sel:
            cond = (
                F.col("event_type").isNull()
                if m["event_type"] is None
                else F.col("event_type") == F.lit(m["event_type"])
            )
            e = F.when(cond, F.lit(m[field])).otherwise(e)
        return e

    q = q.select("*", _case_map("q1").alias("q1"),
                 _case_map("q3").alias("q3"))
    iqr = F.col("q3") - F.col("q1")
    high = 2 * F.col("qv") > 2 * F.col("q3") + 3 * iqr
    low = 2 * F.col("qv") < 2 * F.col("q1") - 3 * iqr
    return (
        q.where(F.col("q1").isNotNull())
        .where(high | low)
        .select(
            "event_id",
            "event_type",
            (F.col("qv").cast("bigint") / 10000.0).alias("value"),
            (F.col("q1").cast("bigint") / 10000.0).alias("q1"),
            (F.col("q3").cast("bigint") / 10000.0).alias("q3"),
            F.when(high, "high").otherwise("low").alias("side"),
        )
    )


# ---------------------------------------------------------------------------
# A17: grouped skewness / kurtosis from exact integer power sums
# ---------------------------------------------------------------------------


@register(
    "a_moments_skew_kurt",
    oracle="""
    WITH q AS (
        SELECT o_orderpriority AS priority,
               CAST(floor(o_totalprice) AS BIGINT) AS qv
        FROM orders
    ), s AS (
        SELECT priority,
               COUNT(*) AS n,
               SUM(CAST(qv AS HUGEINT)) AS s1,
               SUM(CAST(qv AS HUGEINT) * qv) AS s2,
               SUM(CAST(qv AS HUGEINT) * qv * qv) AS s3,
               SUM(CAST(qv AS HUGEINT) * qv * qv * qv) AS s4
        FROM q GROUP BY priority
    ), m AS (
        SELECT priority, n,
               CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
               CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS v2,
               CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS v3,
               CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS v4
        FROM s
    ), c AS (
        SELECT priority, n, mean,
               v2 - mean * mean AS m2,
               v3 - 3.0 * mean * v2 + 2.0 * mean * mean * mean AS m3,
               v4 - 4.0 * mean * v3 + 6.0 * mean * mean * v2
                  - 3.0 * mean * mean * mean * mean AS m4
        FROM m
    )
    SELECT priority, n,
           (CASE WHEN mean < 0 THEN -1.0 ELSE 1.0 END)
             * CAST(floor(abs(mean) * 1000000 + 0.5) AS BIGINT)
             / 1000000.0 AS mean,
           (CASE WHEN m3 / sqrt(m2 * m2 * m2) < 0 THEN -1.0 ELSE 1.0 END)
             * CAST(floor(abs(m3 / sqrt(m2 * m2 * m2)) * 1000000 + 0.5)
                    AS BIGINT) / 1000000.0 AS skewness,
           (CASE WHEN m4 / (m2 * m2) - 3.0 < 0 THEN -1.0 ELSE 1.0 END)
             * CAST(floor(abs(m4 / (m2 * m2) - 3.0) * 1000000 + 0.5)
                    AS BIGINT) / 1000000.0 AS excess_kurtosis
    FROM c
    """,
)
def a_moments_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority skewness and excess kurtosis of order value —
    the 3rd/4th-moment shape statistics a data-profiling sweep
    reports next to mean/stddev (a_anomaly_zscore) and the robust
    quartet (MAD/IQR/Gini): is the distribution lopsided, and how
    heavy are its tails?

    Bit-stability discipline: raw power sums accumulate EXACTLY in
    DECIMAL(38,0)/HUGEINT over integer-quantized values (whole
    currency units — the 4th power of a 2^20-scale value times any
    realistic row count stays far under 10^38), and the closed-form
    central-moment arithmetic is the IDENTICAL left-associated IEEE
    chain in both engines, using only +,-,*,/ and sqrt (correctly
    rounded everywhere) — no pow(), no libm discrepancy surface —
    before the family's standard sign*floor(|x|*1e6+0.5)/1e6 round.

    Reference: distribution reports over measurement values
    (`measurement.py` quantile normalization; `bin/util/
    calculate_percentile`) — the moment profile is the natural
    companion statistic.

    Scale design: one map-side-partial hash aggregate carrying five
    moments per group, then 5 rows of driver-free closed-form
    arithmetic — the textbook single-pass parallel moments; no
    second scan, no window, no selection pass.
    """
    o = load(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    q = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice")).cast("bigint").alias("qv"),
    )
    # Row-level powers: qv² and qv³ are EXACT in int64 for the whole
    # currency-unit domain (qv ≤ 2^21 ⇒ qv³ < 2^63; order totals are
    # ~2^20-scale, and ANSI mode — Spark 4's default — raises loudly
    # on any overflow rather than wrapping). Only qv⁴ exceeds int64,
    # so exactly ONE decimal multiply per row remains (qv2·qv2); the
    # old spelling ran three decimal multiplies per row and was the
    # serialized-scan cost at sf0.1 (§2.3 narrower types: 2.35 →
    # 1.60 s noop A/B; tie at sf1/sf10 where the scan parallelizes).
    # The SUMS stay decimal(38,0): Σqv² alone can pass 2^63 at
    # warehouse row counts, and the oracle accumulates HUGEINT for
    # the same reason. A two-int64 (hi/lo limb) accumulator was
    # probed and REJECTED: the limb partial sums themselves overflow
    # int64 past ~2^23 rows (a²≤2^40 per row), so exact carry-free
    # integer addition cannot bound them at scale.
    qv = F.col("qv")
    q = q.withColumn("qv2", qv * qv)
    qv2 = F.col("qv2")
    s = q.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qv.cast(d38)).alias("s1"),
        F.sum(qv2.cast(d38)).alias("s2"),
        F.sum((qv2 * qv).cast(d38)).alias("s3"),
        F.sum((qv2.cast("decimal(19,0)") * qv2).cast(d38)).alias("s4"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    v2 = F.col("s2").cast("double") / nd
    v3 = F.col("s3").cast("double") / nd
    v4 = F.col("s4").cast("double") / nd
    m = s.select(
        "priority", "n", mean.alias("mean"), v2.alias("v2"),
        v3.alias("v3"), v4.alias("v4"),
    )
    mu = F.col("mean")
    m2 = F.col("v2") - mu * mu
    m3 = F.col("v3") - 3.0 * mu * F.col("v2") + 2.0 * mu * mu * mu
    m4 = (
        F.col("v4") - 4.0 * mu * F.col("v3")
        + 6.0 * mu * mu * F.col("v2") - 3.0 * mu * mu * mu * mu
    )
    c = m.select(
        "priority", "n", "mean",
        m2.alias("m2"), m3.alias("m3"), m4.alias("m4"),
    )

    def r6(col):
        sign = F.when(col < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        return (
            sign
            * F.floor(F.abs(col) * 1000000 + F.lit(0.5)).cast("bigint")
            / F.lit(1000000.0)
        )

    skew = F.col("m3") / F.sqrt(F.col("m2") * F.col("m2") * F.col("m2"))
    kurt = F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0)
    return c.select(
        "priority",
        "n",
        r6(F.col("mean")).alias("mean"),
        r6(skew).alias("skewness"),
        r6(kurt).alias("excess_kurtosis"),
    )


# ---------------------------------------------------------------------------
# J11: banded numeric join (|a - b| <= delta) via bucket + neighbor probe
# ---------------------------------------------------------------------------

_BAND_DELTA_Q = 5  # |balance difference| <= 0.05, in 1e-2 quanta


@register(
    "j_band_join",
    oracle=f"""
    WITH s AS (
        SELECT s_suppkey,
               CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS qb
        FROM supplier
    ), c AS (
        SELECT c_custkey,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS qb
        FROM customer
    )
    SELECT s.s_suppkey, c.c_custkey,
           s.qb / 100.0 AS supp_bal,
           c.qb / 100.0 AS cust_bal,
           abs(s.qb - c.qb) AS diff_q
    FROM s JOIN c ON abs(s.qb - c.qb) <= {_BAND_DELTA_Q}
    """,
)
def j_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded numeric join: supplier–customer pairs whose account
    balances agree within 0.05 — the |a−b| ≤ δ join class (sensor
    alignment, fuzzy reconciliation, near-equal amount matching)
    that naive engines evaluate as a cartesian product with a
    filter.

    Scale design — the classic band-bucket decomposition: quantize,
    bucket both sides at width δ (bucket = qb div δ), EXPLODE the
    smaller side into its bucket and both neighbors (3 rows each;
    |a−b| ≤ δ implies the pair shares a bucket or sits in adjacent
    ones), then an EQUI-join on the bucket key with the exact band
    predicate as a codegen post-filter. One shuffle on a dense
    integer key, fan-out exactly 3, no range-join fallback, no
    cartesian anywhere — the plan shape survives any scale where the
    per-bucket occupancy product stays bounded (δ controls it).

    Reference: fuzzy measurement reconciliation across sources
    (`content_cafe.py:298-306` popularity vs holdings cross-checks).
    """
    sup = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.floor(F.col("s_acctbal") * 100 + F.lit(0.5))
        .cast("bigint").alias("qb_s"),
    )
    cus = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint").alias("qb_c"),
    )
    d = _BAND_DELTA_Q
    # floor-div bucketing (negative balances included); supplier is
    # the smaller side -> it carries the 3x neighbor fan-out.
    sup_b = sup.select(
        "s_suppkey", "qb_s",
        F.explode(
            F.array(
                F.floor(F.col("qb_s") / d).cast("bigint") - 1,
                F.floor(F.col("qb_s") / d).cast("bigint"),
                F.floor(F.col("qb_s") / d).cast("bigint") + 1,
            )
        ).alias("bkt"),
    )
    cus_b = cus.withColumn(
        "bkt", F.floor(F.col("qb_c") / d).cast("bigint")
    )
    return (
        sup_b.join(cus_b, "bkt")
        .where(F.abs(F.col("qb_s") - F.col("qb_c")) <= d)
        .select(
            "s_suppkey",
            "c_custkey",
            (F.col("qb_s") / 100.0).alias("supp_bal"),
            (F.col("qb_c") / 100.0).alias("cust_bal"),
            F.abs(F.col("qb_s") - F.col("qb_c")).alias("diff_q"),
        )
    )
