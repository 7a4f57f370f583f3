"""DML / upsert / state-machine plans (SURVEY.md §2.7 D1-D7).

Each plan computes the *post-state* (or the to-write delta) that the
engine's merge/queue library (operators.merge, operators.queue)
persists as one optimistic `VersionedParquetTable.merge` (or MERGE on
a transactional table format). The post-states are pure queries, so the oracle can
hash-check the write semantics end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from metadata_wrangler_spark.catalog import load
from metadata_wrangler_spark.operators import merge, queue
from metadata_wrangler_spark.plans import register


@register(
    "d_register_anti_join",
    oracle="""
    SELECT p.p_partkey AS identifier_id,
           'oclc-classify' AS data_source,
           'registered' AS status
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_partkey = p.p_partkey AND l.l_returnflag = 'R'
          AND l.l_shipdate >= TIMESTAMP '1998-01-01'
    )
    """,
)
def d_register_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: INSERT…SELECT with anti-join — "register every identifier
    that has no coverage yet" (parts never returned stand in for
    ISBNs without an OCLC record).

    Reference: `migration/20181220-register-isbns-for-oclc-coverage
    .sql:8-16`.
    """
    p = load(spark, sf_dir, "part")
    covered = load(spark, sf_dir, "lineitem").where(
        (F.col("l_returnflag") == "R")
        & (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
    ).select("l_partkey")
    return (
        p.join(covered, p.p_partkey == covered.l_partkey, "left_anti")
        .select(
            F.col("p_partkey").alias("identifier_id"),
            F.lit("oclc-classify").alias("data_source"),
            F.lit("registered").alias("status"),
        )
    )


@register(
    "d_policy_merge_preview",
    oracle="""
    WITH current AS (
        SELECT p_partkey AS key, p_name AS title, p_brand AS publisher
        FROM part
    ), staged AS (
        -- a second source's view: better titles for some rows, NULL
        -- titles for others (must never clobber), plus brand-new keys
        SELECT p_partkey AS key,
               CASE WHEN p_partkey % 4 = 0 THEN upper(p_name)
                    WHEN p_partkey % 4 = 1 THEN NULL
                    ELSE p_name END AS title,
               'staged-source' AS publisher
        FROM part WHERE p_partkey % 2 = 0
        UNION ALL
        SELECT p_partkey + 1000000 AS key,
               'new title ' || CAST(p_partkey AS VARCHAR) AS title,
               'staged-source' AS publisher
        FROM part WHERE p_partkey % 100 = 7
    )
    SELECT COALESCE(c.key, s.key) AS key,
           CASE WHEN s.key IS NOT NULL AND s.title IS NOT NULL THEN s.title
                ELSE c.title END AS title,
           CASE WHEN c.key IS NULL THEN s.publisher ELSE c.publisher END AS publisher,
           CASE WHEN c.key IS NULL THEN 'insert'
                WHEN s.key IS NULL THEN 'keep'
                WHEN s.title IS NOT NULL AND s.title <> c.title THEN 'update'
                ELSE 'keep' END AS action
    FROM current c
    FULL OUTER JOIN staged s ON s.key = c.key
    """,
)
def d_policy_merge_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4/D5: `Metadata.apply` semantics as a MERGE preview — upsert
    a second source's view onto the current editions with the
    policy "a NULL never overwrites a value".

    Reference: `Metadata.apply` call sites (`controller.py:628-629`,
    `oclc/classify.py:1181-1188`) and the null-guard migration
    `migration/20190205-remove-content-cafe-coverage-….sql:9-11`.
    The write-side twin (Delta MERGE / partition-overwrite fallback)
    is operators.merge.
    """
    p = load(spark, sf_dir, "part")
    current = p.select(
        F.col("p_partkey").alias("key"),
        F.col("p_name").alias("title"),
        F.col("p_brand").alias("publisher"),
    )
    staged_updates = p.where(F.col("p_partkey") % 2 == 0).select(
        F.col("p_partkey").alias("key"),
        F.when(F.col("p_partkey") % 4 == 0, F.upper("p_name"))
        .when(F.col("p_partkey") % 4 == 1, F.lit(None))
        .otherwise(F.col("p_name")).alias("title"),
        F.lit("staged-source").alias("publisher"),
    )
    staged_inserts = p.where(F.col("p_partkey") % 100 == 7).select(
        (F.col("p_partkey") + 1000000).alias("key"),
        F.concat(F.lit("new title "), F.col("p_partkey").cast("string"))
        .alias("title"),
        F.lit("staged-source").alias("publisher"),
    )
    staged = staged_updates.unionByName(staged_inserts)
    c = current.alias("c")
    s = staged.alias("s")
    ck, sk = F.col("c.key"), F.col("s.key")
    merged_title = F.when(
        sk.isNotNull() & F.col("s.title").isNotNull(), F.col("s.title")
    ).otherwise(F.col("c.title"))
    action = (
        F.when(ck.isNull(), "insert")
        .when(sk.isNull(), "keep")
        .when(
            F.col("s.title").isNotNull()
            & (F.col("s.title") != F.col("c.title")),
            "update",
        )
        .otherwise("keep")
    )
    return c.join(s, sk == ck, "full_outer").select(
        F.coalesce(ck, sk).alias("key"),
        merged_title.alias("title"),
        F.when(ck.isNull(), F.col("s.publisher"))
        .otherwise(F.col("c.publisher")).alias("publisher"),
        action.alias("action"),
    )


def _latest_order_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The D7 queue state read from orders: each customer's latest
    order (by o_orderdate, then o_orderkey) as (identifier_id,
    status, ts). A rank WINDOW, not max(struct(...)): Spark's
    WindowGroupLimit pushes the rn = 1 limit below the exchange,
    shuffling ~|customers| candidate rows instead of |orders|; the
    max(struct) spelling measured slower at sf10 (8.88 s, SCALE.md)."""
    status = (
        F.when(F.col("o_orderstatus") == "O", queue.REGISTERED)
        .when(F.col("o_orderstatus") == "F", queue.SUCCESS)
        .otherwise(queue.TRANSIENT)
    )
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        load(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("identifier_id"),
            status.alias("status"),
            F.col("o_orderdate").alias("ts"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "d_status_transitions",
    oracle="""
    WITH queue AS (
        SELECT o_custkey AS identifier_id,
               CASE o_orderstatus WHEN 'O' THEN 'registered'
                                  WHEN 'F' THEN 'success'
                                  ELSE 'transient failure' END AS status,
               o_orderdate AS ts, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC,
                                           o_orderkey DESC) AS rn
        FROM orders
    )
    SELECT status,
           COUNT(*) AS n_identifiers,
           COUNT(CASE WHEN ts < TIMESTAMP '1998-01-01' THEN 1 END) AS retry_eligible
    FROM queue
    WHERE rn = 1
    GROUP BY status
    """,
)
def d_status_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: the CoverageRecord state machine's read side — latest
    record per identifier wins; transient failures older than the
    backoff cutoff become retry-eligible.

    Reference: `coverage_provider.py:346-354` (register),
    `content_cafe.py:85-105` (success/failure transitions),
    `controller.py:1013-1017` (force re-register). The write-side
    MERGE lives in operators.queue.
    """
    latest = _latest_order_state(spark, sf_dir)
    return latest.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_identifiers"),
        F.count(
            F.when(F.col("ts") < F.lit("1998-01-01").cast("timestamp"), 1)
        ).alias("retry_eligible"),
    )


@register(
    "d_get_one_or_create",
    oracle="""
    SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment
    FROM customer
    UNION ALL
    SELECT o_custkey + 1000000 AS id,
           'created-' || CAST(o_custkey AS VARCHAR) AS name,
           'NEW' AS segment
    FROM (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey % 3 = 0) t
    WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o_custkey + 1000000
    )
    """,
)
def d_get_one_or_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: `get_one_or_create` post-state — existing rows win,
    incoming rows insert only where the key is absent.

    Reference: `oclc/classify.py:958-967` (editions unique on
    (data_source, primary_identifier)), `oclc/classify.py:948-950`
    (Identifier.for_foreign_id). Engine: operators.merge
    .get_one_or_create (left_anti + union).
    """
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    incoming = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 3 == 0)
        .select(F.col("o_custkey")).dropDuplicates()
        .select(
            (F.col("o_custkey") + 1000000).alias("id"),
            F.concat(F.lit("created-"), F.col("o_custkey").cast("string"))
            .alias("name"),
            F.lit("NEW").alias("segment"),
        )
    )
    return merge.get_one_or_create(c, incoming, ["id"])


@register(
    "d_bulk_delete",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS total_price
    FROM lineitem
    WHERE NOT (l_shipdate < TIMESTAMP '1994-01-01' AND l_discount < 0.02)
    GROUP BY l_returnflag
    """,
)
def d_bulk_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: bulk DELETE WHERE as predicate inversion — post-state
    census after removing old low-discount rows.

    Reference: `controller.py:727-732` (catalog remove),
    `scripts.py:504-515` (delete equivalencies by source). Engine:
    operators.merge.delete_where; at scale the predicate prunes
    partitions before touching rows.
    """
    li = load(spark, sf_dir, "lineitem")
    pred = (
        (F.col("l_shipdate") < F.lit("1994-01-01").cast("timestamp"))
        & (F.col("l_discount") < 0.02)
    )
    post = merge.delete_where(li, pred)
    return post.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(F.floor(F.col("l_extendedprice") * 10000 + F.lit(0.5))
               .cast("bigint")) / F.lit(10000.0)).alias("total_price"),
    )


@register(
    "d_update_expression",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_brand = 'Brand#23'
                THEN replace(p_type, 'PLATED', 'COATED')
                ELSE p_type END AS p_type,
           CASE WHEN p_brand = 'Brand#23' THEN 1 ELSE 0 END AS updated
    FROM part
    """,
)
def d_update_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: UPDATE … SET col = replace(col, …) WHERE predicate — the
    mirror-url rewrite migration as a post-state projection.

    Reference: `migration/20180626-move-cover-s3-bucket.sql:3`
    (nested replace() over representations.mirror_url). Engine:
    operators.merge.update_where.
    """
    p = load(spark, sf_dir, "part")
    pred = F.col("p_brand") == "Brand#23"
    post = merge.update_where(
        p, pred,
        {"p_type": F.replace(F.col("p_type"), F.lit("PLATED"),
                             F.lit("COATED"))},
    )
    return post.select(
        "p_partkey", "p_type",
        F.when(pred, 1).otherwise(0).alias("updated"),
    )


@register(
    "d_entity_merge_repoint",
    oracle="""
    WITH entities AS (
        SELECT c_custkey AS id,
               CASE WHEN c_custkey % 5 = 0 THEN NULL
                    ELSE c_custkey % 97 END AS viaf
        FROM customer
    ), canon AS (
        SELECT viaf, MIN(id) AS canonical_id
        FROM entities WHERE viaf IS NOT NULL
        GROUP BY viaf
    ), mapping AS (
        SELECT e.id AS old_id, COALESCE(c.canonical_id, e.id) AS canonical_id
        FROM entities e LEFT JOIN canon c ON c.viaf = e.viaf
    )
    SELECT m.canonical_id AS contributor_id,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN mapping m ON m.old_id = o.o_custkey
    GROUP BY m.canonical_id
    """,
)
def d_entity_merge_repoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: entity merge + FK repoint — contributors sharing a VIAF id
    collapse to the min-id canonical row and referencing rows are
    rewritten through the mapping.

    Reference: `viaf.py:777-798` (`merge_into` earliest duplicate),
    `oclc/classify.py:1311-1346`. Engine: operators.merge
    .merge_entities + repoint_fks (one groupBy + one broadcastable
    mapping join — never row-at-a-time).
    """
    c = load(spark, sf_dir, "customer")
    entities = c.select(
        F.col("c_custkey").alias("id"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("c_custkey") % 97).alias("viaf"),
    )
    mapping = merge.merge_entities(entities, ["viaf"], "id")
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("contributor_id")
    )
    repointed = merge.repoint_fks(o, mapping, "contributor_id")
    return repointed.groupBy("contributor_id").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "d_queue_lifecycle",
    oracle="""
    WITH initial AS (
        SELECT o_custkey AS identifier_id,
               'oclc' AS data_source, 'classify' AS operation,
               CASE o_orderstatus WHEN 'O' THEN 'registered'
                                  WHEN 'F' THEN 'success'
                                  ELSE 'transient failure' END AS status,
               o_orderdate AS ts
        FROM (
            SELECT o_custkey, o_orderstatus, o_orderdate,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC,
                                               o_orderkey DESC) AS rn
            FROM orders
        ) t WHERE rn = 1
    ), registered AS (
        SELECT * FROM initial
        UNION ALL
        SELECT c_custkey, 'oclc', 'classify', 'registered',
               TIMESTAMP '1999-01-01'
        FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM initial i WHERE i.identifier_id = c_custkey
        )
    ), outcomes AS (
        SELECT identifier_id, data_source, operation,
               CASE WHEN identifier_id % 7 = 0 THEN 'success'
                    WHEN identifier_id % 7 = 1 THEN 'persistent failure'
                    ELSE 'transient failure' END AS new_status
        FROM registered
        WHERE status = 'registered'
          OR (status = 'transient failure'
              AND ts < TIMESTAMP '1998-01-01')
    ), final AS (
        SELECT r.identifier_id,
               COALESCE(o.new_status, r.status) AS status
        FROM registered r
        LEFT JOIN outcomes o
          ON o.identifier_id = r.identifier_id
         AND o.data_source = r.data_source
         AND o.operation = r.operation
    )
    SELECT status, COUNT(*) AS n_records
    FROM final
    GROUP BY status
    """,
)
def d_queue_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 write side: a full queue lifecycle — register missing
    identifiers, claim the eligible set (registered + expired
    transients), apply batch outcomes, census the post-state.

    Reference: `coverage_provider.py:346-354` (register),
    `content_cafe.py:85-105` + `oclc/linked_data.py:1026-1033`
    (success / transient / persistent transitions),
    `docker/services/simplified_crontab:13-27` (the cron drain this
    replaces). Engine: operators.queue — ``queue.eligible_when`` is
    the claim rule ``queue.eligible`` (streaming.queue_drain) uses.

    One lazy pass, no job while the plan is built: the customers
    still to register are ``customer LEFT ANTI JOIN orders`` (every
    o_custkey has a latest-order record). KEY is unique in the
    registered state — one rn = 1 row per o_custkey, plus c_custkeys
    (customer's primary key) no order names, with data_source and
    operation constant — so ``apply_outcomes``' left join with
    outcomes derived from the same state matches each row at most
    once, and the post-state is the CASE projection below.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    missing = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("identifier_id"),
        F.lit(queue.REGISTERED).alias("status"),
        F.lit("1999-01-01").cast("timestamp").alias("ts"),
    )
    outcome = (
        F.when(F.col("identifier_id") % 7 == 0, queue.SUCCESS)
        .when(F.col("identifier_id") % 7 == 1, queue.PERSISTENT)
        .otherwise(queue.TRANSIENT)
    )
    final = F.when(queue.eligible_when("1998-01-01"), outcome).otherwise(
        F.col("status")
    )
    registered = _latest_order_state(spark, sf_dir).unionByName(missing)
    return registered.groupBy(final.alias("status")).agg(
        F.count(F.lit(1)).alias("n_records")
    )


_SCD2_EPOCH = "2024-01-01 00:00:00"
_SCD2_BATCH = "2024-02-01 00:00:00"


@register(
    "d_scd2_merge",
    oracle=f"""
    WITH updates AS (
        SELECT c_custkey, 'UPDATED-' || c_mktsegment AS c_mktsegment
        FROM customer WHERE c_custkey % 10 = 3
    ),
    unchanged AS (
        SELECT c.c_custkey, c.c_mktsegment,
               TIMESTAMP '{_SCD2_EPOCH}' AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to,
               TRUE AS is_current
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM updates u
                          WHERE u.c_custkey = c.c_custkey)
    ),
    closed AS (
        SELECT c.c_custkey, c.c_mktsegment,
               TIMESTAMP '{_SCD2_EPOCH}' AS valid_from,
               TIMESTAMP '{_SCD2_BATCH}' AS valid_to,
               FALSE AS is_current
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM updates u
                      WHERE u.c_custkey = c.c_custkey)
    ),
    opened AS (
        SELECT u.c_custkey, u.c_mktsegment,
               TIMESTAMP '{_SCD2_BATCH}' AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to,
               TRUE AS is_current
        FROM updates u
    )
    SELECT * FROM unchanged
    UNION ALL SELECT * FROM closed
    UNION ALL SELECT * FROM opened
    """,
)
def d_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension merge: one update batch against the
    customer dimension produces the full history post-state — rows
    untouched by the batch stay open, changed rows are CLOSED
    (valid_to = batch time, is_current = false) and a new OPEN row
    is appended per update. The reference's per-source replacement
    policies version attributes implicitly (Metadata.apply keeps the
    old Edition row per source, `oclc/classify.py:958-967`); SCD2 is
    the warehouse-native spelling of that history.

    Scale shape: one semi- and one anti-join on the dimension key
    plus a union — no window, no full-table comparison; at 100 TB
    the updates side is the small broadcast side. Committed through
    VersionedParquetTable/Delta MERGE exactly like the other
    post-state plans.
    """
    c = load(spark, sf_dir, "customer")
    updates = c.where(F.col("c_custkey") % 10 == 3).select(
        "c_custkey",
        F.concat(F.lit("UPDATED-"), F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    epoch = F.lit(_SCD2_EPOCH).cast("timestamp")
    batch = F.lit(_SCD2_BATCH).cast("timestamp")
    null_ts = F.lit(None).cast("timestamp")
    base = c.select("c_custkey", "c_mktsegment")
    unchanged = base.join(updates, "c_custkey", "left_anti").select(
        "c_custkey", "c_mktsegment",
        epoch.alias("valid_from"), null_ts.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = base.join(updates, "c_custkey", "left_semi").select(
        "c_custkey", "c_mktsegment",
        epoch.alias("valid_from"), batch.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = updates.select(
        "c_custkey", "c_mktsegment",
        batch.alias("valid_from"), null_ts.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return unchanged.unionByName(closed).unionByName(opened)


@register(
    "j_scd2_pit",
    oracle=f"""
    WITH updates AS (
        SELECT c_custkey, 'UPDATED-' || c_mktsegment AS c_mktsegment
        FROM customer WHERE c_custkey % 10 = 3
    ),
    hist AS (
        SELECT c.c_custkey, c.c_mktsegment,
               TIMESTAMP '{_SCD2_EPOCH}' AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM updates u
                          WHERE u.c_custkey = c.c_custkey)
        UNION ALL
        SELECT c.c_custkey, c.c_mktsegment,
               TIMESTAMP '{_SCD2_EPOCH}', TIMESTAMP '{_SCD2_BATCH}', FALSE
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM updates u
                      WHERE u.c_custkey = c.c_custkey)
        UNION ALL
        SELECT u.c_custkey, u.c_mktsegment,
               TIMESTAMP '{_SCD2_BATCH}', CAST(NULL AS TIMESTAMP), TRUE
        FROM updates u
    ),
    fact AS (
        SELECT event_id, user_id,
               ts + CASE WHEN event_id % 2 = 1
                         THEN INTERVAL 45 DAY
                         ELSE INTERVAL 0 DAY END AS pit_ts
        FROM events
    )
    SELECT f.event_id, f.user_id, h.c_mktsegment AS segment_at_pit,
           h.is_current
    FROM fact f
    JOIN hist h ON h.c_custkey = f.user_id
               AND h.valid_from <= f.pit_ts
               AND (h.valid_to IS NULL OR f.pit_ts < h.valid_to)
    """,
)
def j_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join of a fact stream against the SCD2
    dimension history built by d_scd2_merge: each event resolves the
    customer attribute AS OF its own timestamp — events inside the
    first validity window bind to the CLOSED historical row (the one
    a naive is_current-only join silently gets wrong), while
    late-settling events (odd ids, +45 days — past the batch time)
    bind to the reopened current row. Exactly one dimension row
    matches per fact by SCD2's non-overlap invariant, which the
    companion test asserts.

    Scale shape: the history side is dimension-sized and BROADCAST;
    the range predicate rides the broadcast hash join on the
    dimension key as a join filter (no range-bucketing needed —
    validity intervals per key are few and non-overlapping). The
    fact table never shuffles.
    """
    ev = load(spark, sf_dir, "events")
    from metadata_wrangler_spark.plans.dml import d_scd2_merge

    hist = d_scd2_merge(spark, sf_dir).select(
        "c_custkey", "c_mktsegment", "valid_from", "valid_to",
        "is_current",
    )
    fact = ev.select(
        "event_id",
        "user_id",
        F.when(
            F.col("event_id") % 2 == 1,
            F.col("ts") + F.expr("INTERVAL 45 DAYS"),
        ).otherwise(F.col("ts")).alias("pit_ts"),
    )
    return (
        fact.join(
            F.broadcast(hist),
            (F.col("c_custkey") == F.col("user_id"))
            & (F.col("valid_from") <= F.col("pit_ts"))
            & (
                F.col("valid_to").isNull()
                | (F.col("pit_ts") < F.col("valid_to"))
            ),
        )
        .select(
            "event_id",
            "user_id",
            F.col("c_mktsegment").alias("segment_at_pit"),
            "is_current",
        )
    )


_FORGET_PRED = "c_custkey % 53 = 9"  # the deletion-request cohort


@register(
    "d_forget_cascade_preview",
    oracle=f"""
    WITH victims AS (SELECT c_custkey FROM customer WHERE {_FORGET_PRED}),
    o AS (
        SELECT o.o_custkey, COUNT(*) AS n_orders
        FROM orders o JOIN victims v ON v.c_custkey = o.o_custkey
        GROUP BY o.o_custkey
    ),
    l AS (
        SELECT o.o_custkey, COUNT(*) AS n_lineitems
        FROM lineitem li
        JOIN orders o ON o.o_orderkey = li.l_orderkey
        JOIN victims v ON v.c_custkey = o.o_custkey
        GROUP BY o.o_custkey
    ),
    e AS (
        SELECT e.user_id AS c_custkey, COUNT(*) AS n_events
        FROM events e JOIN victims v ON v.c_custkey = e.user_id
        GROUP BY e.user_id
    )
    SELECT v.c_custkey,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(l.n_lineitems, 0) AS n_lineitems,
           COALESCE(e.n_events, 0) AS n_events,
           COALESCE(o.n_orders, 0) + COALESCE(l.n_lineitems, 0)
             + COALESCE(e.n_events, 0) + 1 AS n_rows_total
    FROM victims v
    LEFT JOIN o ON o.o_custkey = v.c_custkey
    LEFT JOIN l ON l.o_custkey = v.c_custkey
    LEFT JOIN e ON e.c_custkey = v.c_custkey
    """,
)
def d_forget_cascade_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade PREVIEW: for every customer in
    the deletion-request cohort, the exact row counts that a
    cascading erasure would remove from each table (orders,
    lineitems via the order FK, events via the user key, plus the
    customer row itself) — the audit report a privacy pipeline
    produces and signs off BEFORE running the destructive deletes
    (which then execute as d_bulk_delete per table inside one
    VersionedParquetTable/WAP commit, oldest-FK-first).

    Scale shape: the victim set broadcasts against each fact table
    (deletion cohorts are tiny against a 100 TB lake), one hash
    aggregate per table keyed by customer, three per-victim left
    joins at cohort cardinality.
    """
    c = load(spark, sf_dir, "customer")
    victims = c.where(F.expr(_FORGET_PRED)).select("c_custkey")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    ev = load(spark, sf_dir, "events")
    o = (
        orders.join(F.broadcast(victims),
                    orders.o_custkey == victims.c_custkey)
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    )
    l_ = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(victims), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_lineitems"))
    )
    e = (
        ev.join(F.broadcast(victims), ev.user_id == victims.c_custkey)
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        victims
        .join(o.withColumnRenamed("o_custkey", "c_custkey"), "c_custkey",
              "left")
        .join(l_.withColumnRenamed("o_custkey", "c_custkey"), "c_custkey",
              "left")
        .join(e.withColumnRenamed("user_id", "c_custkey"), "c_custkey",
              "left")
        .select(
            "c_custkey",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_lineitems", F.lit(0)).alias("n_lineitems"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            (
                F.coalesce("n_orders", F.lit(0))
                + F.coalesce("n_lineitems", F.lit(0))
                + F.coalesce("n_events", F.lit(0))
                + 1
            ).alias("n_rows_total"),
        )
    )


# ---------------------------------------------------------------------------
# CDC apply: compact a change feed to latest-wins state
# ---------------------------------------------------------------------------


@register(
    "d_cdc_apply",
    oracle="""
    WITH feed AS (
        SELECT o_custkey AS key,
               o_orderkey AS version,
               CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS qv
        FROM orders
    ),
    latest AS (
        SELECT key,
               COUNT(*) AS n_changes,
               MAX(version) AS last_version
        FROM feed GROUP BY key
    )
    -- the champion row's op/qv come from a join on the winning
    -- version, not max_by: DuckDB's max_by SKIPS NULL values where
    -- Spark's returns the champion row's (possibly NULL) payload —
    -- and a CDC change with a NULL payload is still the change
    SELECT l.key, l.n_changes, l.last_version,
           f.qv / 100.0 AS last_value
    FROM latest l
    JOIN feed f ON f.key = l.key AND f.version = l.last_version
    WHERE f.op <> 'D'
    """,
)
def d_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture APPLY: compact an upsert/delete change
    feed into latest-wins state — the log-to-snapshot operator every
    CDC sink (and every incremental ingest job) runs. The feed is
    derived deterministically from orders (sequence number = order
    key — unique, so latest-wins is total; every 13th change is a
    tombstone); keys whose newest change is a delete vanish from the
    state, everything else lands with its newest value and a change
    count.

    Scale design: ONE hash aggregate — ``max_by(payload, version)``
    is partial-aggregable (each partition keeps its champion, merge
    keeps the winner), so the whole apply is a single map-side-
    combining shuffle on the key. No window, no self-join, no sort;
    the classic rank-per-key spelling pays a per-key sort for the
    same answer. Tombstones filter AFTER compaction, so a delete
    followed by a re-insert survives correctly.

    Reference: `coverage_provider.py:82-118` replays per-identifier
    coverage transitions to a current-state row; the CDC apply is
    that replay as one aggregate.
    """
    o = load(spark, sf_dir, "orders")
    feed = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("version"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint").alias("qv"),
    )
    latest = feed.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.max("version").alias("last_version"),
        F.max_by("op", "version").alias("last_op"),
        F.max_by("qv", "version").alias("last_qv"),
    )
    return latest.where(F.col("last_op") != "D").select(
        "key",
        "n_changes",
        "last_version",
        (F.col("last_qv") / 100.0).alias("last_value"),
    )


# ---------------------------------------------------------------------------
# snapshot diff: what changed between two versions of the state?
# ---------------------------------------------------------------------------

_DIFF_V1 = 3000  # version horizon of the "old" snapshot


@register(
    "d_snapshot_diff",
    oracle=f"""
    WITH feed AS (
        SELECT o_custkey AS key,
               o_orderkey AS version,
               CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS qv
        FROM orders
    ),
    -- champion rows via join-back on the winning version (not
    -- max_by: DuckDB's skips NULL payloads, Spark's does not), and
    -- presence tracked by the non-null KEY so a state row whose
    -- VALUE is NULL still counts as present
    ver_a AS (
        SELECT key, MAX(version) AS v FROM feed
        WHERE version <= {_DIFF_V1} GROUP BY key
    ),
    ver_b AS (SELECT key, MAX(version) AS v FROM feed GROUP BY key),
    a AS (
        SELECT f.key, f.qv FROM ver_a x
        JOIN feed f ON f.key = x.key AND f.version = x.v
        WHERE f.op <> 'D'
    ),
    b AS (
        SELECT f.key, f.qv FROM ver_b x
        JOIN feed f ON f.key = x.key AND f.version = x.v
        WHERE f.op <> 'D'
    )
    SELECT COALESCE(a.key, b.key) AS key,
           CASE WHEN a.key IS NULL THEN 'added'
                WHEN b.key IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           a.qv / 100.0 AS old_value,
           b.qv / 100.0 AS new_value
    FROM a FULL OUTER JOIN b ON a.key = b.key
    WHERE a.key IS NULL OR b.key IS NULL
       OR a.qv IS DISTINCT FROM b.qv
    """,
)
def d_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: the added / removed / changed key
    set between two versions of the CDC state (d_cdc_apply's
    compaction at version horizon V1 vs the full feed) — the diff
    report every migration, backfill, and audit job runs before
    trusting a rebuilt table, and the inverse question to the CDC
    apply (apply turns a log into state; diff recovers the net
    change between states).

    Scale design: two latest-wins compactions (one hash aggregate
    each — the horizon filter pushes into the scan) and ONE
    full-outer join on the key, with the unchanged majority dropped
    by a codegen filter. No window, no sort; the join is
    shuffle-on-key with map-side-compacted inputs.

    Reference: the reference's coverage backfill scripts compare
    "what should be covered" against "what is"
    (`scripts.py:226-233`, `migration/20181220-register-isbns-…​.sql`);
    this is that comparison as a general operator.
    """
    o = load(spark, sf_dir, "orders")
    feed = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("version"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint").alias("qv"),
    ).repartition("key")
    # ^ ONE hash exchange serves the whole diff (round-9 floor cut):
    # both snapshot compactions require clustering on `key` and so
    # does the full-outer join — HashPartitioning(key) satisfies all
    # three, and the b-branch reuses the SAME shuffle via
    # ReusedExchange, so orders is also scanned once, not twice.
    # Trade recorded: this ships raw feed rows where the old spelling
    # shipped map-side-compacted max_by partials through two
    # exchanges — CDC feeds key on entity id with near-unit
    # multiplicity, so partials shrink almost nothing and one raw
    # shuffle beats two compacted ones plus a third for the join.

    def snap(df):
        # explicit presence flag: a state row whose VALUE is NULL is
        # still present — keying presence off the value column would
        # conflate "absent" with "present, payload NULL"
        return (
            df.groupBy("key")
            .agg(
                F.max_by("op", "version").alias("op"),
                F.max_by("qv", "version").alias("qv"),
            )
            .where(F.col("op") != "D")
            .select("key", "qv", F.lit(True).alias("present"))
        )

    a = snap(feed.where(F.col("version") <= _DIFF_V1)).select(
        "key", F.col("qv").alias("qv_a"), F.col("present").alias("in_a")
    )
    b = snap(feed).select(
        "key", F.col("qv").alias("qv_b"), F.col("present").alias("in_b")
    )
    j = a.join(b, "key", "full_outer")
    return (
        j.where(
            F.col("in_a").isNull()
            | F.col("in_b").isNull()
            | ~F.col("qv_a").eqNullSafe(F.col("qv_b"))
        )
        .select(
            "key",
            F.when(F.col("in_a").isNull(), "added")
            .when(F.col("in_b").isNull(), "removed")
            .otherwise("changed").alias("change"),
            (F.col("qv_a") / 100.0).alias("old_value"),
            (F.col("qv_b") / 100.0).alias("new_value"),
        )
    )
