"""Event-stream plans (SURVEY.md §2.9) — the reference's cron+state
mechanisms re-expressed as windowed / incremental aggregations over
the ``events`` table. The Structured Streaming twins of these plans
live in metadata_wrangler_spark.streaming; these batch forms are the
oracle-checkable semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from metadata_wrangler_spark.catalog import load, table_bytes
from metadata_wrangler_spark.plans import register
from metadata_wrangler_spark.plans.relational import dsum

_WATERMARK = "2024-01-20 00:00:00"


@register(
    "ev_tumbling_window",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS window_day,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(floor((value) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ev_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window aggregation using the streaming-native
    `window()` operator (epoch-aligned ⇒ equals date_trunc).

    Reference mapping: the Monitor sweep cadence / daily report
    buckets (`monitor.py:65-71`, `scripts.py:613-632`). Identical
    code runs under readStream with a watermark — see
    streaming.incremental.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("win.start").cast("date").alias("window_day"),
            "event_type", "n_events", "n_users", "total_value",
        )
    )


@register(
    "ev_incremental_updates",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor((value) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS total_value,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS last_seen_epoch
    FROM events
    WHERE ts > TIMESTAMP '{_WATERMARK}'
    GROUP BY user_id
    """,
)
def ev_incremental_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "updates since T" incremental feed: high-watermark filter
    + per-key rollup.

    Reference: `licensepools_with_works_updated_since`
    (`controller.py:434-438`) — the wrangler's updates feed. The
    watermark predicate pushes down to the scan, so the incremental
    run reads only fresh partitions when the table is
    date-partitioned (the 100 TB layout).
    """
    from metadata_wrangler_spark.catalog import events_since
    ev = events_since(spark, sf_dir, _WATERMARK)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("total_value"),
        F.floor(F.unix_timestamp(F.max("ts"))).cast("bigint")
        .alias("last_seen_epoch"),
    )


@register(
    "ev_sessionized_gaps",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ), flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN prev_ts IS NULL
                         OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 3600
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ), sessions AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_event_types
    FROM sessions
    GROUP BY 1, 2
    """,
)
def ev_sessionized_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows by inactivity gap (1 h): lag + cumulative-sum
    session numbering — the batch twin of a
    `session_window`/`applyInPandasWithState` streaming op.

    Scale note: one shuffle on user_id; both windows share the same
    partitioning so Catalyst plans a single exchange.
    """
    ev = load(spark, sf_dir, "events")
    by_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    # event_id tiebreak: with two events at the same (user_id, ts)
    # the cumulative sum would otherwise depend on partition order.
    run = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    flagged = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.lag("ts").over(by_user).isNull()
            | (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(by_user))
                > 3600
            ),
            1,
        ).otherwise(0).alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_no", F.sum("new_session").over(run).cast("bigint")
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_event_types"),
    )


@register(
    "ev_asof_join",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
               LAST_VALUE(CASE WHEN event_type = 'click'
                               THEN CAST(floor(epoch(ts)) AS BIGINT) END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS click_epoch
        FROM events
    )
    SELECT user_id, event_id, epoch AS purchase_epoch, click_epoch,
           epoch - click_epoch AS gap_seconds
    FROM ordered
    WHERE event_type = 'purchase'
    """,
)
def ev_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — each purchase matched to the most recent
    prior-or-equal click of the same user (the operator Spark lacks
    natively; MERGE_ASOF / ASOF JOIN in other engines).

    Spark re-expression: tag both sides into ONE ordered stream and
    carry the latest click with last(ignorenulls) over a running
    window — one shuffle on user_id, no join at all, no per-row
    range probe. At 100 TB this beats any non-equi join rewrite:
    cost is a single sort within user partitions. Tie-break on
    (ts, event_id) keeps both engines deterministic.

    Reference mapping: "most recent coverage record before this
    timestamp" (`/root/reference/monitor.py:65-106` checkpoint
    sweeps); the purchase/click pairing is the star-schema stand-in.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    epoch = F.floor(F.unix_timestamp("ts")).cast("bigint")
    tagged = ev.select(
        "user_id", "event_id", "event_type",
        epoch.alias("epoch"),
        F.col("ts"),
    ).withColumn(
        "click_epoch",
        F.last(
            F.when(F.col("event_type") == "click", F.col("epoch")),
            ignorenulls=True,
        ).over(w),
    )
    return tagged.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id",
        F.col("epoch").alias("purchase_epoch"),
        "click_epoch",
        (F.col("epoch") - F.col("click_epoch")).alias("gap_seconds"),
    )


@register(
    "ev_range_join",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
               event_type
        FROM events
    )
    SELECT err.user_id, err.event_id,
           err.epoch AS error_epoch,
           COUNT(x.event_id) AS n_following
    FROM e err
    LEFT JOIN e x
      ON x.user_id = err.user_id
     AND x.epoch > err.epoch
     AND x.epoch <= err.epoch + 60
    WHERE err.event_type = 'error'
    GROUP BY 1, 2, 3
    """,
)
def ev_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join — for every error event, how many events
    of the same user land in the following 60 seconds.

    Spark re-expression of the non-equi time-range join: both sides
    bucket time at the range width (60 s); a probe can only match a
    candidate in its own or the next bucket, so the error side
    explodes to exactly TWO probe buckets and the join becomes an
    equi-join on (user_id, bucket) + a residual range filter. Cost
    is bounded by bucket occupancy — never the cartesian per user a
    naive inequality join plans. The same rewrite is how range joins
    scale on any shuffle engine.
    """
    ev = load(spark, sf_dir, "events")
    epoch = F.floor(F.unix_timestamp("ts")).cast("bigint")
    base = ev.select(
        "user_id", "event_id", epoch.alias("epoch"), "event_type",
        F.floor(epoch / 60).cast("bigint").alias("bucket"),
    )
    errors = base.where(F.col("event_type") == "error").select(
        F.col("user_id"), F.col("event_id"),
        F.col("epoch").alias("error_epoch"),
        F.explode(
            F.array(F.col("bucket"), F.col("bucket") + 1)
        ).alias("bucket"),
    )
    cand = errors.join(
        base.select(
            F.col("user_id"), F.col("bucket"),
            F.col("epoch").alias("x_epoch"),
            F.col("event_id").alias("x_id"),
        ),
        ["user_id", "bucket"],
    ).where(
        (F.col("x_epoch") > F.col("error_epoch"))
        & (F.col("x_epoch") <= F.col("error_epoch") + 60)
    )
    counts = cand.groupBy("user_id", "event_id", "error_epoch").agg(
        F.count(F.lit(1)).alias("n_following")
    )
    all_errors = base.where(F.col("event_type") == "error").select(
        "user_id", "event_id", F.col("epoch").alias("error_epoch")
    )
    return all_errors.join(
        counts, ["user_id", "event_id", "error_epoch"], "left"
    ).select(
        "user_id", "event_id", "error_epoch",
        F.coalesce("n_following", F.lit(0)).cast("bigint")
        .alias("n_following"),
    )


@register(
    "ev_stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT)
             - CAST(floor(epoch(c.ts)) AS BIGINT) AS gap_seconds,
           p.value AS amount
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 120 MINUTES
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def ev_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join, batch twin: clicks joined to same-user
    purchases within 2 h — the register→outcome correlation the
    reference does through the CoverageRecord state table
    (`coverage_provider.py:328-354` → `coverage_utils.py:113-167`).

    The IDENTICAL join body (streaming.joins.attribution_pairs) runs
    under readStream with watermarks on both sides
    (streaming.joins.run_attribution_stream); equivalence is pinned
    in tests/test_streaming.py. Scale: equi-join on user_id with the
    range as residual; streaming state is bounded by rate × window
    via watermark eviction.
    """
    from metadata_wrangler_spark.streaming.joins import attribution_pairs

    ev = load(spark, sf_dir, "events")
    return attribution_pairs(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


_KMV_K = 64


@register(
    "a_kmv_distinct_sketch",
    oracle=f"""
    WITH hashed AS (
        SELECT DISTINCT event_type,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM events
    ), ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
        FROM hashed
    ), mins AS (
        SELECT event_type, COUNT(*) AS n_seen, MAX(h) AS kth
        FROM ranked WHERE r <= {_KMV_K} GROUP BY event_type
    )
    SELECT m.event_type,
           CAST(CAST(CASE WHEN m.n_seen < {_KMV_K} THEN CAST(m.n_seen AS DOUBLE)
                ELSE ({_KMV_K} - 1) * power(2, 60) / CAST(m.kth AS DOUBLE)
           END AS DECIMAL(18,6)) AS DOUBLE) AS kmv_estimate,
           x.n_exact
    FROM mins m
    JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
          FROM events GROUP BY event_type) x USING (event_type)
    """,
)
def a_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count sketch per event type via K-minimum-values:
    keep the K smallest distinct hash values; estimate
    (K-1)/h_(K) with h normalized to (0,1). Unlike HLL the sketch is
    DETERMINISTIC given the hash, so the DuckDB oracle reproduces it
    bit-for-bit — an approximate operator with an exact correctness
    gate (exact COUNT DISTINCT emitted alongside for the error bar).

    Scale story: a KMV sketch is associatively mergeable (the min-K
    of a union is the min-K of the min-Ks), so partial sketches
    combine across partitions/days without rescanning — the pattern
    every production distinct-sketch pipeline uses; memory is O(K)
    per group vs O(distinct) for the exact path.
    """
    from metadata_wrangler_spark.operators.dedup import md5_long
    ev = load(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        md5_long(F.col("user_id").cast("string")).alias("h"),
    ).dropDuplicates()
    w = W.partitionBy("event_type").orderBy("h")
    mins = (
        hashed.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_seen"), F.max("h").alias("kth"))
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    est = F.when(
        F.col("n_seen") < _KMV_K, F.col("n_seen").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1)) * F.lit(2.0 ** 60)
        / F.col("kth").cast("double")
    )
    return mins.join(exact, "event_type").select(
        "event_type",
        est.cast("decimal(18,6)").cast("double").alias("kmv_estimate"),
        "n_exact",
    )


@register(
    "ev_session_window_native",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    ), flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL
                         OR CAST(floor(epoch(ts)) AS BIGINT)
                            - CAST(floor(epoch(prev_ts)) AS BIGINT) >= 3600
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ), sessions AS (
        SELECT user_id, ts, event_id,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sno
        FROM flagged
    )
    SELECT user_id,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
           CAST(floor(epoch(MAX(ts))) AS BIGINT) + 3600
               AS session_end_epoch,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sno
    """,
)
def ev_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessions via Spark's NATIVE session_window operator — the
    built-in alternative to the applyInPandasWithState sessionizer
    (streaming/sessionize.py) and the lag+cumsum batch twin
    (ev_sessionized_gaps). session_window merges events whose
    [ts, ts+gap) windows overlap, so a strict gap >= 3600 starts a
    new session and the emitted window end is last_event + gap —
    the oracle reproduces exactly that via cumulative-sum grouping.

    Scale: one shuffle on user_id, JVM-native merge — in streaming
    the same expression runs under a watermark with state dropped at
    window close, no Python state function needed.

    ts is truncated to whole seconds BEFORE session_window so the
    gap comparison happens at the same precision as the oracle's
    epoch() arithmetic — otherwise a pair with true sub-second gap
    in [3599, 3600) would merge here but split there (latent,
    data-dependent mismatch).
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window(
                F.date_trunc("second", F.col("ts")), "1 hour"
            ).alias("win"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.floor(F.unix_timestamp(F.col("win.start"))).cast("bigint")
            .alias("session_start_epoch"),
            F.floor(F.unix_timestamp(F.col("win.end"))).cast("bigint")
            .alias("session_end_epoch"),
            "n_events",
        )
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "ev_pivot_daily_matrix",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           {", ".join(
               f"COUNT(*) FILTER (event_type = '{t}') AS n_{t}"
               for t in _EVENT_TYPES
           )}
    FROM events
    GROUP BY 1
    """,
)
def ev_pivot_daily_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT crosstab: days × event types as columns — the dashboard
    matrix view of A4's long-form daily buckets.

    The pivot values are DECLARED (not discovered): an unlisted
    ``pivot("event_type")`` runs an extra distinct-scan job to find
    the columns and makes the output schema data-dependent — both
    wrong at scale. With declared values this is one hash aggregation
    with map-side partials, same cost as the long form.
    """
    ev = load(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


@register(
    "ev_cohort_retention",
    oracle="""
    WITH firstw AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cohort
        FROM events GROUP BY user_id
    ), act AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        FROM events
    )
    SELECT CAST(cohort AS DATE) AS cohort_week,
           CAST(week AS DATE) AS activity_week,
           COUNT(*) AS n_users
    FROM act JOIN firstw USING (user_id)
    GROUP BY 1, 2
    """,
)
def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week
    (ISO Monday in both engines), counted in every week they return —
    the table behind a retention triangle.

    Scale shape: two aggregations sharing the user_id shuffle key
    plus one equi-join on user_id; Catalyst reuses the exchange. No
    window, no self-join over raw events.
    """
    ev = load(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    firstw = ev.groupBy("user_id").agg(F.min(week).alias("cohort"))
    act = ev.select("user_id", week.alias("week")).distinct()
    return (
        act.join(firstw, "user_id")
        .groupBy(
            F.col("cohort").cast("date").alias("cohort_week"),
            F.col("week").cast("date").alias("activity_week"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "ev_funnel_conversion",
    oracle="""
    WITH steps AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(*) FILTER (t_click IS NOT NULL) AS n_click,
           COUNT(*) FILTER (t_click < t_view) AS n_click_then_view,
           COUNT(*) FILTER (t_click < t_view AND t_view < t_purchase)
               AS n_full_funnel
    FROM steps
    """,
)
def ev_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: users whose FIRST click precedes their
    first view precedes their first purchase — the ordered-step
    conversion count, computed from one conditional-min aggregation
    per user (no sequence self-joins, no per-user sort).
    """
    ev = load(spark, sf_dir, "events")

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    steps = ev.groupBy("user_id").agg(
        first_ts("click").alias("t_click"),
        first_ts("view").alias("t_view"),
        first_ts("purchase").alias("t_purchase"),
    )
    return steps.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("t_click").isNotNull(), 1)).alias("n_click"),
        F.count(F.when(F.col("t_click") < F.col("t_view"), 1)).alias(
            "n_click_then_view"
        ),
        F.count(
            F.when(
                (F.col("t_click") < F.col("t_view"))
                & (F.col("t_view") < F.col("t_purchase")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@register(
    "ev_moving_average",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, n,
           CAST(SUM(n) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS avg_7d
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def ev_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing moving average of daily event counts per type
    — the dashboard smoothing query. Row-framed over the
    pre-aggregated daily series (one row per day), so the window
    input is |types| × |days|, never raw events; the mean is an
    exact BIGINT sum divided in DOUBLE (no decimal quantization
    needed — integer counts are exact in both engines).
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    return daily.select(
        "event_type", "day", "n",
        (F.sum("n").over(w).cast("double") / F.count(F.lit(1)).over(w))
        .alias("avg_7d"),
    )


@register(
    "ev_matview_refresh",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor((value) * 10000 + 0.5) AS BIGINT))
                AS BIGINT) / 10000.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ev_matview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, driver-verified:
    bootstrap the daily rollup on the pre-watermark slice, refresh it
    with the full table (consuming only post-watermark events), run a
    second refresh (must be a no-op), and return the view — which
    must hash-match the ORACLE'S ONE-SHOT AGGREGATION, proving
    incremental maintenance equals full recompute bit-for-bit.

    Engine: operators.matview.MaterializedDailyRollup (atomic
    versioned snapshots, µs watermark, delta-bounded checkpoint).
    Reference: the stale-flag recompute machinery this replaces,
    `coverage_provider.py:132-134`.
    """
    import os
    import shutil
    import tempfile
    import uuid

    from metadata_wrangler_spark.operators.lineage import materialize
    from metadata_wrangler_spark.operators.matview import (
        MaterializedDailyRollup,
    )

    ev = load(spark, sf_dir, "events")
    # Per-invocation path: a fixed name raced with any concurrent
    # run of the same query (one rmtree'ing mid-refresh of another).
    path = os.path.join(
        tempfile.gettempdir(), f"mw_matview_{uuid.uuid4().hex[:12]}"
    )
    try:
        mv = MaterializedDailyRollup(spark, path)
        mv.init(
            ev.where(F.col("ts") <= F.lit(_WATERMARK).cast("timestamp"))
        )
        mv.refresh(ev)
        if mv.refresh(ev) != 0:  # not assert: -O must not skip it
            raise AssertionError("second refresh consumed events")
        # The view (≤ days × event types rows) is pinned so the
        # returned plan no longer reads the state dir.
        view, _ = materialize(mv.read(), "ev_matview_refresh view")
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return view


@register(
    "ev_range_window",
    oracle="""
    SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
           CAST(SUM(CAST(floor((value) * 10000 + 0.5) AS BIGINT))
                OVER w AS BIGINT) / 10000.0 AS trailing_1h_value,
           COUNT(*) OVER w AS trailing_1h_events
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def ev_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window: per event, the sum/count of the same
    user's events in the trailing hour BY EVENT TIME — a frame
    defined in value distance (seconds), not row count, so bursts
    and gaps are handled correctly where a ROWS frame would not be.

    The frame orders by the integer epoch (identical on both
    engines); events sharing an epoch second are PEERS and see the
    same frame — RANGE semantics, deterministic without a tiebreak.
    One shuffle on user_id.
    """
    ev = load(spark, sf_dir, "events")
    epoch = F.floor(F.unix_timestamp("ts")).cast("bigint")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("epoch"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "user_id", "event_id", epoch.alias("epoch"), "value"
    ).select(
        "user_id", "event_id", "epoch",
        (
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint"))
            .over(w).cast("bigint") / F.lit(10000.0)
        ).alias("trailing_1h_value"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_events"),
    )


_RFM_NOW = "2024-02-01 00:00:00"


@register(
    "ev_rfm_segments",
    oracle=f"""
    WITH rfm AS (
        SELECT user_id,
               CAST(floor((epoch(TIMESTAMP '{_RFM_NOW}')
                           - floor(epoch(max(ts)))) / 86400.0) AS BIGINT)
                   AS recency_days,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(floor((value) * 10000 + 0.5) AS BIGINT))
                    AS BIGINT) / 10000.0 AS monetary
        FROM events
        GROUP BY user_id
    )
    SELECT CASE WHEN recency_days <= 7 AND frequency >= 50 THEN 'core'
                WHEN recency_days <= 7 THEN 'active'
                WHEN frequency >= 50 THEN 'lapsing-heavy'
                ELSE 'dormant' END AS segment,
           COUNT(*) AS n_users,
           MIN(recency_days) AS min_recency,
           MAX(frequency) AS max_frequency,
           CAST(SUM(CAST(floor((monetary) * 10000 + 0.5) AS BIGINT))
                AS BIGINT) / 10000.0 AS total_monetary
    FROM rfm
    GROUP BY 1
    """,
)
def ev_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency (days since last event at
    a fixed as-of), frequency, monetary — then fixed-threshold
    segments censused. Fixed thresholds, not quantiles: the segment
    of one user never depends on other users, so the plan is one
    hash aggregation per level and incremental-friendly (a user's
    row updates from their own delta alone — matview-compatible).
    """
    ev = load(spark, sf_dir, "events")
    now_epoch = F.unix_timestamp(F.lit(_RFM_NOW).cast("timestamp"))
    rfm = ev.groupBy("user_id").agg(
        F.floor(
            (now_epoch - F.floor(F.unix_timestamp(F.max("ts"))))
            / F.lit(86400.0)
        ).cast("bigint").alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        dsum(F.col("value")).alias("monetary"),
    )
    segment = (
        F.when(
            (F.col("recency_days") <= 7) & (F.col("frequency") >= 50),
            "core",
        )
        .when(F.col("recency_days") <= 7, "active")
        .when(F.col("frequency") >= 50, "lapsing-heavy")
        .otherwise("dormant")
    )
    return (
        rfm.groupBy(segment.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("recency_days").alias("min_recency"),
            F.max("frequency").alias("max_frequency"),
            dsum(F.col("monetary")).alias("total_monetary"),
        )
    )


# --- Gap-fill / forward-fill resampling -----------------------------------

@register(
    "ev_gap_fill",
    oracle="""
    -- NULL rule shared with the plan: an event with a NULL value is
    -- not a measurement — the hour it falls in is a GAP hour (LOCF
    -- carries through it), and the spine spans the user's first to
    -- last MEASURED hour.
    WITH hourly AS (
        SELECT user_id,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
               MAX(value) AS vmax
        FROM events
        WHERE value IS NOT NULL
        GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, MIN(hr) AS mn, MAX(hr) AS mx
        FROM hourly GROUP BY user_id
    ), spine AS (
        SELECT user_id, unnest(generate_series(mn, mx)) AS hr
        FROM bounds
    )
    SELECT s.user_id, s.hr,
           last_value(h.vmax IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_vmax,
           CASE WHEN h.vmax IS NULL THEN 0 ELSE 1 END AS observed
    FROM spine s
    LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hr = s.hr
    """,
)
def ev_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with forward fill: one row per
    (user, hour) from the user's first to last event, carrying the
    last observed hourly max across gap hours — the hypertable
    gap-fill / LOCF (last observation carried forward) operator a
    metrics rollup needs before charting or joining on aligned time.

    Reference: the reference aligns per-identifier coverage
    timestamps to cron cadences before sweeping
    (`monitor.py:65-106`); gap-fill is the same aligned-spine idea
    as a relational operator.

    Scale design: one linear chain — hourly aggregate, a per-user
    ``lead(hr)`` window, then a MAP-SIDE ``sequence(hr, next-1)``
    explode that emits every observed hour followed by its gap
    hours, already carrying the forward-filled value. The spine
    never exists as a separate frame, so there is no spine⋈hourly
    shuffle join, no bounds aggregate, and the hourly subtree is
    computed once instead of feeding two consumers. The fill is
    definitionally LOCF: a gap hour's last observation IS the
    observed row that generated it. Spine size is bounded by
    span/granularity per key; at 100 TB pick the granularity so
    span/grain stays O(10^4) per key or pre-split long-lived keys
    by coarse epoch before the window.
    """
    ev = load(spark, sf_dir, "events").where(
        F.col("value").isNotNull()  # NULL value = no measurement
    )
    hr = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
    hourly = (
        ev.select("user_id", hr.alias("hr"), "value")
        .groupBy("user_id", "hr")
        .agg(F.max("value").alias("vmax"))
    )
    nxt = F.lead("hr").over(W.partitionBy("user_id").orderBy("hr"))
    return (
        hourly.withColumn("nxt", nxt)
        .withColumn(
            "hr_out",
            F.explode(
                F.sequence(
                    F.col("hr"),
                    F.coalesce(F.col("nxt") - F.lit(1), F.col("hr")),
                )
            ),
        )
        .select(
            "user_id",
            F.col("hr_out").alias("hr"),
            F.col("vmax").alias("filled_vmax"),
            F.when(F.col("hr_out") == F.col("hr"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("observed"),
        )
    )


# --- UNPIVOT / melt (inverse of the crosstab) -----------------------------

@register(
    "ev_unpivot_long",
    oracle=f"""
    WITH wide AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               {", ".join(
                   f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) "
                   f"AS n_{t}" for t in _EVENT_TYPES
               )}
        FROM events GROUP BY 1
    )
    {" UNION ALL ".join(
        f"SELECT day, '{t}' AS event_type, CAST(n_{t} AS BIGINT) AS n_events"
        f" FROM wide"
        for t in _EVENT_TYPES
    )}
    """,
)
def ev_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt the wide daily crosstab back to long form — the inverse
    of `ev_pivot_daily_matrix`, via Spark's native ``unpivot``
    (SQL UNPIVOT / pandas melt). Zero-count cells survive the round
    trip (the long form carries explicit zeros, which a plain
    groupBy(day, type) would drop) — exactly what a charting or
    export layer needs from a dense matrix.

    Scale design: unpivot is a map-side Expand (one input row ->
    one row per value column), no shuffle beyond the upstream
    day-aggregate; the wide aggregate itself is one conditional
    partial+final hash agg over the declared type list.
    """
    ev = load(spark, sf_dir, "events")
    wide = (
        ev.select(F.to_date(F.date_trunc("day", "ts")).alias("day"),
                  "event_type")
        .groupBy("day")
        .agg(
            *[
                F.sum(
                    F.when(F.col("event_type") == t, 1).otherwise(0)
                ).alias(f"n_{t}")
                for t in _EVENT_TYPES
            ]
        )
    )
    return wide.unpivot(
        ids=["day"],
        values=[f"n_{t}" for t in _EVENT_TYPES],
        variableColumnName="event_type_col",
        valueColumnName="n_events",
    ).select(
        "day",
        F.expr("substring(event_type_col, 3)").alias("event_type"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# behavioral path pattern match (CEP as regex over encoded sequences)
# ---------------------------------------------------------------------------

@register(
    "ev_regex_path_match",
    oracle="""
    WITH paths AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS path,
               COUNT(*) AS n_events
        FROM events
        GROUP BY user_id
    )
    SELECT user_id, path, n_events,
           CAST(len(regexp_extract_all(path, 'cv*p')) AS BIGINT)
               AS n_conversions
    FROM paths
    WHERE len(regexp_extract_all(path, 'cv*p')) >= 2
    """,
)
def ev_regex_path_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing as regex over encoded per-user event
    paths: each user's history becomes a character string (event-type
    initials, time-ordered), and a conversion is a non-overlapping
    match of click -> views* -> purchase ('cv*p'). The
    MATCH_RECOGNIZE pattern Spark lacks, expressed with two
    primitives it has: an order-stable string aggregate and
    regexp_extract_all.

    Reference behavior: the reference detects multi-step lifecycle
    sequences per identifier (registered -> transient failure* ->
    success in `coverage.py` record history); same shape, richer
    pattern language.

    Scale design: one (user_id)-keyed aggregate builds the path —
    the sort happens INSIDE the aggregate (collect_list of
    (ts, event_id, chr) structs + array_sort), so the result is
    partition-order-independent without any global sort; the regex
    sweep is per-row codegen. Paths are bounded by per-user event
    counts; a user whose history outgrows a partition would be
    split by coarse epoch first (same guard as the gap-fill spine).
    The pattern match never shuffles.
    """
    ev = load(spark, sf_dir, "events")
    paths = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.substring("event_type", 1, 1).alias("c"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["c"]
                ),
                "",
            ).alias("path"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    n_conv = F.size(F.regexp_extract_all("path", F.lit("cv*p"), F.lit(0)))
    return paths.select(
        "user_id",
        "path",
        "n_events",
        n_conv.cast("long").alias("n_conversions"),
    ).where(n_conv >= 2)


# ---------------------------------------------------------------------------
# sketch: HyperLogLog registers (integer-exact, mergeable)
# ---------------------------------------------------------------------------

_HLL_M = 64            # registers (b=6 bucket bits of the 60-bit hash)
_HLL_FIELD = 54        # remaining hash bits feeding the rank
# alpha_64 = 0.7213/(1 + 1.079/64) ≈ 0.709 — spelled as the rational
# 709/1000 so both engines build the identical double constant.


@register(
    "a_hll_sketch",
    oracle=f"""
    WITH hashed AS (
        SELECT DISTINCT event_type,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM events
    ), rho AS (
        SELECT event_type, h % {_HLL_M} AS bucket,
               CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_FIELD + 1}
                    ELSE {_HLL_FIELD + 1} - length(bin(h // {_HLL_M}))
               END AS r
        FROM hashed
    ), regs AS (
        SELECT event_type, bucket, MAX(r) AS reg
        FROM rho GROUP BY event_type, bucket
    ), agg AS (
        SELECT event_type,
               COUNT(*) AS n_present,
               SUM(CAST(1 AS BIGINT) << ({_HLL_FIELD + 1} - reg)) AS s_present
        FROM regs GROUP BY event_type
    )
    SELECT a.event_type,
           CAST({_HLL_M} - a.n_present AS BIGINT) AS zero_registers,
           CAST(CAST((709.0 / 1000.0) * {_HLL_M * _HLL_M}.0
                     * {1 << (_HLL_FIELD + 1)}.0
                     / CAST(a.s_present
                            + ({_HLL_M} - a.n_present)
                              * (CAST(1 AS BIGINT) << {_HLL_FIELD + 1})
                       AS DOUBLE)
                AS DECIMAL(28,6)) AS DOUBLE) AS hll_estimate,
           x.n_exact
    FROM agg a
    JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
          FROM events GROUP BY event_type) x USING (event_type)
    """,
)
def a_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count per event type via HyperLogLog registers —
    the KMV sketch's (a_kmv_distinct_sketch) constant-memory sibling:
    bucket = low 6 hash bits, rank = leading-zero position of the
    remaining 54, register = MAX(rank) per bucket, estimate =
    α·m²/Σ2^(−reg). Every step is integer/string arithmetic (length of
    unpadded bin() instead of libm log2; register sum scaled by 2^55 is
    an exact BIGINT), so the "approximate" sketch is bit-reproducible
    and the DuckDB oracle gates it exactly; the exact COUNT DISTINCT
    rides alongside as the error bar. No small-range linear-counting
    correction (it needs ln): zero_registers is emitted so a reader
    can see when the raw estimator is in its biased low range.

    Scale story: registers merge by MAX — partial sketches from any
    partitioning/day combine without rescans (same two-phase
    map-side-combine shape Spark gives a MAX groupBy for free), and
    state is m=64 longs per group vs O(distinct) for exact. This is
    the sketch to ship across 1000 executors; KMV is the
    deterministic-quantile twin.
    """
    from metadata_wrangler_spark.operators.dedup import md5_long
    ev = load(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        md5_long(F.col("user_id").cast("string")).alias("h"),
    ).dropDuplicates()
    rest = F.expr(f"h DIV {_HLL_M}")
    rho = hashed.select(
        "event_type",
        (F.col("h") % _HLL_M).alias("bucket"),
        F.when(rest == 0, F.lit(_HLL_FIELD + 1)).otherwise(
            F.lit(_HLL_FIELD + 1) - F.length(F.bin(rest))
        ).alias("r"),
    )
    regs = rho.groupBy("event_type", "bucket").agg(F.max("r").alias("reg"))
    agg = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_FIELD + 1} - reg)")
        ).alias("s_present"),
    )
    s_total = (
        F.col("s_present")
        + (F.lit(_HLL_M) - F.col("n_present"))
        * F.lit(1 << (_HLL_FIELD + 1)).cast("long")
    )
    est = (
        F.lit(709.0 / 1000.0)
        * F.lit(float(_HLL_M * _HLL_M))
        * F.lit(float(1 << (_HLL_FIELD + 1)))
        / s_total.cast("double")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return agg.join(exact, "event_type").select(
        "event_type",
        (F.lit(_HLL_M) - F.col("n_present")).cast("long")
        .alias("zero_registers"),
        est.cast("decimal(28,6)").cast("double").alias("hll_estimate"),
        "n_exact",
    )


# ---------------------------------------------------------------------------
# hopping (sliding) window aggregation
# ---------------------------------------------------------------------------

_HOP_WIDTH_S = 7200     # 2 h windows ...
_HOP_SLIDE_S = 3600     # ... sliding every hour (each event in 2)


@register(
    "ev_hopping_window",
    oracle=f"""
    WITH e AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ep, event_type, value
        FROM events
    ), hop AS (
        SELECT unnest([(ep // {_HOP_SLIDE_S}) * {_HOP_SLIDE_S},
                       (ep // {_HOP_SLIDE_S}) * {_HOP_SLIDE_S}
                           - {_HOP_SLIDE_S}]) AS window_start_epoch,
               event_type, value
        FROM e
    )
    SELECT window_start_epoch, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor((value) * 10000 + 0.5) AS BIGINT))
                AS BIGINT) / 10000.0 AS total_value
    FROM hop
    GROUP BY 1, 2
    """,
)
def ev_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup: 2 h windows sliding every 1 h, so every
    event lands in exactly width/slide = 2 windows — the smoothing
    window shape (rolling hourly dashboards, rate limiting) that
    tumbling windows (ev_tumbling_window) cannot express. Uses
    Spark's native `window(ts, width, slide)`, which is epoch-aligned
    — the oracle reproduces the assignment with integer epoch
    arithmetic (each event's two window starts enumerated by unnest).

    The IDENTICAL expression runs under readStream: with a watermark,
    hopping windows close slide-by-slide and state is bounded by
    (width/slide) × groups — the batch/stream equivalence the §2.9
    family pins for tumbling windows holds here unchanged.

    Scale: explode factor is exactly width/slide (2), fixed at plan
    time — token-linear state, one hash-aggregate shuffle; partial
    aggregation halves the exploded rows before they move.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", f"{_HOP_WIDTH_S} seconds",
                     f"{_HOP_SLIDE_S} seconds").alias("win"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.floor(F.unix_timestamp(F.col("win.start"))).cast("bigint")
            .alias("window_start_epoch"),
            "event_type", "n_events", "total_value",
        )
    )


# ---------------------------------------------------------------------------
# KMV sketch set operations (Theta-sketch style union / intersection)
# ---------------------------------------------------------------------------


@register(
    "a_kmv_set_ops",
    oracle=f"""
    WITH hashed AS (
        SELECT DISTINCT event_type,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM events
    ), sk AS (
        SELECT event_type, list_sort(list(h))[:{_KMV_K}] AS mins
        FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h) AS r
            FROM hashed
        ) WHERE r <= {_KMV_K}
        GROUP BY event_type
    ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               list_sort(list_distinct(a.mins || b.mins))[:{_KMV_K}] AS u,
               a.mins AS ma, b.mins AS mb
        FROM sk a JOIN sk b ON a.event_type < b.event_type
    ), est AS (
        SELECT type_a, type_b,
               len(u) AS n_u,
               u[len(u)] AS kth,
               len(list_filter(u, x -> list_contains(ma, x)
                                   AND list_contains(mb, x))) AS n_both
        FROM pairs
    ), ut AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), ex_inter AS (
        SELECT x.event_type AS type_a, y.event_type AS type_b,
               COUNT(*) AS exact_inter
        FROM ut x JOIN ut y ON x.user_id = y.user_id
                           AND x.event_type < y.event_type
        GROUP BY 1, 2
    ), ex_n AS (
        SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type
    )
    SELECT e.type_a, e.type_b,
           CAST(e.n_both AS BIGINT) AS sketch_overlap,
           CAST(CAST(CASE WHEN e.n_u < {_KMV_K}
                          THEN CAST(e.n_u AS DOUBLE)
                          ELSE ({_KMV_K} - 1) * power(2, 60)
                               / CAST(e.kth AS DOUBLE)
                     END AS DECIMAL(18,6)) AS DOUBLE) AS est_union,
           CAST(CAST((CAST(e.n_both AS DOUBLE) / {_KMV_K}.0)
                     * (CASE WHEN e.n_u < {_KMV_K}
                             THEN CAST(e.n_u AS DOUBLE)
                             ELSE ({_KMV_K} - 1) * power(2, 60)
                                  / CAST(e.kth AS DOUBLE)
                        END)
                AS DECIMAL(18,6)) AS DOUBLE) AS est_inter,
           na.n + nb.n - COALESCE(i.exact_inter, 0) AS exact_union,
           COALESCE(i.exact_inter, 0) AS exact_inter
    FROM est e
    LEFT JOIN ex_inter i ON i.type_a = e.type_a AND i.type_b = e.type_b
    JOIN ex_n na ON na.event_type = e.type_a
    JOIN ex_n nb ON nb.event_type = e.type_b
    """,
)
def a_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET OPERATIONS — the reason production pipelines ship
    KMV/Theta sketches instead of exact distinct sets: for every pair
    of event types, |A∪B| is estimated from the min-K of the two
    sketches' union (the min-K of a union IS the min-K of the
    merged min-Ks — no rescan), and |A∩B| via the Jaccard of
    sketch-survivor overlap × the union estimate. Exact counts ride
    alongside as the error bar. Every step is deterministic given the
    hash (sorted min-K arrays, integer overlap count, /64 is exact),
    so the DuckDB oracle reproduces the estimates bit-for-bit.

    Scale story: the sketches are 64 longs per type — the pair join
    is sketch×sketch (tiny, broadcast), never user×user; the exact
    twin's user-level self-join is the thing this operator EXISTS to
    avoid at 100 TB (it is computed here only as the error bar).
    Reference: the sketch algebra of Apache DataSketches
    (Druid/Hive/BigQuery); same associativity argument as
    a_kmv_distinct_sketch.
    """
    from metadata_wrangler_spark.operators.dedup import md5_long
    ev = load(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        md5_long(F.col("user_id").cast("string")).alias("h"),
    ).dropDuplicates()
    w = W.partitionBy("event_type").orderBy("h")
    sk = (
        hashed.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("h")).alias("mins"))
    )
    a = sk.select(F.col("event_type").alias("type_a"),
                  F.col("mins").alias("ma"))
    b = sk.select(F.col("event_type").alias("type_b"),
                  F.col("mins").alias("mb"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    u = F.slice(F.array_sort(F.array_union("ma", "mb")), 1, _KMV_K)
    est = pairs.select(
        "type_a", "type_b",
        F.size(u).alias("n_u"),
        F.element_at(u, F.size(u)).alias("kth"),
        F.size(
            F.filter(
                u,
                lambda x: F.array_contains("ma", x)
                & F.array_contains("mb", x),
            )
        ).alias("n_both"),
    )
    est_union = F.when(
        F.col("n_u") < _KMV_K, F.col("n_u").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1)) * F.lit(2.0 ** 60)
        / F.col("kth").cast("double")
    )
    ut = ev.select("event_type", "user_id").dropDuplicates()
    ex_n = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    xa = ut.select(F.col("event_type").alias("type_a"), "user_id")
    xb = ut.select(F.col("event_type").alias("type_b"), "user_id")
    ex_inter = (
        xa.join(xb, ["user_id"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    na = ex_n.select(F.col("event_type").alias("type_a"),
                     F.col("n").alias("n_a"))
    nb = ex_n.select(F.col("event_type").alias("type_b"),
                     F.col("n").alias("n_b"))
    return (
        est.join(ex_inter, ["type_a", "type_b"], "left")
        .join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a", "type_b",
            F.col("n_both").cast("long").alias("sketch_overlap"),
            est_union.cast("decimal(18,6)").cast("double")
            .alias("est_union"),
            ((F.col("n_both").cast("double") / F.lit(float(_KMV_K)))
             * est_union).cast("decimal(18,6)").cast("double")
            .alias("est_inter"),
            (F.col("n_a") + F.col("n_b")
             - F.coalesce("exact_inter", F.lit(0))).cast("long")
            .alias("exact_union"),
            F.coalesce("exact_inter", F.lit(0)).cast("long")
            .alias("exact_inter"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters (frequency sketch — the third of
# the mergeable-sketch trio: KMV/HLL = distinct, CMS = frequency)
# ---------------------------------------------------------------------------

_CMS_D = 4        # hash rows
_CMS_W = 256      # buckets per row
_CMS_TOP = 20     # heavy hitters reported

_CMS_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(CAST({r} AS VARCHAR) || '_' "
    "|| CAST({u} AS VARCHAR)), 1, 15)) AS BIGINT) % " + str(_CMS_W)
)


@register(
    "a_countmin_heavy_hitters",
    oracle=f"""
    WITH counters AS (
        SELECT t.r, {_CMS_BUCKET_SQL.format(r='t.r', u='user_id')} AS bucket,
               COUNT(*) AS c
        FROM events, unnest([0, 1, 2, 3]) AS t(r)
        GROUP BY 1, 2
    ), topu AS (
        SELECT user_id, exact_n, rank FROM (
            SELECT user_id, COUNT(*) AS exact_n,
                   row_number() OVER (ORDER BY COUNT(*) DESC,
                                      user_id ASC) AS rank
            FROM events GROUP BY user_id
        ) WHERE rank <= {_CMS_TOP}
    ), probes AS (
        SELECT u.user_id, u.exact_n, u.rank, t.r,
               {_CMS_BUCKET_SQL.format(r='t.r', u='u.user_id')} AS bucket
        FROM topu u, unnest([0, 1, 2, 3]) AS t(r)
    )
    SELECT p.user_id, p.exact_n, MIN(c.c) AS cms_est, p.rank
    FROM probes p
    JOIN counters c ON c.r = p.r AND c.bucket = p.bucket
    GROUP BY 1, 2, 4
    """,
)
def a_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency estimation via a Count-Min sketch: d={_CMS_D} hash
    rows × w={_CMS_W} buckets of event counts; an item's estimate is
    the MIN of its d counters (one-sided: never under the truth).
    The top-{_CMS_TOP} exact heavy hitters ride alongside so the
    overestimate bias is visible per row. Counters are plain integer
    sums of a deterministic hash bucketing — the sketch is
    bit-reproducible and the oracle reproduces it exactly, like the
    KMV and HLL siblings.

    Scale story: CMS counters merge by + (same two-phase map-side
    combine Spark gives a COUNT groupBy), total state d·w = 1024
    cells regardless of cardinality — THE sketch for per-key
    frequency at 100 TB where exact per-user counts would be a
    full-cardinality shuffle. THIS report also outputs the exact
    top-{_CMS_TOP} (the bias column), so it pays that per-user
    aggregate regardless — and the counters are therefore built
    from the per-user counts it already has (counter value = sum of
    member users' counts): one events scan, {_CMS_D} hashes per
    USER instead of per event, bit-identical counters. A
    sketch-only deployment drops the topu branch and hashes raw
    events straight into the 1024 map-side-combined cells. The
    probe join broadcasts the 1024-row counter table; nothing
    user-cardinality-sized moves twice.
    """
    ev = load(spark, sf_dir, "events")
    from metadata_wrangler_spark.operators.dedup import md5_long

    def bucket(r_col, u_col):
        return md5_long(
            F.concat(r_col.cast("string"), F.lit("_"), u_col.cast("string"))
        ) % _CMS_W

    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    counters = (
        per_user.select(
            "user_id", "exact_n",
            F.explode(F.array([F.lit(i) for i in range(_CMS_D)]))
            .alias("r"),
        )
        .select(
            "r", bucket(F.col("r"), F.col("user_id")).alias("bucket"),
            "exact_n",
        )
        .groupBy("r", "bucket")
        .agg(F.sum("exact_n").alias("c"))
    )
    topu = (
        per_user.orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(_CMS_TOP)
        .withColumn(
            "rank",
            F.row_number()
            .over(W.orderBy(F.desc("exact_n"), F.asc("user_id")))
            .cast("long"),
        )
    )
    probes = topu.select(
        "user_id", "exact_n", "rank",
        F.explode(F.array([F.lit(i) for i in range(_CMS_D)])).alias("r"),
    ).withColumn("bucket", bucket(F.col("r"), F.col("user_id")))
    return (
        probes.join(F.broadcast(counters), ["r", "bucket"])
        .groupBy("user_id", "exact_n", "rank")
        .agg(F.min("c").alias("cms_est"))
        .select("user_id", "exact_n", "cms_est", "rank")
    )


@register(
    "a_simpson_diversity",
    oracle="""
    WITH per_user AS (
        SELECT event_type, user_id, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(SUM(c) AS BIGINT) AS n_events,
           COUNT(*) AS n_users,
           CAST((SUM(c * (c - 1)) * 1000000)
                // (SUM(c) * (SUM(c) - 1)) AS BIGINT)
               AS simpson_ppm
    FROM per_user
    GROUP BY event_type
    """,
)
def a_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration index per event type — the probability
    that two random events come from the SAME user, Σc(c−1)/N(N−1),
    reported in ppm: the diversity/skew health metric a training-mix
    builder watches (a source whose index spikes is dominated by few
    heavy keys — exactly the skew that later breaks joins). Integer
    arithmetic end-to-end (no entropy log): deterministic and
    oracle-exact.

    Scale: two hash-aggregates (user rollup, then type rollup) —
    both map-side-combining; nothing key-cardinality-sized leaves
    the first shuffle. The same Σc(c−1) accumulator is mergeable, so
    per-day partials combine without rescans.
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_user.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_users"),
        F.expr("SUM(c * (c - 1)) * 1000000 DIV (SUM(c) * (SUM(c) - 1))")
        .cast("long").alias("simpson_ppm"),
    )


# ---------------------------------------------------------------------------
# interval-overlap concurrency (distributed prefix sum)
# ---------------------------------------------------------------------------

_CONC_HOLD_S = 1800     # each event holds a "session slot" for 30 min


@register(
    "ev_concurrency_sweep",
    oracle=f"""
    WITH b AS (
        SELECT event_id, t, delta FROM (
            SELECT event_id,
                   unnest([struct_pack(t := CAST(floor(epoch(ts)) AS BIGINT),
                                       delta := 1),
                           struct_pack(t := CAST(floor(epoch(ts)) AS BIGINT)
                                            + {_CONC_HOLD_S},
                                       delta := -1)]) AS x
            FROM events
        ) u CROSS JOIN LATERAL (SELECT u.x.t AS t, u.x.delta AS delta) f
    ), r AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t ASC, delta DESC, event_id ASC
                                ROWS UNBOUNDED PRECEDING) AS conc
        FROM b
    )
    SELECT (t // 3600) * 3600 AS hour_epoch,
           CAST(MAX(conc) AS BIGINT) AS max_concurrency,
           COUNT(*) AS n_boundaries
    FROM r GROUP BY 1
    """,
)
def ev_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap concurrency (sweep line): every event holds a
    slot for {_CONC_HOLD_S} s; +1/−1 boundary deltas are prefix-summed
    over global time order and the per-hour MAX is the concurrency
    profile — capacity planning / peak-load analysis over intervals.
    Ties order (+1 before −1 at equal t) so touching intervals count
    as concurrent, identically in both engines.

    Scale shape — the point of this operator: a global running sum is
    the textbook SinglePartition trap, so it is computed as a
    DISTRIBUTED PREFIX SUM instead: (1) running sums WITHIN each hour
    bucket (window partitioned by hour — parallel), (2) per-hour
    bucket totals (tiny aggregate), (3) each bucket's starting offset
    from ``operators.prefix.bucket_offsets`` — one aggregate over the
    hour totals (thousands at most, never row-cardinality), joined
    back by broadcast — and (4) offset + within-bucket sum. Hours
    are fixed buckets, not sampled ranges, so no pin is needed. No
    stage serializes the full boundary stream; the oracle's flat
    window is the semantic spec.
    Per-row concurrency values inside equal-(t,delta) tie groups are
    permutation-dependent, so the query emits only per-hour MAX and
    counts — which are tie-invariant.
    """
    from metadata_wrangler_spark.operators.prefix import bucket_offsets

    ev = load(spark, sf_dir, "events")
    epoch = F.floor(F.unix_timestamp("ts")).cast("bigint")
    b = ev.select(
        "event_id",
        F.explode(
            F.array(
                F.struct(epoch.alias("t"), F.lit(1).alias("delta")),
                F.struct(
                    (epoch + _CONC_HOLD_S).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("x"),
    ).select("event_id", "x.t", "x.delta")
    b = b.withColumn("hour", F.expr("t DIV 3600") * 3600)

    within = W.partitionBy("hour").orderBy(
        F.asc("t"), F.desc("delta"), F.asc("event_id")
    ).rowsBetween(W.unboundedPreceding, 0)
    local = b.withColumn("run_local", F.sum("delta").over(within))

    totals = b.groupBy("hour").agg(F.sum("delta").alias("h"))
    offsets = bucket_offsets(totals, "hour", (), ["h"])
    swept = local.join(F.broadcast(offsets), "hour").withColumn(
        "conc", F.coalesce(F.col("run_local") + F.col("h_off"), "run_local")
    )
    return swept.groupBy(F.col("hour").alias("hour_epoch")).agg(
        F.max("conc").cast("long").alias("max_concurrency"),
        F.count(F.lit(1)).alias("n_boundaries"),
    )


# ---------------------------------------------------------------------------
# half-life-decayed engagement score (time-decay aggregation)
# ---------------------------------------------------------------------------

_DECAY_NOW = _RFM_NOW        # same fixed as-of as the RFM census
_DECAY_HALF_LIFE_S = 604800  # one week


@register(
    "ev_decay_halflife",
    oracle=f"""
    WITH q AS (
        SELECT user_id, event_type,
               CAST(floor(value * 10000 + 0.5) AS BIGINT)
                 >> CAST(floor((epoch(TIMESTAMP '{_DECAY_NOW}')
                                - floor(epoch(ts)))
                               / {_DECAY_HALF_LIFE_S})
                         AS BIGINT) AS dv
        FROM events
    )
    SELECT user_id,
           CAST(SUM(dv) AS BIGINT) / 10000.0 AS decayed_score,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN dv ELSE 0 END)
                AS BIGINT) / 10000.0 AS decayed_purchase,
           COUNT(*) AS n_events
    FROM q GROUP BY user_id
    """,
)
def ev_decay_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement scoring with a one-week half-life:
    each event's value is weighted by 2^-(age/half_life) and summed
    per user — the recency-weighted activity score a ranking or
    churn model consumes instead of a flat lifetime sum.

    The decay is computed as an INTEGER BINARY SHIFT of the 1e-4
    fixed-point value by the event's age in whole half-lives
    (weight quantized to powers of two), so the aggregate is
    bit-identical across engines and partition orders — the repo's
    standing determinism rule; a float exp() would make the sum
    order-dependent. The as-of is a fixed literal (same as the RFM
    census), which keeps the score incremental-friendly: one
    user's delta updates their row alone.

    Scale shape: pure per-row expression (codegen) then ONE
    map-side-partial hash aggregate keyed by user — the cheapest
    possible distributed shape; no window, no join, no shuffle
    beyond the final per-user combine.
    """
    ev = load(spark, sf_dir, "events")
    # per-row: quantize to 1e-4 fixed point, arithmetic-shift right by
    # the age in whole half-lives (shiftright needs a column shift
    # amount, so it is spelled via expr; DIV on bigints truncates,
    # matching the oracle's floor())
    q = ev.select(
        "user_id",
        "event_type",
        F.expr(
            f"CAST(floor(value * 10000 + 0.5) AS BIGINT) >> "
            f"CAST((unix_timestamp(timestamp'{_DECAY_NOW}')"
            f" - floor(unix_timestamp(ts))) DIV {_DECAY_HALF_LIFE_S}"
            f" AS BIGINT)"
        ).alias("dv"),
    )
    return q.groupBy("user_id").agg(
        (F.sum("dv").cast("bigint") / 10000.0).alias("decayed_score"),
        (
            F.sum(F.when(F.col("event_type") == "purchase", F.col("dv"))
                  .otherwise(F.lit(0))).cast("bigint") / 10000.0
        ).alias("decayed_purchase"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# sliding-window COUNT(DISTINCT): trailing-7-day active users
# ---------------------------------------------------------------------------

_SLIDE_DAYS = 7


@register(
    "ev_sliding_distinct",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT)
                   AS day,
               user_id
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    contrib AS (
        SELECT du.day + k AS wend, du.user_id
        FROM du, unnest(generate_series(0, {_SLIDE_DAYS - 1})) AS t(k)
    )
    SELECT d.day AS window_end_day,
           COUNT(DISTINCT c.user_id) AS active_users
    FROM days d JOIN contrib c ON c.wend = d.day
    GROUP BY d.day
    """,
)
def ev_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the sliding
    COUNT(DISTINCT) every engagement dashboard needs and naive SQL
    cannot express without a per-day self-join over the raw facts.

    The distributed shape is the contribute-forward trick: reduce
    the facts to DISTINCT (day, user) pairs first (the big
    cardinality drop), then each pair contributes to the 7 window
    end-days it is visible from via a 7-way explode, and one
    hash-aggregate per end-day counts distinct users. Work is
    7 × |distinct day-user pairs| — independent of raw event volume
    — vs the naive range-join's |days| × |events|. Only end-days
    present in the data are emitted (join against the day set), so
    the leading edge has the same partial-window semantics in both
    engines.

    Scale shape: two hash-aggregates and a generate — no window
    function, no range join, no SinglePartition; the explode factor
    equals the window length, the standard time-series rollup
    trade.
    """
    ev = load(spark, sf_dir, "events")
    du = (
        ev.select(
            F.floor(F.floor(F.unix_timestamp("ts")) / 86400)
            .cast("bigint").alias("day"),
            "user_id",
        )
        .distinct()
    )
    days = du.select("day").distinct()
    contrib = du.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (_SLIDE_DAYS - 1))
        ).alias("wend"),
        "user_id",
    )
    return (
        days.join(contrib, days.day == contrib.wend)
        .groupBy(days.day.alias("window_end_day"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# event-type Markov transition matrix (journey analytics)
# ---------------------------------------------------------------------------


@register(
    "ev_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ),
    tot AS (SELECT prev_type, SUM(n) AS row_total FROM t GROUP BY prev_type)
    SELECT t.prev_type, t.next_type, t.n,
           CAST((1000000 * t.n) // tot.row_total AS BIGINT) AS prob_ppm
    FROM t JOIN tot USING (prev_type)
    """,
)
def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (previous type → next type) pair, the count
    and the row-normalized transition probability in exact ppm —
    the journey model behind next-action prediction and funnel
    drop-off diagnostics (the CEP path-regex query
    `ev_regex_path_match` matches specific journeys; this one
    estimates the whole chain).

    Scale shape: one lag window PARTITIONED BY user (parallel,
    bounded by per-user history), one hash aggregate to the
    |types|² transition table (25 rows here — tiny at any corpus
    size), and a broadcast row-total join. The raw stream is
    touched once.
    """
    ev = load(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    )
    t = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = t.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        t.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("(1000000 * n) DIV row_total").alias("prob_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over daily means
# ---------------------------------------------------------------------------


@register(
    "ev_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
               SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS qsum,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, SUM(qsum) AS t, SUM(cnt) AS n FROM daily
        GROUP BY event_type
    ),
    cum AS (
        SELECT d.event_type, d.day,
               SUM(d.qsum) OVER w AS cs, SUM(d.cnt) OVER w AS cc,
               tot.t, tot.n
        FROM daily d JOIN tot USING (event_type)
        WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING)
    ),
    stat AS (
        SELECT event_type, day,
               CAST(n AS HUGEINT) * CAST(cs AS HUGEINT)
                 - CAST(t AS HUGEINT) * CAST(cc AS HUGEINT) AS s,
               CAST(t AS HUGEINT) * CAST(n AS HUGEINT) AS tn
        FROM cum
    )
    SELECT event_type, day AS change_day,
           CAST((1000000 * abs(s)) // tn AS BIGINT) AS cusum_ppm,
           CAST(CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END
                AS INT) AS direction
    FROM (
        SELECT event_type, day, s, tn,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY abs(s) DESC, day ASC) AS rn
        FROM stat
    ) t WHERE rn = 1
    """,
)
def ev_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the day where
    the cumulative deviation of daily value totals from the
    type-level mean rate peaks — the standard level-shift detector
    a metrics pipeline runs to date a regression. The statistic is
    kept RATIONAL-EXACT: S_k = Σ(daily_sum) - μ·Σ(daily_count)
    with μ = T/N is evaluated as N·ΣS - T·ΣC over HUGEINT/DECIMAL
    (never a float μ), normalized to ppm of T·N only at the end —
    so the argmax day cannot flip on float noise between engines.

    Scale shape: the raw stream collapses to (type, day) rows in
    one map-side-partial aggregate; the cumulative window runs per
    type over days (tiny, parallel across types); the argmax is a
    second per-type window over the same rows. Raw events are
    touched exactly once.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.floor(F.floor(F.unix_timestamp("ts")) / 86400)
        .cast("bigint").alias("day"),
    ).agg(
        F.sum(
            F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint")
        ).alias("qsum"),
        F.count(F.lit(1)).alias("cnt"),
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("qsum").alias("t"), F.sum("cnt").alias("n")
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            F.sum("qsum").over(wcum).alias("cs"),
            F.sum("cnt").over(wcum).alias("cc"),
            "t",
            "n",
        )
    )
    d20 = "decimal(20,0)"
    stat = cum.select(
        "event_type",
        "day",
        (
            F.col("n").cast(d20) * F.col("cs").cast(d20)
            - F.col("t").cast(d20) * F.col("cc").cast(d20)
        ).alias("s"),
        (F.col("t").cast(d20) * F.col("n").cast(d20)).alias("tn"),
    )
    warg = W.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.asc("day")
    )
    return (
        stat.withColumn("rn", F.row_number().over(warg))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.expr("CAST((1000000 * abs(s)) DIV tn AS BIGINT)")
            .alias("cusum_ppm"),
            F.when(F.col("s") > 0, 1)
            .when(F.col("s") < 0, -1)
            .otherwise(0)
            .cast("int")
            .alias("direction"),
        )
    )


# ---------------------------------------------------------------------------
# top user-journey paths (per user-day event sequences)
# ---------------------------------------------------------------------------


@register(
    "w_session_path_topk",
    oracle="""
    WITH s AS (
        SELECT user_id,
               CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM events
        WHERE event_type IS NOT NULL  -- a typeless event is no step;
          -- filtering pre-agg keeps "day with no typed events" =
          -- "no session" on both engines (string_agg of none is
          -- NULL, array_join of none is '')
        GROUP BY user_id,
               CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT)
    ),
    p AS (SELECT path, COUNT(*) AS n_sessions FROM s GROUP BY path)
    SELECT path, n_sessions FROM p
    ORDER BY n_sessions DESC, path ASC LIMIT 20
    """,
)
def w_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: each user-day's events concatenated
    in time order into a path string ('view>click>purchase'), then
    the 20 most common paths — the whole-journey census that
    complements ev_markov_transitions' pairwise chain and
    ev_regex_path_match's single-pattern matcher.

    Scale shape: the sequence assembly is a per-(user, day)
    collect_list + array_sort (bounded by one user's daily
    activity; partitioned, never global), the path census is a hash
    aggregate on the path string, and the final top-20 runs as
    TakeOrderedAndProject — per-partition heaps, no full sort of
    the path table.
    """
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()  # a typeless event is no step
    )
    s = (
        ev.select(
            "user_id",
            F.floor(F.floor(F.unix_timestamp("ts")) / 86400)
            .cast("bigint").alias("day"),
            F.struct("ts", "event_id", "event_type").alias("e"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("e")),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        s.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# chi-square independence: event mix vs day-of-week
# ---------------------------------------------------------------------------


@register(
    "a_chi2_independence",
    oracle="""
    WITH cell AS (
        SELECT event_type,
               CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) % 7 AS dow,
               COUNT(*) AS o
        FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, SUM(o) AS rt FROM cell GROUP BY event_type),
    c AS (SELECT dow, SUM(o) AS ct FROM cell GROUP BY dow),
    n AS (SELECT SUM(o) AS nt FROM cell),
    term AS (
        SELECT cell.event_type, cell.o,
               CAST(floor(
                   (CAST(n.nt * cell.o - r.rt * c.ct AS DOUBLE)
                    * CAST(n.nt * cell.o - r.rt * c.ct AS DOUBLE))
                   / (CAST(n.nt AS DOUBLE) * CAST(r.rt AS DOUBLE)
                      * CAST(c.ct AS DOUBLE))
                   * 1000000 + 0.5) AS BIGINT) AS t_micro
        FROM cell JOIN r USING (event_type) JOIN c USING (dow)
        CROSS JOIN n
    )
    SELECT event_type, CAST(SUM(o) AS BIGINT) AS n_events,
           CAST(SUM(t_micro) AS BIGINT) AS chi2_contrib_micro
    FROM term GROUP BY event_type
    """,
)
def a_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen: is the event-type mix stable
    across days of the week? Each (type, weekday) cell contributes
    (O−E)²/E with E = row·col/N; the per-type contribution sums are
    the seasonality red-flags a metrics pipeline checks before
    trusting week-over-week comparisons. The statistic is evaluated
    as (N·O − R·C)²/(N·R·C) — numerator and denominator are EXACT
    integers cast once to double (same bits both engines; within
    2^53 up to ~billions of events per cell — beyond that,
    pre-scale the counts), each cell's term quantized to 1e-6 and
    summed as integers, so partition order cannot move the result.
    Weekday is epoch-day mod 7 (no locale-dependent dayofweek()).

    Scale shape: raw events collapse to the |types|×7 cell table in
    one map-side-partial aggregate; everything after is arithmetic
    on ~35 rows with broadcast margins.
    """
    ev = load(spark, sf_dir, "events")
    cell = ev.groupBy(
        "event_type",
        (
            F.floor(F.floor(F.unix_timestamp("ts")) / 86400)
            .cast("bigint") % 7
        ).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    r = cell.groupBy("event_type").agg(F.sum("o").alias("rt"))
    c = cell.groupBy("dow").agg(F.sum("o").alias("ct"))
    n = cell.agg(F.sum("o").alias("nt"))
    num = (F.col("nt") * F.col("o") - F.col("rt") * F.col("ct")) \
        .cast("double")
    den = (
        F.col("nt").cast("double")
        * F.col("rt").cast("double")
        * F.col("ct").cast("double")
    )
    term = (
        cell.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "o",
            F.floor(num * num / den * 1000000 + F.lit(0.5))
            .cast("bigint").alias("t_micro"),
        )
    )
    return term.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("n_events"),
        F.sum("t_micro").cast("bigint").alias("chi2_contrib_micro"),
    )


# ---------------------------------------------------------------------------
# journey similarity: edit distance to the golden conversion path
# ---------------------------------------------------------------------------

_GOLDEN_PATH = "vcp"  # view > click > purchase, compacted to initials


@register(
    "w_path_edit_similarity",
    oracle=f"""
    WITH s AS (
        SELECT user_id,
               CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS path
        FROM events
        WHERE event_type IS NOT NULL  -- a typeless event is no step
        GROUP BY user_id,
               CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT)
    )
    SELECT user_id, day, path,
           CAST(levenshtein(path, '{_GOLDEN_PATH}') AS INT) AS edit_dist,
           (1000000 * (greatest(length(path), {len(_GOLDEN_PATH)})
                       - levenshtein(path, '{_GOLDEN_PATH}')))
             // greatest(length(path), {len(_GOLDEN_PATH)})
               AS similarity_ppm
    FROM s
    """,
)
def w_path_edit_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey similarity scoring: each user-day path (event-type
    initials in time order) measured by edit distance against the
    golden conversion journey '{_GOLDEN_PATH}' (view→click→
    purchase), normalized to a ppm similarity — the behavioral
    scoring that ranks sessions by how close they came to
    converting, complementing the exact matcher
    (ev_regex_path_match) and the census (w_session_path_topk).
    Initials are unique across this event vocabulary, so the
    compaction is lossless.

    Scale shape: per-(user, day) ordered reassembly (bounded by
    daily activity, partitioned) then a pure codegen
    levenshtein+arithmetic projection — the same JVM levenshtein
    the fuzzy-match family runs; no joins, no further shuffles.
    """
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()  # a typeless event is no step
    )
    s = (
        ev.select(
            "user_id",
            F.floor(F.floor(F.unix_timestamp("ts")) / 86400)
            .cast("bigint").alias("day"),
            F.struct("ts", "event_id", "event_type").alias("e"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("e")),
                    lambda x: F.substring(x["event_type"], 1, 1),
                ),
                "",
            ).alias("path")
        )
    )
    g = F.lit(_GOLDEN_PATH)
    maxlen = F.greatest(F.length("path"), F.lit(len(_GOLDEN_PATH)))
    dist = F.levenshtein(F.col("path"), g)
    return s.select(
        "user_id",
        "day",
        "path",
        dist.cast("int").alias("edit_dist"),
        F.expr(
            f"(1000000 * (greatest(length(path), {len(_GOLDEN_PATH)})"
            f" - levenshtein(path, '{_GOLDEN_PATH}')))"
            f" DIV greatest(length(path), {len(_GOLDEN_PATH)})"
        ).alias("similarity_ppm"),
    )


# ---------------------------------------------------------------------------
# bounded-gap funnel (each step within 1 h of the previous)
# ---------------------------------------------------------------------------

_FUNNEL_GAP_S = 3600


@register(
    "ev_funnel_bounded",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS ep
        FROM events
    ),
    s1 AS (
        SELECT user_id, MIN(ep) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ep) AS t2
        FROM e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click'
          AND e.ep > s1.t1 AND e.ep <= s1.t1 + {_FUNNEL_GAP_S}
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ep) AS t3
        FROM e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase'
          AND e.ep > s2.t2 AND e.ep <= s2.t2 + {_FUNNEL_GAP_S}
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_view,
           (SELECT COUNT(*) FROM s2) AS n_click_1h,
           (SELECT COUNT(*) FROM s3) AS n_purchase_1h,
           (1000000 * (SELECT COUNT(*) FROM s3))
             // (SELECT COUNT(*) FROM s1) AS conversion_ppm
    """,
)
def ev_funnel_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-gap funnel (the Amplitude-style sequenced funnel):
    first view → first click within ONE HOUR of that view → first
    purchase within one hour of THAT click, each step re-anchored on
    the previous step's time — vs ev_funnel_conversion's global
    firsts, which over-count users whose steps happened days apart.
    Gaps are measured on floored epochs so both engines compare the
    same integers.

    Scale shape: three per-user conditional-min hash aggregates
    chained by equi-joins on the user key (each stage's output is
    user-cardinality, shrinking down the funnel); the final census
    is four scalar counts. The event table is scanned once per
    stage with the type filter pushed to the scan.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("ep"),
    )
    s1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ep").alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where((F.col("ep") > F.col("t1"))
               & (F.col("ep") <= F.col("t1") + _FUNNEL_GAP_S))
        .groupBy("user_id").agg(F.min("ep").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where((F.col("ep") > F.col("t2"))
               & (F.col("ep") <= F.col("t2") + _FUNNEL_GAP_S))
        .groupBy("user_id").agg(F.min("ep").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).alias("n_view"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n_click_1h"))
    n3 = s3.agg(F.count(F.lit(1)).alias("n_purchase_1h"))
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(n3))
        .select(
            "n_view",
            "n_click_1h",
            "n_purchase_1h",
            # nullif: an EMPTY funnel (no views at all) reports NULL
            # conversion, not a divide-by-zero crash; non-empty
            # inputs are untouched (DIV by a non-zero count).
            F.expr("(1000000 * n_purchase_1h) DIV nullif(n_view, 0)")
            .alias("conversion_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# semi-structured column: typed JSON props extraction + rollup
# ---------------------------------------------------------------------------


@register(
    "ev_json_props",
    oracle="""
    WITH x AS (
        SELECT event_type, CAST(props->>'k' AS INT) AS k
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(*) FILTER (k IS NULL) AS n_missing,
           CAST(MIN(k) AS INT) AS min_k,
           CAST(MAX(k) AS INT) AS max_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           COUNT(DISTINCT k) AS distinct_k,
           (1000000 * CAST(SUM(CASE WHEN k >= 50 THEN 1 ELSE 0 END)
                           AS BIGINT)) // COUNT(*) AS high_k_ppm
    FROM x GROUP BY event_type
    """,
)
def ev_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: the events table's `props`
    JSON string parsed with a DECLARED schema (`from_json`, the
    idiomatic Spark path — typed extraction inside codegen, no
    Python) and rolled up per event type with a missing-value count
    — the pattern for every raw-ingest fact table that carries a
    JSON grab-bag column next to the typed ones. The oracle uses
    DuckDB's native JSON operator, so the hash check proves the two
    engines' JSON paths agree, not just two regexes.

    Scale shape: one scan, JSON parse in codegen (Jackson, not a
    UDF), one hash aggregate. At 100 TB the win is the same as any
    scan-heavy op: push the needed key into the parse schema and
    let the rest of the JSON stay unparsed.
    """
    from pyspark.sql import types as T

    ev = load(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        F.from_json(
            F.col("props"), T.StructType([T.StructField("k", T.IntegerType())])
        )["k"].alias("k"),
    )
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_missing"),
        F.min("k").cast("int").alias("min_k"),
        F.max("k").cast("int").alias("max_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.countDistinct("k").alias("distinct_k"),
        F.expr(
            "(1000000 * CAST(SUM(CASE WHEN k >= 50 THEN 1 ELSE 0 END)"
            " AS BIGINT)) DIV COUNT(*)"
        ).alias("high_k_ppm"),
    )


# ---------------------------------------------------------------------------
# time-to-convert distribution (survival-lite)
# ---------------------------------------------------------------------------


@register(
    "ev_time_to_convert",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS ep
        FROM events
    ),
    v AS (SELECT user_id, MIN(ep) AS t_view FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    p AS (
        SELECT e.user_id, MIN(e.ep) AS t_buy
        FROM e JOIN v USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ep > v.t_view
        GROUP BY e.user_id
    ),
    d AS (
        SELECT p.user_id, p.t_buy - v.t_view AS delta_s,
               ROW_NUMBER() OVER (ORDER BY p.t_buy - v.t_view,
                                           p.user_id) AS rn,
               COUNT(*) OVER () AS n
        FROM p JOIN v USING (user_id)
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(MIN(delta_s) AS BIGINT) AS min_s,
           CAST(MIN(CASE WHEN rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1
                         THEN delta_s END) AS BIGINT) AS median_s,
           CAST(MIN(CASE WHEN rn = CAST(floor((n - 1) * 0.9) AS BIGINT) + 1
                         THEN delta_s END) AS BIGINT) AS p90_s,
           CAST(MAX(delta_s) AS BIGINT) AS max_s
    FROM d
    """,
)
def ev_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution (survival-analysis-lite): for
    every user whose first purchase follows their first view, the
    elapsed seconds — summarized as min / discrete median / p90 /
    max. This is the latency twin of the funnel counts
    (ev_funnel_bounded says HOW MANY convert; this says HOW LONG
    conversion takes), the number an activation team actually
    tracks week over week.

    Scale shape: two per-user conditional-min aggregates and a join
    (user-cardinality throughout); the summary needs only n / min /
    max and the values at TWO global ranks, so it is a SELECTION
    problem (round-11, guide §2.4): it rides the histogram-refinement
    selection operator (operators/selection.py) — n/min/max fall out
    of the stats pass and both percentile targets resolve from the
    same bounded histograms. The round-10 spelling range-shuffled,
    checkpointed and rank-annotated every delta row through the
    prefix operator only to discard all but two ranks; selection
    scans the cached 2-column delta frame twice and shuffles a few
    thousand counters. Value-at-rank is tie-break invariant (ties
    share a value), so the oracle's ROW_NUMBER spelling selects the
    same values.
    """
    import math

    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("ep"),
    )
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ep").alias("t_view"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ep") > F.col("t_view"))
        .groupBy("user_id").agg(F.min("ep").alias("t_buy"))
    )
    from metadata_wrangler_spark.operators.selection import grouped_select

    conv = p.join(v, "user_id").select(
        (F.col("t_buy") - F.col("t_view")).alias("delta_s")
    )
    # conv is a DERIVED frame (events scan + two aggregates + two
    # joins) scanned by both selection rounds — the cache_input case.
    sel = grouped_select(
        conv, "delta_s",
        lambda st: {
            "median_s": int(math.floor((st.n - 1) * 0.5)) + 1,
            "p90_s": int(math.floor((st.n - 1) * 0.9)) + 1,
        },
        cache_input=True,
        # domain contract: a second-granularity gap between two
        # in-range event timestamps is < 2^31 (68 years) — same
        # bound as ev_gap_percentiles' gaps.
        domain_bits=31,
    )
    if sel:
        m = sel[0]
        row = [(m["n"], m["vmin"], m["median_s"], m["p90_s"], m["vmax"])]
    else:
        # no converting user: the oracle's flat aggregate still
        # returns one all-NULL row.
        row = [(None, None, None, None, None)]
    return spark.createDataFrame(
        row,
        "n_converted bigint, min_s bigint, median_s bigint,"
        " p90_s bigint, max_s bigint",
    )


# ---------------------------------------------------------------------------
# marketing attribution: first-touch vs last-touch channel credit
# ---------------------------------------------------------------------------


@register(
    "ev_attribution_credit",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ep
        FROM events
    ), conv AS (
        SELECT user_id, MIN(ep) AS conv_t
        FROM e WHERE event_type = 'purchase' GROUP BY user_id
    ), touch AS (
        SELECT e.user_id, e.event_type, e.ep, e.event_id,
               ROW_NUMBER() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ep, e.event_id) AS rn_first,
               ROW_NUMBER() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ep DESC, e.event_id DESC)
                   AS rn_last
        FROM e JOIN conv USING (user_id)
        WHERE e.event_type <> 'purchase' AND e.ep < conv.conv_t
    )
    SELECT event_type AS channel,
           CAST(SUM(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS first_touch,
           CAST(SUM(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS last_touch
    FROM touch GROUP BY event_type
    """,
)
def ev_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch conversion attribution: for every
    converting user (first purchase = conversion moment), which
    channel (event type) earned the FIRST pre-conversion touch and
    which earned the LAST — the two bookend models every marketing
    mix comparison starts from. Deterministic tie order
    (second-resolution timestamp, then event id).

    Scale shape: conversion times are a per-user conditional-min
    hash aggregate; the touch table joins it back (user-keyed
    equi-join) and the first/last picks ride ONE
    Window.partitionBy(user_id) pass each — user_id is
    high-cardinality, so the per-user window is the honest
    distributed spelling here (the low-cardinality trap the grouped
    prefix operator exists for does not apply), and both
    row_numbers share the same partitioning so AQE plans a single
    exchange. Credit rollup is a tiny per-channel aggregate.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type", "event_id",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("ep"),
    )
    conv = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.min("ep").alias("conv_t"))
    )
    touch = (
        e.where(F.col("event_type") != "purchase")
        .join(conv, "user_id")
        .where(F.col("ep") < F.col("conv_t"))
    )
    by_user = W.partitionBy("user_id")
    picked = touch.select(
        "event_type",
        F.row_number()
        .over(by_user.orderBy(F.asc("ep"), F.asc("event_id")))
        .alias("rn_first"),
        F.row_number()
        .over(by_user.orderBy(F.desc("ep"), F.desc("event_id")))
        .alias("rn_last"),
    )
    return picked.groupBy(F.col("event_type").alias("channel")).agg(
        F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0))
        .cast("bigint").alias("first_touch"),
        F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0))
        .cast("bigint").alias("last_touch"),
    )


# ---------------------------------------------------------------------------
# gaps-and-islands: per-user daily activity streaks
# ---------------------------------------------------------------------------


@register(
    "ev_activity_streaks",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), r AS (
        SELECT user_id, day,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
        FROM d
    ), island AS (
        SELECT user_id, day - rn * INTERVAL 1 DAY AS anchor,
               COUNT(*) AS len
        FROM r GROUP BY user_id, day - rn * INTERVAL 1 DAY
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM island GROUP BY user_id
    """,
)
def ev_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-day activity streaks — the canonical
    gaps-and-islands operator (retention dashboards, achievement
    systems, data-freshness SLAs all reduce to it): consecutive
    dates share one island because date minus per-user day-rank is
    constant within a run and jumps at every gap.

    Scale shape: one distinct over (user, day) — map-side partials
    collapse the per-day event fan-in before the shuffle — then a
    per-user window (user_id is high-cardinality; the honest
    distributed partitioning) and two hash aggregates on
    user-cardinality rows. No joins.
    """
    ev = load(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).dropDuplicates()
    r = d.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("user_id").orderBy("day")),
    )
    island = r.groupBy(
        "user_id", F.date_sub(F.col("day"), F.col("rn")).alias("anchor")
    ).agg(F.count(F.lit(1)).alias("len"))
    return island.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest_streak"),
    )


# ---------------------------------------------------------------------------
# nearest-event as-of join (bidirectional)
# ---------------------------------------------------------------------------


@register(
    "j_asof_nearest",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS ep, ts
        FROM events
    ), o AS (
        SELECT user_id, event_id, event_type, ep,
               LAST_VALUE(CASE WHEN event_type = 'click' THEN ep END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS back_ep,
               FIRST_VALUE(CASE WHEN event_type = 'click' THEN ep END
                           IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN CURRENT ROW
                         AND UNBOUNDED FOLLOWING) AS fwd_ep
        FROM e
    )
    SELECT user_id, event_id, ep AS purchase_ep,
           CASE WHEN back_ep IS NULL THEN fwd_ep
                WHEN fwd_ep IS NULL THEN back_ep
                WHEN ep - back_ep <= fwd_ep - ep THEN back_ep
                ELSE fwd_ep END AS nearest_click_ep,
           abs(ep - CASE WHEN back_ep IS NULL THEN fwd_ep
                         WHEN fwd_ep IS NULL THEN back_ep
                         WHEN ep - back_ep <= fwd_ep - ep THEN back_ep
                         ELSE fwd_ep END) AS gap_seconds
    FROM o
    WHERE event_type = 'purchase'
      AND (back_ep IS NOT NULL OR fwd_ep IS NOT NULL)
    """,
)
def j_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional NEAREST as-of join: each purchase pairs with
    its closest click in time, looking both backward and forward
    (ties go backward) — the sensor-alignment semantics
    (pandas merge_asof direction='nearest') that the backward-only
    ev_asof_join can't express: a purchase one second before its
    triggering click's log arrival would otherwise match a click
    hours earlier.

    Scale shape: both candidate directions come from ONE sort per
    user partition — last_value(IGNORE NULLS) unbounded-preceding
    and first_value unbounded-following share the same window
    ordering, so Catalyst plans a single exchange + sort; the
    nearest pick is a codegen CASE. No self-join of events against
    events, which is the naive nearest-neighbour spelling and
    quadratic per user.

    Skew contract: the per-user window is right while user
    cardinality is high and balanced (this table). When one key owns
    most rows (bot user, default device id), switch to
    `operators/asof.py::asof_states` — the segmented-scan spelling
    of the same semantics, range-bucketed so no task ever sorts more
    than ~n/P rows of the hot key (equivalence + 70%-hot-ladder
    balance asserted in tests/test_scale_techniques.py).
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id", "event_type", "ts",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("ep"),
    )
    click_ep = F.when(F.col("event_type") == "click", F.col("ep"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "user_id", "event_id", "event_type", "ep",
        F.last(click_ep, ignorenulls=True)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("back_ep"),
        F.first(click_ep, ignorenulls=True)
        .over(w.rowsBetween(W.currentRow, W.unboundedFollowing))
        .alias("fwd_ep"),
    )
    nearest = (
        F.when(F.col("back_ep").isNull(), F.col("fwd_ep"))
        .when(F.col("fwd_ep").isNull(), F.col("back_ep"))
        .when(
            F.col("ep") - F.col("back_ep")
            <= F.col("fwd_ep") - F.col("ep"),
            F.col("back_ep"),
        )
        .otherwise(F.col("fwd_ep"))
    )
    return (
        o.where(
            (F.col("event_type") == "purchase")
            & (F.col("back_ep").isNotNull() | F.col("fwd_ep").isNotNull())
        )
        .select(
            "user_id",
            "event_id",
            F.col("ep").alias("purchase_ep"),
            nearest.alias("nearest_click_ep"),
            F.abs(F.col("ep") - nearest).alias("gap_seconds"),
        )
    )


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov drift statistic (exact integer)
# ---------------------------------------------------------------------------


@register(
    "a_ks_drift",
    oracle="""
    WITH q AS (
        SELECT CAST(floor(value * 10000 + 0.5) AS BIGINT) AS qv,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
        FROM events WHERE event_type IN ('click', 'view')
          AND value IS NOT NULL  -- a NULL value is in neither ECDF
    ), c AS (
        SELECT qv, SUM(a) AS a_cnt, SUM(b) AS b_cnt
        FROM q GROUP BY qv
    ), r AS (
        SELECT qv,
               SUM(a_cnt) OVER (ORDER BY qv
                                ROWS UNBOUNDED PRECEDING) AS cum_a,
               SUM(b_cnt) OVER (ORDER BY qv
                                ROWS UNBOUNDED PRECEDING) AS cum_b,
               SUM(a_cnt) OVER () AS na, SUM(b_cnt) OVER () AS nb
        FROM c
    ), d AS (
        SELECT qv, na, nb, abs(cum_a * nb - cum_b * na) AS cross_diff
        FROM r
    ), m AS (SELECT MAX(cross_diff) AS max_diff FROM d)
    SELECT CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST((1000000 * MAX(max_diff)) // (MAX(na) * MAX(nb))
                AS BIGINT) AS d_ppm,
           CAST(MIN(CASE WHEN cross_diff = max_diff THEN qv END)
                AS BIGINT) / 10000.0 AS d_at_value
    FROM d CROSS JOIN m
    """,
)
def a_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the value
    distributions of two event types — THE distribution-drift gate a
    training pipeline runs between data snapshots (feature drift,
    label shift, corrupted feeds) where mean/variance checks
    (a_anomaly_zscore) miss shape changes. D = max |ECDF_a − ECDF_b|
    evaluated exactly: the ECDF difference at each distinct value is
    the INTEGER cross-difference |cum_a·n_b − cum_b·n_a| over the
    common denominator n_a·n_b — no float division until the final
    reported ppm, so the argmax (and its deterministic min-value tie
    break) is bit-stable across engines.

    Scale shape: one hash aggregate to distinct values (bounded by
    value cardinality, not rows), then the running counts ride the
    range-bucketed distributed prefix sum (operators/prefix.py,
    cum_cols over both indicator counts in ONE pass, totals free via
    total_col) — never an Exchange SinglePartition — then a 1-row
    max broadcast back for the argmax row. The oracle's flat windows
    are the semantic spec.
    """
    from metadata_wrangler_spark.operators.prefix import global_order_stats

    ev = load(spark, sf_dir, "events")
    q = ev.where(
        F.col("event_type").isin("click", "view")
        & F.col("value").isNotNull()  # in neither ECDF
    ).select(
        F.floor(F.col("value") * 10000 + F.lit(0.5))
        .cast("bigint").alias("qv"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("b"),
    )
    c = q.groupBy("qv").agg(
        F.sum("a").alias("a_cnt"), F.sum("b").alias("b_cnt")
    )
    r = global_order_stats(
        c, [F.asc("qv")], cum_cols=["a_cnt", "b_cnt"], rank_col=None,
        total_col="__n",
    )
    d = r.select(
        "qv",
        F.col("tot_a_cnt").alias("na"),
        F.col("tot_b_cnt").alias("nb"),
        F.abs(
            F.col("cum_a_cnt") * F.col("tot_b_cnt")
            - F.col("cum_b_cnt") * F.col("tot_a_cnt")
        ).alias("cross_diff"),
    )
    m = d.agg(F.max("cross_diff").alias("max_diff"))
    return d.crossJoin(F.broadcast(m)).agg(
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.expr(
            "CAST((1000000 * MAX(max_diff)) DIV (MAX(na) * MAX(nb))"
            " AS BIGINT)"
        ).alias("d_ppm"),
        (
            F.min(
                F.when(F.col("cross_diff") == F.col("max_diff"),
                       F.col("qv"))
            ).cast("bigint") / 10000.0
        ).alias("d_at_value"),
    )


# --- seasonality-aware anomaly: z-test against the (type, hour) cell ------


@register(
    "ev_seasonal_anomaly",
    oracle="""
    WITH q AS (
        SELECT event_id, event_type,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hod,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS qv
        FROM events
    ),
    base AS (
        SELECT event_type, hod,
               COUNT(*) AS n,
               SUM(CAST(qv AS HUGEINT)) AS s1,
               SUM(CAST(qv AS HUGEINT) * qv) AS s2
        FROM q GROUP BY event_type, hod
    )
    SELECT q.event_id, q.event_type, q.hod,
           CAST(q.qv AS BIGINT) / 10000.0 AS value,
           b.n AS cell_n,
           CASE WHEN b.n * q.qv > b.s1 THEN 'high' ELSE 'low' END AS side
    FROM q JOIN base b USING (event_type, hod)
    WHERE b.n >= 30
      AND (b.n * CAST(q.qv AS HUGEINT) - b.s1)
          * (b.n * CAST(q.qv AS HUGEINT) - b.s1)
          > 9 * (b.n * b.s2 - b.s1 * b.s1)
    """,
)
def ev_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomalies: events more than 3 sigma from
    the mean OF THEIR OWN (type, hour-of-day) cell — the alarm that
    doesn't fire every evening because traffic is always high in the
    evening, which is exactly what the global z-score
    (a_anomaly_zscore) gets wrong on diurnal data.

    The 3-sigma test is evaluated ENTIRELY in exact integer
    arithmetic: z² > 9 rewrites to (n·x − S1)² > 9·(n·S2 − S1²),
    every term a HUGEINT/DECIMAL(38,0) product of quantized sums —
    no sqrt, no division, no float anywhere, so the flag set is
    bit-identical cross-engine (same trick family as the Gini and
    PMI integer surrogates).

    Scale design: one map-side-partial aggregate to the ≤ |types|×24
    baseline cells, broadcast back, flag test in codegen on a second
    column-pruned scan. At 100 TB the baseline table is still 120
    rows.
    """
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_id",
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 3600).cast("bigint") % 24)
        .alias("hod"),
        F.floor(F.col("value") * 10000 + F.lit(0.5))
        .cast("bigint").alias("qv"),
    )
    d38 = "decimal(38,0)"
    base = q.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qv").cast(d38)).alias("s1"),
        F.sum((F.col("qv").cast("decimal(19,0)") * F.col("qv"))
              .cast(d38)).alias("s2"),
    )
    j = q.join(F.broadcast(base), ["event_type", "hod"])
    dev = F.col("n").cast(d38) * F.col("qv") - F.col("s1")
    var_n3 = F.lit(9).cast(d38) * (
        F.col("n").cast(d38) * F.col("s2") - F.col("s1") * F.col("s1")
    )
    return (
        j.where(F.col("n") >= 30)
        .where(dev * dev > var_n3)
        .select(
            "event_id",
            "event_type",
            "hod",
            (F.col("qv").cast("bigint") / 10000.0).alias("value"),
            F.col("n").alias("cell_n"),
            F.when(
                F.col("n").cast(d38) * F.col("qv") > F.col("s1"), "high"
            ).otherwise("low").alias("side"),
        )
    )


# --- burstiness: Fano factor of hourly arrival counts per type -----------


@register(
    "ev_burstiness",
    oracle="""
    WITH hc AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
               COUNT(*) AS c
        FROM events GROUP BY event_type, hr
    ),
    m AS (
        SELECT event_type,
               COUNT(*) AS n_hours,
               SUM(CAST(c AS HUGEINT)) AS s1,
               SUM(CAST(c AS HUGEINT) * c) AS s2
        FROM hc GROUP BY event_type
    )
    SELECT event_type, n_hours,
           CAST(s1 AS BIGINT) AS n_events,
           CAST((1000000 * (n_hours * s2 - s1 * s1))
                // (n_hours * s1) AS BIGINT) AS fano_ppm
    FROM m
    """,
)
def ev_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of arrivals per event type: the Fano factor
    (index of dispersion, variance/mean of hourly counts) in exact
    ppm — 1.0 ≈ Poisson, >1 bursty, <1 regular. The shape statistic
    capacity planning reads next to the hourly matrix
    (ev_pivot_daily_matrix): a type with fano 5x another needs 5x
    the headroom at equal volume.

    Exactness: variance/mean rewrites to (n·S2 − S1²) / (n·S1) over
    HUGEINT hourly-count sums — one integer division at the end,
    no float accumulation (same family as ev_seasonal_anomaly's
    integer z-test).

    Scale design: two stacked map-side-combining hash aggregates —
    (type, hour) counts then per-type moments; the second input is
    |types|×|hours| counters. Nothing row-sized shuffles twice.
    """
    ev = load(spark, sf_dir, "events")
    hc = (
        ev.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("bigint").alias("hr"),
        )
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d38 = "decimal(38,0)"
    m = hc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.col("c").cast(d38)).alias("s1"),
        F.sum((F.col("c").cast("decimal(19,0)") * F.col("c"))
              .cast(d38)).alias("s2"),
    )
    return m.select(
        "event_type",
        "n_hours",
        F.col("s1").cast("bigint").alias("n_events"),
        F.expr(
            "CAST((1000000 * (n_hours * s2 - s1 * s1))"
            " DIV (n_hours * s1) AS BIGINT)"
        ).alias("fano_ppm"),
    )


# --- inter-event-time percentiles: selection over arrival gaps -----------


@register(
    "ev_gap_percentiles",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               event_id
        FROM events
    ),
    gaps AS (
        SELECT event_type,
               sec - LAG(sec) OVER (
                   PARTITION BY user_id ORDER BY sec, event_id
               ) AS gap
        FROM e
    ),
    g AS (SELECT event_type, gap FROM gaps WHERE gap IS NOT NULL),
    r AS (
        SELECT event_type, gap,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY gap) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM g
    )
    SELECT event_type,
           MAX(n) AS n_gaps,
           CAST(MIN(CASE WHEN rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1
                    THEN gap END) AS BIGINT) AS p50_gap_s,
           CAST(MIN(CASE WHEN rn = CAST(floor((n - 1) * 0.9) AS BIGINT) + 1
                    THEN gap END) AS BIGINT) AS p90_gap_s
    FROM r GROUP BY event_type
    """,
)
def ev_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time percentiles per event type (median and p90
    of the gap between a user's consecutive events, seconds) — the
    statistic that picks the sessionization GAP
    (ev_sessionized_gaps hardcodes 1800 s; this query is where that
    number should come from) and sizes stream watermarks.

    Scale design: the per-user lag is a window over a
    HIGH-cardinality key (users — honest parallelism); the two
    per-TYPE percentiles are then SELECTIONS, so they ride
    operators/selection.py — no partitionBy(event_type) window ever
    sees the gap rows, and both targets resolve from the same
    bounded histograms. The oracle's ranked spelling is
    definitionally equal (value at rank is tie-invariant).
    """
    import math

    from metadata_wrangler_spark.operators.selection import grouped_select

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("sec", "event_id")
    gaps = (
        ev.select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_timestamp("ts").alias("sec"),
        )
        .withColumn("gap", (F.col("sec") - F.lag("sec").over(w))
                    .cast("bigint"))
        .where(F.col("gap").isNotNull())
        .select("event_type", "gap")
    )
    # gaps is a DERIVED frame (full per-user window) — the
    # cache_input case at scale: materialize once, let both
    # histogram rounds read the 2-column cache instead of re-running
    # the window. SCALE-TIERED (round 11): under ~8 MB of event
    # source the cache build costs more than the second window run
    # it saves (honest A/B at sf0.1: cached 1.76 s vs uncached
    # 1.52 s; sf10: cached 3.05 vs uncached 3.41 — rows identical
    # both ways). Zero-job driver-side probe of the source file
    # size; unknown sizes default to cached, the at-scale-safe side.
    _bytes = table_bytes(sf_dir, "events")
    _small = _bytes is not None and _bytes < (8 << 20)
    sel = grouped_select(
        gaps, "gap",
        lambda st: {
            "p50": int(math.floor((st.n - 1) * 0.5)) + 1,
            "p90": int(math.floor((st.n - 1) * 0.9)) + 1,
        },
        group_cols=["event_type"],
        cache_input=not _small,
        # a second-granularity gap between two in-range event
        # timestamps is < 2^31 (68 years) by construction — round 0
        # narrows to ≤2^15-wide windows and ONE refinement round
        # finishes: two scans of the cached gap frame, not three.
        domain_bits=31,
    )
    return spark.createDataFrame(
        [(m["event_type"], m["n"], m["p50"], m["p90"]) for m in sel],
        "event_type string, n_gaps bigint, p50_gap_s bigint,"
        " p90_gap_s bigint",
    )
