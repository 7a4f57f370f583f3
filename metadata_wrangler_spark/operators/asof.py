"""Skew-proof as-of alignment — last/next marked observation per
row WITHOUT a per-key window, for HOT-KEY timelines.

The natural spelling of an as-of/nearest join inside one entity's
timeline is a pair of windows partitioned by the entity key
(`plans/events.py::j_asof_nearest`): one task sorts each entity's
rows. That is the right plan when keys are plentiful and balanced —
and a serialization trap when one key owns most of the table (a
bot user, a default device id, the classic 70%-hot tenant): one
task sorts 70% of the data, at any cluster size.

This operator is the segmented-scan spelling of the same semantics,
the ``operators/prefix.py`` scheme specialized to as-of:

  1. ``repartitionByRange(P, key, *order)`` — partition sizes are
     balanced by construction (the range partitioner splits on the
     full sort tuple, ties included, so even ONE key spanning many
     partitions splits cleanly);
  2. within each bucket, the backward state is a running
     ``max(struct(order…, payload))`` over MARKED rows and the
     forward state a running ``min`` — struct ordering makes
     "latest preceding / earliest following marked row" a plain
     algebraic max/min, which is what lets step 3 compose;
  3. per-(bucket, key) extrema (one tiny aggregate) become
     cross-bucket offsets — running max from earlier buckets /
     running min from later buckets of the same key — via a window
     PARTITIONED BY KEY over ≤ P rows per key (never data-sized,
     never skewed: a key has at most one row per bucket), kept only
     for keys that SPAN a bucket boundary (≤ 2·P rows total, so the
     join back is a broadcast);
  4. final state = ``greatest(local, offset)`` / ``least(...)``.

No stage ever holds more than ~n/P rows of one key, and every
auxiliary structure is bounded by P, not by data size.

Reference behavior: the reference aligns each coverage record with
the latest prior licensepool/edition event when replaying history
(`coverage_provider.py:82-118` ordering by timestamp per
identifier); this is that alignment made hot-identifier-proof.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators.prefix import range_buckets

_B = "__asof_bucket"


def asof_states(
    df: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    marked: Column,
    payload_col: str,
    *,
    npart: int | None = None,
    back_col: str = "back_state",
    fwd_col: str = "fwd_state",
) -> DataFrame:
    """Annotate every row with the payload of the latest MARKED row
    at-or-before it (``back_col``) and the earliest marked row
    at-or-after it (``fwd_col``), within its ``key_col`` timeline
    ordered by ``order_cols`` — NULL where no such row exists.

    ``marked`` is a boolean Column selecting the observation rows
    (e.g. ``F.col("event_type") == "click"``); ``payload_col`` is
    the value carried. It rides inside a struct keyed by the order
    columns, so any orderable payload type works. Contract: the
    order columns are non-null and, with the key, a total order;
    ``payload_col`` is non-null on marked rows (struct comparison
    is what orders the states).

    Output = input columns + the two state columns. Row order is
    not preserved (this is a distributed annotate, not a sort).
    """
    ocols = list(order_cols)
    b = range_buckets(
        df, [F.asc(key_col)] + [F.asc(c) for c in ocols], npart, _B,
        "asof_states buckets",
    )
    # struct fields get positional aliases so payload may reuse an
    # order column (e.g. "nearest click epoch" orders by ep AND
    # carries ep) without an ambiguous-field extraction
    state = F.when(
        marked,
        F.struct(
            *[F.col(c).alias(f"__o{i}") for i, c in enumerate(ocols)],
            F.col(payload_col).alias("__p"),
        ),
    )
    w = W.partitionBy(_B, key_col).orderBy(*[F.asc(c) for c in ocols])
    loc = b.withColumn(
        "__asof_back",
        F.max(state).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    ).withColumn(
        "__asof_fwd",
        F.min(state).over(w.rowsBetween(W.currentRow, W.unboundedFollowing)),
    )
    totals = b.groupBy(_B, key_col).agg(
        F.max(state).alias("__asof_bmax"),
        F.min(state).alias("__asof_bmin"),
    )
    # Cross-bucket offsets: per key, running max of earlier buckets'
    # maxima / running min of later buckets' minima. The window is
    # partitioned by KEY over the totals table — ≤ one row per
    # bucket per key, so ≤ npart rows per partition regardless of
    # how hot the key is in the data. Keys living entirely inside
    # one bucket need no offset (greatest(local, NULL) = local), so
    # only boundary-spanning keys are kept: ≤ 2·npart rows, a
    # guaranteed broadcast.
    wk = W.partitionBy(key_col)
    wo = wk.orderBy(_B)
    offsets = (
        totals.withColumn("__asof_nb", F.count(F.lit(1)).over(wk))
        .where(F.col("__asof_nb") > 1)
        .select(
            F.col(_B).alias("__asof_ob"),
            F.col(key_col).alias("__asof_ok"),
            F.max("__asof_bmax")
            .over(wo.rowsBetween(W.unboundedPreceding, -1))
            .alias("__asof_back_off"),
            F.min("__asof_bmin")
            .over(wo.rowsBetween(1, W.unboundedFollowing))
            .alias("__asof_fwd_off"),
        )
    )
    jcond = (loc[_B] == offsets["__asof_ob"]) & loc[key_col].eqNullSafe(
        offsets["__asof_ok"]
    )
    out = (
        loc.join(F.broadcast(offsets), jcond, "left")
        .withColumn(
            back_col,
            F.greatest(F.col("__asof_back"), F.col("__asof_back_off"))
            ["__p"],
        )
        .withColumn(
            fwd_col,
            F.least(F.col("__asof_fwd"), F.col("__asof_fwd_off"))
            ["__p"],
        )
    )
    return out.drop(
        _B,
        "__asof_ob",
        "__asof_ok",
        "__asof_back_off",
        "__asof_fwd_off",
        "__asof_back",
        "__asof_fwd",
    )
