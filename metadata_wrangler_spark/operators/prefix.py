"""Distributed global order statistics — rank / running sum over a
total order WITHOUT an `Exchange SinglePartition`.

The textbook trap: ``row_number().over(Window.orderBy(...))`` or a
global cumulative ``sum().over(...)`` forces every row through ONE
partition — the plan Spark itself warns about ("No Partition Defined
for Window operation") and the first thing that dies at 100 TB. Two
plans in this engine already dodge it with hand-rolled monotone
bucketing (`ev_concurrency_sweep` buckets by hour,
`a_abc_pareto` by revenue bit-length); this operator is the general,
SKEW-PROOF spelling both of those approximate:

  1. ``repartitionByRange(P, *order)`` — Spark samples the sort key
     and assigns contiguous key ranges to partitions 0..P-1, so
     partition id is MONOTONE in the requested order and partition
     sizes are balanced by construction (no data-dependent bucket
     skew: a value that dominates the distribution still spreads
     over at most two boundary partitions' worth of rows — the
     range partitioner splits on the FULL order tuple, ties
     included).
  2. Within-partition ``row_number`` / running ``sum`` via a window
     PARTITIONED by ``spark_partition_id()`` — P parallel tasks,
     each sorting ~n/P rows.
  3. Per-partition totals (one tiny P-row aggregate) turned into
     starting offsets by a broadcast triangular join over the
     bucket ids (P² pairs; P is a config constant, never a function
     of data size).
  4. global rank = offset_count + local rank;
     global cum  = offset_sum  + local cum.

The one extra cost vs the single-partition plan is the range
partitioner's sampling pass — the same pass a global ``orderBy``
already pays — and one balanced shuffle. Both scale linearly.

This is the exact-total-order tier; when an approximate answer is
acceptable, prefer the sketch tier (`a_percentile_cont`'s
per-group aggregate, KMV/HLL in plans/events.py) which needs no
order at all.

Reference: the percentile utility this generalizes is
`/root/reference/bin/util/calculate_percentile:11-36` (a psql
``percentile_disc`` one-liner — single-node by construction).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators.arrow_stage import arrow_stage
from metadata_wrangler_spark.operators.driver_fetch import fetch_at_most
from metadata_wrangler_spark.operators.lineage import checkpoint

_B = "__gos_bucket"


def range_buckets(
    df: DataFrame, sort_exprs, npart: int | None, bucket_col: str, name: str
) -> DataFrame:
    """``df`` range-partitioned on ``sort_exprs`` into ``npart``
    buckets (default: the shuffle partitions), the bucket id in
    ``bucket_col``, behind a named pin.

    The pin is LOAD-BEARING: the bucketed frame feeds two consumers
    (the windowed side and the offsets aggregate, which rides a
    broadcast build and therefore plans as a separate subtree).
    Without it each consumer can re-execute the range exchange with
    its OWN sampled boundaries — bucket ids then disagree between the
    sides and offsets are added to the wrong rows (observed: per-group
    row counts flapping run to run in a_weighted_median before the
    pin existed). One materialization of the projected input, same
    storage class as a shuffle write."""
    if npart is None:
        npart = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    return checkpoint(
        df.repartitionByRange(npart, *sort_exprs).withColumn(
            bucket_col, F.spark_partition_id()
        ),
        name,
    )


def global_order_stats(
    df: DataFrame,
    order: Sequence[Column],
    *,
    group_cols: Sequence[str] = (),
    cum_cols: Sequence[str] = (),
    rank_col: str | None = "rn",
    npart: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Add a ``rank_col`` (1-based ``row_number`` over
    ``ORDER BY *order``) and, for each name in ``cum_cols``, a
    running-total column ``cum_<name>`` (rows unbounded-preceding to
    current), computed with the range-bucketed prefix scheme above —
    no stage ever holds more than ~n/P rows.

    ``group_cols`` (optional) makes every statistic PER GROUP —
    the skew-proof replacement for ``Window.partitionBy(flag)``
    over a LOW-CARDINALITY key, where "parallel across groups"
    still means one task sorts ``n/|groups|`` rows (a third of the
    fact table for a 3-value flag — the same serialization trap as
    the global window, wearing a partition key). Groups lead the
    range sort, so each group occupies a contiguous bucket range;
    the offset join adds a group-equality conjunct and the totals
    table stays ≤ P + |groups| rows.

    ``order`` are Column sort expressions with direction applied
    (``F.asc(...)`` / ``F.desc(...)``); together with the group
    they must be a TOTAL order (add a unique tiebreak) and non-null
    — otherwise ranks inside a tie group follow partition order and
    differ between engines. Output values are independent of
    ``npart`` and of where the sampled range boundaries fall:
    boundaries respect the full (group, order) tuple, so every tie
    group is contiguous across at most one partition edge and local
    ranks + offsets compose to the same numbers.

    ``total_col`` (optional) attaches the per-group TOTAL row count
    under that name, plus ``tot_<c>`` with the per-group total of
    every ``cum_cols`` entry — free-riding on the offsets table, so
    callers that need "rank vs group size" or "running share of
    group total" skip the separate COUNT/SUM aggregate and its
    broadcast join.
    """
    gcols = list(group_cols)
    b = range_buckets(
        df, [F.asc(g) for g in gcols] + list(order), npart, _B,
        "global_order_stats buckets",
    )
    w = W.partitionBy(_B, *gcols).orderBy(*order)
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    loc = b
    if rank_col is not None:
        loc = loc.withColumn(rank_col, F.row_number().over(w).cast("bigint"))
    for c in cum_cols:
        loc = loc.withColumn(f"cum_{c}", F.sum(c).over(wcum))

    aggs = [F.count(F.lit(1)).alias("__gos_n")] + [
        F.sum(c).alias(f"__gos_s_{c}") for c in cum_cols
    ]
    totals = b.groupBy(_B, *gcols).agg(*aggs)
    # The totals table holds ≤ npart × |groups| rows. Two tiers:
    # when it fits a bounded driver collect (grouped mode is
    # documented for LOW-cardinality keys, so it almost always
    # does), the running offsets are a trivial driver-side cumsum —
    # one job instead of the triangular-join spelling's chain of
    # broadcast builds (measured 28 jobs for a two-pass MAD plan,
    # most of them offset plumbing). High-cardinality groups fall
    # back to the distributed triangular join unchanged.
    #
    # Round-11 rejected probes, measured sf1 interleaved A/Bs
    # (medians of 5, rows identical both times): (1) annotating
    # rank/cums in ONE Arrow kernel over the checkpointed buckets
    # with driver-baked offsets — kills the window's hash
    # re-exchange and this join, but the Python boundary costs more
    # than both (a_abc_pareto 1.55→1.72 s, a_ks_drift 1.12→1.31,
    # w_ntile 0.79→0.87; best case a tie); (2) inlining the offsets
    # as literal CASE chains on (_B, group) — a ~160-branch CASE is
    # a linear scan PER ROW where the broadcast join is a hash
    # probe (a_abc_pareto 1.81→2.02 s, w_ntile 1.02→1.22,
    # w_percent_rank_cume 1.01→1.17). Aggregate-only consumers that
    # never need per-row ranks should use grouped_rank_value_sums
    # below instead of this operator.
    ttbl = fetch_at_most(totals, _DRIVER_TOTALS_MAX, "prefix_order_totals")
    if ttbl is not None:
        offsets = _driver_offsets(
            df.sparkSession, totals.schema, ttbl.to_pylist(), gcols,
            cum_cols, total_col,
        )
    else:
        offsets = _triangular_offsets(totals, gcols, cum_cols, total_col)
    # Keep offsets' group columns under their __gos_g_ aliases and
    # join null-safely — a using-join on the group names would drop
    # every NULL-keyed row (same trap as the triangular join the
    # distributed tier uses).
    jcond = loc[_B] == offsets[_B]
    for g in gcols:
        jcond = jcond & loc[g].eqNullSafe(offsets[f"__gos_g_{g}"])
    out = loc.join(F.broadcast(offsets), jcond).drop(offsets[_B])
    for g in gcols:
        out = out.drop(offsets[f"__gos_g_{g}"])
    if rank_col is not None:
        out = out.withColumn(
            rank_col, F.col("__gos_off_n") + F.col(rank_col)
        )
    for c in cum_cols:
        out = out.withColumn(
            f"cum_{c}", F.col(f"__gos_off_{c}") + F.col(f"cum_{c}")
        )
    drop = [_B, "__gos_off_n"] + [f"__gos_off_{c}" for c in cum_cols]
    return out.drop(*drop)


# Above this many (bucket, group) total rows the offsets fall back to
# the distributed triangular join. 64k rows on the driver is a few MB;
# with npart≈shuffle.partitions this admits ~2k groups at P=32 —
# far past "low-cardinality", the grouped mode's documented domain.
# It also caps grouped_rank_value_sums' partials (raising past it).
_DRIVER_TOTALS_MAX = 65536

#: per-chunk row bound inside the rank-moment kernel: with values
#: bounded by 2^33 (the 1e-4-quantized business-value contract), a
#: chunk's Σ rank·v fits int64 with >4 bits to spare
#: (2^13 rows · 2^13 max rank · 2^33 value = 2^59).
_RANK_CHUNK = 8192
_RANK_V_SAFE = 1 << 33


def grouped_rank_value_sums(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: Sequence[str] = (),
    npart: int | None = None,
) -> list[dict]:
    """Per-group exact (n, Σv, Σ rank·v) where rank is the 1-based
    position of the row in the ASCENDING sort of ``value_col`` inside
    its group — the moment a rank-formula statistic (Gini, Spearman
    numerators, trapezoid AUC) actually needs, WITHOUT materializing
    a rank per row.

    Σ rank·v is tie-order invariant (rows tied on v swap equal
    addends), so no tiebreak column is ever shuffled or sorted and
    the result is independent of where range boundaries fall: for
    bucket b with per-group local positions j = 1..m and prior-bucket
    row count off, Σ (off+j)·v = Σ j·v + off·Σ v — the bucket
    decomposition this operator evaluates.

    Shape (guide §2.3/§2.4, one data shuffle): range-partition by
    (group, value) — ties may split across a boundary, harmless per
    the invariance above — locally sort, and fold each partition into
    per-(bucket, group) integer partials inside one Arrow kernel
    (chunked so every numpy dot stays exact in int64; values past
    2^33 take a pure-Python exact path). The ≤ npart × |groups|
    partial rows come back through Arrow and compose on the driver —
    bounded metadata, never data-sized (same contract class as
    grouped_select's histograms, capped at ``_DRIVER_TOTALS_MAX`` rows
    with a ``ValueError`` past it). Compare global_order_stats, which
    this replaces for aggregate-only consumers: that operator pays a
    second (hash) exchange for its window, a localCheckpoint
    materialization, and a broadcast join-back the aggregate then
    throws away.

    Returns one dict per group: group key columns, ``n`` (row count),
    ``sx`` (Σv) and ``srx`` (Σ rank·v) as exact Python ints. Rows
    with NULL ``value_col`` are excluded; a NULL group key is a real
    group.
    """
    import numpy as np

    spark = df.sparkSession
    if npart is None:
        npart = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
    gcols = list(group_cols)
    base = df.where(F.col(value_col).isNotNull()).select(
        *gcols, F.col(value_col).cast("bigint").alias("__grs_v")
    )
    b = (
        base.repartitionByRange(
            npart, *[F.asc(g) for g in gcols], F.asc("__grs_v")
        )
        .sortWithinPartitions(*gcols, "__grs_v")
        .withColumn("__grs_b", F.spark_partition_id())
    )

    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    in_fields = {f.name: f for f in base.schema.fields}
    out_schema = StructType(
        [StructField("__grs_b", IntegerType(), False)]
        + [in_fields[g] for g in gcols]
        + [
            StructField("n", LongType(), False),
            # exact arbitrary-precision sums travel as strings: the
            # per-bucket Σ rank·v already needs >int64 headroom at
            # warehouse row counts, and string→int on ≤ npart×|groups|
            # driver rows is free.
            StructField("sx", StringType(), False),
            StructField("srx", StringType(), False),
        ]
    )

    def _fold(it):
        import pandas as pd

        # (bucket, group key) -> [n, sx, srx] as Python ints; batches
        # arrive partition-local and (group, v)-sorted.
        acc: dict[tuple, list] = {}
        for pdf in it:
            bid = int(pdf["__grs_b"].iloc[0])
            if gcols:
                grouped = pdf.groupby(gcols, sort=False, dropna=False)
            else:
                grouped = [((), pdf)]
            for key, g in grouped:
                if gcols and not isinstance(key, tuple):
                    key = (key,)
                norm = tuple(
                    None if (k is None or k != k) else k for k in key
                )
                v = g["__grs_v"].to_numpy()
                st = acc.setdefault((bid, norm), [0, 0, 0])
                prior = st[0]
                m = len(v)
                if (
                    m
                    and -_RANK_V_SAFE < int(v.min())
                    and int(v.max()) < _RANK_V_SAFE
                ):
                    for s in range(0, m, _RANK_CHUNK):
                        c = v[s:s + _RANK_CHUNK]
                        cs = int(c.sum(dtype=np.int64))
                        jv = int(
                            np.dot(
                                np.arange(1, len(c) + 1, dtype=np.int64),
                                c,
                            )
                        )
                        st[1] += cs
                        st[2] += jv + (prior + s) * cs
                else:
                    # out-of-contract magnitudes: exact pure-Python
                    # fold (never hit by quantized business values).
                    for i, x in enumerate(v.tolist()):
                        st[1] += x
                        st[2] += (prior + i + 1) * x
                st[0] = prior + m
        rows = [
            (bid, *key, n, str(sx), str(srx))
            for (bid, key), (n, sx, srx) in acc.items()
        ]
        cols = ["__grs_b", *gcols, "n", "sx", "srx"]
        yield pd.DataFrame(rows, columns=cols)

    name = "prefix_rank_value_partials"
    partials = fetch_at_most(
        arrow_stage(b, name, out_schema, _fold, fold=True),
        _DRIVER_TOTALS_MAX, name,
    )
    if partials is None:
        raise ValueError(
            f"grouped_rank_value_sums: more than _DRIVER_TOTALS_MAX="
            f"{_DRIVER_TOTALS_MAX} (bucket, group) partial rows"
        )
    by_key: dict[tuple, list] = {}
    for r in partials.to_pylist():
        key = tuple(r[g] for g in gcols)
        by_key.setdefault(key, []).append(
            (r["__grs_b"], r["n"], int(r["sx"]), int(r["srx"]))
        )
    out = []
    for key, buckets in by_key.items():
        buckets.sort()
        off, n_tot, sx_tot, srx_tot = 0, 0, 0, 0
        for _bid, n, sx, srx in buckets:
            srx_tot += srx + off * sx
            sx_tot += sx
            off += n
            n_tot += n
        rec = dict(zip(gcols, key))
        rec["n"], rec["sx"], rec["srx"] = n_tot, sx_tot, srx_tot
        out.append(rec)
    return out


def _null_last_key(row, gcols):
    """Sort key over group values + bucket id, NULL-safe: None sorts
    before any value (matching F.asc's nulls-first), bucket id last."""
    parts = []
    for g in gcols:
        v = row[g]
        parts.append((0, "") if v is None else (1, v))
    parts.append(row[_B])
    return tuple(parts)


def _driver_offsets(spark, totals_schema, trows, gcols, cum_cols,
                    total_col):
    """Offsets as a driver-side running sum over the collected
    per-(bucket, group) totals — bit-identical to the triangular
    join (integer counts; cum sums add in bucket order, a fixed
    order the distributed spelling does not even promise)."""
    from pyspark.sql.types import LongType, StructField, StructType

    by_type = {f.name: f.dataType for f in totals_schema.fields}
    fields = [StructField(_B, by_type[_B], False)]
    fields += [
        StructField(f"__gos_g_{g}", by_type[g], True) for g in gcols
    ]
    fields.append(StructField("__gos_off_n", LongType(), False))
    fields += [
        StructField(f"__gos_off_{c}", by_type[f"__gos_s_{c}"], True)
        for c in cum_cols
    ]
    if total_col is not None:
        fields.append(StructField(total_col, LongType(), False))
        fields += [
            StructField(f"tot_{c}", by_type[f"__gos_s_{c}"], True)
            for c in cum_cols
        ]
    import decimal

    from pyspark.sql.types import DecimalType, DoubleType, FloatType

    def _coerce(v, dt):
        # createDataFrame type verification wants exact Python types:
        # a plain int 0 offset must become Decimal/float for
        # DECIMAL/DOUBLE sum columns.
        if isinstance(dt, DecimalType) and not isinstance(
            v, decimal.Decimal
        ):
            return decimal.Decimal(v)
        if isinstance(dt, (DoubleType, FloatType)):
            return float(v)
        return v

    sum_types = {c: by_type[f"__gos_s_{c}"] for c in cum_cols}
    rows = sorted(trows, key=lambda r: _null_last_key(r, gcols))
    out, group_of = [], {}
    cur_key, run_n, run_s = object(), 0, {}
    for r in rows:
        key = tuple(r[g] for g in gcols)
        if key != cur_key:
            cur_key, run_n = key, 0
            run_s = {c: 0 for c in cum_cols}
        rec = [r[_B]] + [r[g] for g in gcols] + [run_n]
        rec += [_coerce(run_s[c], sum_types[c]) for c in cum_cols]
        out.append(rec)
        group_of[len(out) - 1] = key
        run_n += r["__gos_n"]
        for c in cum_cols:
            s = r[f"__gos_s_{c}"]
            if s is not None:
                run_s[c] += s
    if total_col is not None:
        gtot, gsum = {}, {}
        for r in rows:
            key = tuple(r[g] for g in gcols)
            gtot[key] = gtot.get(key, 0) + r["__gos_n"]
            sums = gsum.setdefault(key, {c: 0 for c in cum_cols})
            for c in cum_cols:
                s = r[f"__gos_s_{c}"]
                if s is not None:
                    sums[c] += s
        for i, rec in enumerate(out):
            key = group_of[i]
            rec.append(gtot[key])
            rec += [
                _coerce(gsum[key][c], sum_types[c]) for c in cum_cols
            ]
    return spark.createDataFrame(out, StructType(fields))


def _triangular_offsets(totals, gcols, cum_cols, total_col):
    """Distributed offsets: broadcast triangular join over bucket
    ids — the at-scale tier for high-cardinality groups. P² pairs;
    P is a config constant, never a function of data size."""
    t1 = totals.select(
        F.col(_B).alias("__gos_a"),
        *[F.col(g).alias(f"__gos_g_{g}") for g in gcols],
    ).distinct()
    t2 = totals.withColumnRenamed(_B, "__gos_b")
    cond = F.col("__gos_b") < F.col("__gos_a")
    for g in gcols:
        # eqNullSafe: Window.partitionBy (the spelling this
        # replaces) treats NULL as a normal partition; plain `=`
        # would silently drop NULL-keyed groups.
        cond = cond & F.col(g).eqNullSafe(F.col(f"__gos_g_{g}"))
    offsets = (
        t1.join(F.broadcast(t2), cond, "left")
        .groupBy("__gos_a", *[f"__gos_g_{g}" for g in gcols])
        .agg(
            F.coalesce(F.sum("__gos_n"), F.lit(0)).alias("__gos_off_n"),
            *[
                F.coalesce(F.sum(f"__gos_s_{c}"), F.lit(0)).alias(
                    f"__gos_off_{c}"
                )
                for c in cum_cols
            ],
        )
        .withColumnRenamed("__gos_a", _B)
    )
    if total_col is not None:
        gt = totals.groupBy(
            *[F.col(g).alias(f"__gos_t_{g}") for g in gcols]
        ).agg(
            F.sum("__gos_n").alias(total_col),
            *[
                F.sum(f"__gos_s_{c}").alias(f"tot_{c}")
                for c in cum_cols
            ],
        )
        if gcols:
            tc = F.lit(True)
            for g in gcols:
                tc = tc & F.col(f"__gos_g_{g}").eqNullSafe(
                    F.col(f"__gos_t_{g}")
                )
            offsets = offsets.join(F.broadcast(gt), tc).drop(
                *[f"__gos_t_{g}" for g in gcols]
            )
        else:
            offsets = offsets.crossJoin(F.broadcast(gt))
    return offsets
