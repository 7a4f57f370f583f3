"""Distributed exact selection (value at a count/weight rank) via
iterative histogram refinement — the k-th order statistic WITHOUT
ranking, sorting, or shuffling any raw row.

`operators/prefix.py` (range-bucketed prefix stats) is the right
tool when every row needs its rank annotated. But the slow-tail
audit showed three plans (MAD, weighted median, IQR fences) that
only need a handful of per-group VALUES AT GIVEN RANKS — and for
selection the textbook distributed algorithm is strictly cheaper
than any ranking pass:

  1. round 0 — one COARSE map-side histogram (2^44-wide buckets
     over the whole int64 domain, arithmetic shift so negatives
     stay monotone) carrying per-bucket count / weight / min / max:
     exact group stats (fold over buckets) AND a first narrowing in
     a single aggregate;
  2. each later round inlines every unresolved window as LITERAL
     codegen expressions — a flat CASE chain assigns each row its
     window label and bucket `(value - lo) >> shift` (identical
     windows merge; same-group windows are disjoint buckets of the
     prior round, so a row matches at most one) — no struct/explode,
     no broadcast join, no driver-built DataFrame (a 5-row
     createDataFrame+broadcast measured ~1.5 s fixed cost per round
     on local[32]); the groupBy partial-aggregates executor-side to
     ≤ 2^BITS counters per window before anything moves;
  3. the driver's cumulative walk narrows each target's window by
     2^BITS per round — with two early exits: a window ≤ 2^FINAL_BITS
     values wide, or one whose remaining ROW count fits ROWS_DIRECT,
     finishes at shift 0 (bucket == exact value) in that round. At
     real scale the early rounds always exceed both and take the
     width-halving path; ⌈bits(range)/BITS⌉ rounds bound the worst
     case (≤ 4 for any 64-bit domain, 2 for the 1e-4-quantized
     business values in this repo).

Weights are STORED as bigint (cheap cache, long arithmetic in
codegen); aggregation buffers go DECIMAL(38,0) only when the stats
pass proves a group total can overflow int64. Histograms come back
through Arrow (`toPandas`), not row-pickling collect — the shift-0
endgame can reach ~10^5 rows.

At 100 TB the contrast with a ranking pass is stark: the prefix
operator range-shuffles and per-bucket-sorts every row (linear
shuffle + P parallel sorts); selection scans the data 2-3 times and
shuffles a few thousand counters. The scans are parquet
column-pruned reads Spark parallelizes for free.

The driver loop is a bounded matrix, never data-sized: each collect
is ≤ 2^BITS × |unresolved (group, target) pairs| integer rows, and
the iteration count is a function of the VALUE DOMAIN's bit width,
not of the row count (same contract class as the convergence
scalars in operators/closure.py).

Semantics: ``value_at(target)`` = min v such that
Σ weight over rows with value ≤ v  ≥  target (weights 1 when no
weight column). With target = floor((n-1)·p)+1 and unit weights
this is exactly SQL's ``PERCENTILE_DISC`` / "ROW_NUMBER() = k"
value with any deterministic tie-break (ties share a value, so the
value at rank k is tie-break-invariant). With weights, target =
ceil(total/2) is the classic weighted median ("first value whose
running weight reaches half the total").

NULL handling: rows with NULL in ``value_col`` — or, when a
``weight_col`` is given, NULL in the weight — are excluded (the
SQL-aggregate rule: both engines' oracles order non-null quantized
values, and SUM skips NULL weights); NULL group keys form a normal
group, matching Window.partitionBy.

Reference: generalizes `/root/reference/bin/util/calculate_percentile`
(:11-36, a single-node psql percentile_disc) the same way
operators/prefix.py does, on the selection (not ranking) axis.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: bucket-index width per refinement round: 2^16 buckets keeps every
#: histogram collect at ≤ 65k rows per unresolved (group, target)
#: pair while resolving any 64-bit value domain in ≤ 4 rounds
#: (quantized business values: 2 rounds).
BITS = 16

#: when every unresolved window is at most this many values wide,
#: finish with shift = 0 in ONE round instead of narrowing once more
#: — the collect is bounded by min(window width, rows in window),
#: a few hundred k integer rows at the absolute worst.
FINAL_BITS = 17


class GroupStats:
    """Per-group scan statistics handed to the targets callback."""

    __slots__ = ("key", "n", "total_weight", "vmin", "vmax")

    def __init__(self, key: tuple, n: int, total_weight: int,
                 vmin: int, vmax: int) -> None:
        self.key = key
        self.n = n
        self.total_weight = total_weight
        self.vmin = vmin
        self.vmax = vmax


def grouped_select(
    df: DataFrame,
    value_col: str,
    targets: Callable[[GroupStats], dict[str, int]],
    *,
    group_cols: Sequence[str] = (),
    weight_col: str | None = None,
    cache_input: bool = False,
    known_stats: Sequence[GroupStats] | None = None,
    domain_bits: int | None = None,
) -> list[dict]:
    """For every group in ``df``, return the exact values at the
    cumulative-weight targets produced by ``targets(stats)``.

    ``df`` must expose an integer (castable-to-bigint) ``value_col``;
    ``weight_col`` (optional) must be a non-negative integer weight.
    ``targets`` receives the group's :class:`GroupStats` and returns
    ``{name: target}`` with ``1 ≤ target ≤ total_weight``.

    Returns one dict per group: the group key columns, ``n``,
    ``total_weight``, and one entry per target name holding the
    selected value (Python int). Groups with no non-null values are
    absent (they have no order statistics).

    ``cache_input`` (default False) persists the projected
    (group, value, weight) frame up front. The default re-reads the
    column-pruned source per round instead — the coarse pass + one
    endgame round is the common shape, and a cache that is built
    once and read once costs more than it saves (measured: the
    persist build dominated the whole call at sf0.1). Pass True
    when the input is an expensive derived frame scanned by ≥3
    rounds (wide unquantized domains).
    ``known_stats`` skips the bounds job when the caller already
    knows per-group (n, total_weight, min, max) — e.g. the MAD
    second pass, whose deviation bounds derive from the first.
    ``domain_bits`` is a caller CONTRACT that every group's value
    span satisfies ``vmax - vmin < 2**domain_bits`` — quantized
    business values and timestamp differences are bounded by
    construction (a second-granularity gap between two in-range
    timestamps is < 2^31; a 1e-4-quantized metric < 2^31 while the
    raw value < 2.1e5). Round 0 then buckets at
    ``2^(domain_bits-16)`` instead of the domain-agnostic 2^44, so
    for any hint ≤ 33 bits the crossing bucket is already ≤
    2^17 wide and ONE refinement round finishes — two data scans
    total instead of three. The histogram collect stays bounded at
    2^16 buckets per group BY THE CONTRACT; a violated contract
    raises after the stats pass (loud, not silently quadratic).
    """
    gcols = list(group_cols)
    v = F.col(value_col).cast("bigint")
    # weights are STORED as bigint (cheap cache, codegen arithmetic);
    # only aggregation buffers go through DECIMAL(38,0) — and only
    # when the per-group total could overflow int64 (the stats pass
    # always does, since it is what establishes the bound).
    w = (
        F.col(weight_col).cast("bigint")
        if weight_col is not None
        else F.lit(1).cast("bigint")
    )
    keep = F.col(value_col).isNotNull()
    if weight_col is not None:
        # SQL-aggregate rule, extended to selection: a NULL weight
        # contributes nothing to any cumulative total, and a row
        # with no weight has no place on the weight axis — exclude
        # it (SUM would skip it anyway; keeping the row would still
        # poison the per-bucket row counts and the driver-side
        # total-weight arithmetic with NULL/NaN).
        keep = keep & F.col(weight_col).isNotNull()
    base = df.where(keep).select(
        *gcols, v.alias("__sel_v"), w.alias("__sel_w")
    )
    cached = False
    if cache_input:
        base = base.persist()
        cached = True

    # The coarse round caps every window at 2^44 wide, so the later
    # codegen arithmetic (`__sel_v - lit(lo)`, the `(hi - lo)` shift
    # math) stays far inside bigint. A caller-provided known_stats
    # window gets no such cap: a domain spanning >= 2^63 (vmin near
    # -2^63, vmax positive) would overflow the JVM-side subtraction.
    # Fall back to the coarse round for those — it recomputes the
    # stats the caller offered, trading one bounded aggregate for
    # overflow safety.
    if known_stats is not None and any(
        st.vmax - st.vmin >= (1 << 63) for st in known_stats
    ):
        known_stats = None

    coarse_shift = (
        _COARSE_SHIFT
        if domain_bits is None
        else max(0, min(domain_bits, 63) - BITS)
    )
    try:
        if known_stats is None:
            # Round 0: a COARSE histogram (2^44-wide buckets over the
            # whole int64 domain — arithmetic shift keeps negatives
            # monotone — or 2^(domain_bits-16) under a caller domain
            # contract) carrying per-bucket count/weight/min/max.
            # One map-side aggregate yields the exact group stats
            # (n, total weight, min, max = fold over buckets) AND,
            # when the domain is spread out, a first narrowing for
            # free; concentrated domains land in one bucket and cost
            # exactly what a plain stats pass would. Also
            # materializes the cache.
            # Arrow materialization (DataFrame.toArrow + to_pylist):
            # the coarse histogram reaches ~10^5 rows for a 31-bit
            # domain (2^15 buckets x |groups|), and the row-pickling
            # collect() was the slow path there (r10 measurement:
            # ~0.25 s of the a_weighted_median wall at sf0.1; the
            # Arrow path moves the same rows in ~50 ms). to_pylist
            # keeps group keys exact — int64 stays int, NULL stays
            # None — where pandas would coerce a nullable int key to
            # float NaN.
            #
            # Weight sums aggregate as BIGINT via try_sum, not
            # decimal(38,0): the decimal buffer measured 0.73 s vs
            # 0.54 s for the same 95k-bucket aggregate (r10 A/B,
            # sf0.1). try_sum returns NULL instead of raising under
            # ANSI (Spark 4 default) when a bucket's weight total
            # overflows int64 — and weights are non-null here by the
            # `keep` filter, so NULL ⟺ overflow: any NULL bucket sum
            # triggers one loud decimal re-aggregate (same fallback
            # philosophy as the known_stats span check above).
            def _coarse(sum_expr):
                return (
                    base.groupBy(
                        *gcols,
                        F.shiftright(F.col("__sel_v"), coarse_shift)
                        .alias("__sel_cb"),
                    )
                    .agg(
                        F.count(F.lit(1)).alias("br"),
                        sum_expr.alias("bw"),
                        F.min("__sel_v").alias("lo"),
                        F.max("__sel_v").alias("hi"),
                    )
                    .toArrow()
                    .to_pylist()
                )

            coarse = _coarse(F.try_sum("__sel_w"))
            if any(r["bw"] is None for r in coarse):
                coarse = _coarse(
                    F.sum(F.col("__sel_w").cast("decimal(38,0)"))
                )
            by_key: dict[tuple, list] = {}
            for r in coarse:
                by_key.setdefault(
                    tuple(r[g] for g in gcols), []
                ).append(
                    (int(r["__sel_cb"]), int(r["bw"]),
                     int(r["br"]), int(r["lo"]), int(r["hi"]))
                )
            stats, coarse_hists = [], {}
            for key, buckets in by_key.items():
                buckets.sort()
                stats.append(
                    GroupStats(
                        key,
                        sum(b[2] for b in buckets),
                        sum(b[1] for b in buckets),
                        min(b[3] for b in buckets),
                        max(b[4] for b in buckets),
                    )
                )
                coarse_hists[key] = buckets
            if domain_bits is not None:
                for st in stats:
                    if st.vmax - st.vmin >= (1 << domain_bits):
                        raise ValueError(
                            f"domain_bits={domain_bits} contract "
                            f"violated for group {st.key}: span "
                            f"[{st.vmin}, {st.vmax}]"
                        )
            return _refine(base, gcols, targets, stats, coarse_hists)
        return _refine(base, gcols, targets, list(known_stats))
    finally:
        if cached:
            base.unpersist()


#: windows whose remaining ROW count fits this budget finish in one
#: shift-0 round regardless of width: the exact value histogram has
#: at most this many entries (distinct values ≤ rows). Purely
#: adaptive — at real scale the early rounds always exceed it and
#: take the width-halving path; only the endgame (or a toy SF)
#: lands here.
ROWS_DIRECT = 65_536

#: round-0 coarse bucket width exponent: 2^44-wide buckets bound the
#: bucket count at 2^20 for the full int64 domain while real
#: (quantized-business-value) domains land in O(1) buckets.
_COARSE_SHIFT = 44

#: pending windows are inlined as literal codegen expressions (no
#: broadcast join, no driver-built DataFrame — measured ~1.5 s fixed
#: cost per round for the join spelling on local[32]); chunk the
#: expression to keep codegen methods under the JIT limit when a
#: caller has thousands of (group, target) pairs.
_EXPR_CHUNK = 200


def _grp_match(gcols, key):
    cond = F.lit(True)
    for g, val in zip(gcols, key):
        c = F.col(g).isNull() if val is None else (F.col(g) == F.lit(val))
        cond = cond & c
    return cond


def _refine(base, gcols, targets, stats, coarse_hists=None) -> list[dict]:
    results: list[dict] = []
    # pending: (group_key_tuple, name) -> [lo, hi, target, rows_bound]
    pending: dict[tuple, list] = {}
    resolved: dict[tuple, int] = {}
    key_stats: dict[tuple, GroupStats] = {}
    for st in stats:
        key = st.key
        key_stats[key] = st
        for name, tgt in targets(st).items():
            if not 1 <= tgt <= st.total_weight:
                raise ValueError(
                    f"target {name}={tgt} outside [1, {st.total_weight}]"
                )
            pk = (key, name)
            if coarse_hists is None:
                pending[pk] = [st.vmin, st.vmax, int(tgt), st.n]
                continue
            # Walk the round-0 coarse histogram: narrow to the
            # crossing bucket's EXACT [min, max] (often a point).
            run = 0
            for _cb, bw, br, blo, bhi in coarse_hists[key]:
                if run + bw >= tgt:
                    if blo == bhi:
                        resolved[pk] = blo
                    else:
                        pending[pk] = [blo, bhi, int(tgt) - run, br]
                    break
                run += bw
            else:  # pragma: no cover - target validated ≤ total
                raise AssertionError(f"target not reached for {pk}")
    while pending:
        # Degenerate windows resolve without a scan.
        for pk in [pk for pk, p in pending.items() if p[0] == p[1]]:
            resolved[pk] = pending.pop(pk)[0]
        if not pending:
            break
        # One histogram round over every unresolved window, each with
        # its OWN shift: shift 0 (exact values, finishes the window)
        # when the window is narrow OR its remaining rows fit the
        # driver histogram budget; else halve the width by BITS.
        # Identical (group, lo, hi) windows — e.g. q1 and q3 in
        # round 1 — merge into ONE labelled window; after that,
        # same-group windows are disjoint (they descend from
        # disjoint buckets of the previous round), so every row
        # matches at most one window and the label is a flat CASE
        # chain — plain codegen, no struct/explode/join anywhere.
        windows: dict[tuple, int] = {}  # (key, lo, hi) -> label
        wshift: list[int] = []
        wlo: list[int] = []
        label_of: dict[tuple, int] = {}
        for pk, (lo, hi, _t, rows) in pending.items():
            wk = (pk[0], lo, hi)
            if wk not in windows:
                wbits = (hi - lo).bit_length()
                sh = (
                    0
                    if wbits <= FINAL_BITS or rows <= ROWS_DIRECT
                    else wbits - BITS
                )
                windows[wk] = len(wshift)
                wshift.append(sh)
                wlo.append(lo)
            label_of[pk] = windows[wk]
        hist_by_label: dict[int, list] = {
            i: [] for i in range(len(wshift))
        }
        # DECIMAL aggregation buffers only when int64 could overflow.
        need_decimal = any(
            st.total_weight >= (1 << 62) for st in key_stats.values()
        )
        worder = list(windows.items())
        for cs in range(0, len(worder), _EXPR_CHUNK):
            chunk = worder[cs:cs + _EXPR_CHUNK]
            label_expr = F.lit(None).cast("int")
            bucket_expr = F.lit(None).cast("bigint")
            for (key, lo, hi), lab in reversed(chunk):
                in_win = (
                    _grp_match(gcols, key)
                    & (F.col("__sel_v") >= F.lit(lo))
                    & (F.col("__sel_v") <= F.lit(hi))
                )
                label_expr = F.when(in_win, F.lit(lab)).otherwise(
                    label_expr
                )
                bucket_expr = F.when(
                    in_win,
                    F.shiftright(
                        F.col("__sel_v") - F.lit(lo), wshift[lab]
                    ),
                ).otherwise(bucket_expr)
            wsum = (
                F.col("__sel_w").cast("decimal(38,0)")
                if need_decimal
                else F.col("__sel_w")
            )
            # Arrow materialization: histograms can reach ~10^5 rows
            # in a shift-0 endgame round; row-pickling collect() is
            # the slow path there.
            hist = (
                base.select(
                    label_expr.alias("__sel_l"),
                    bucket_expr.alias("__sel_b"),
                    wsum.alias("__sel_ws"),
                )
                .where(F.col("__sel_l").isNotNull())
                .groupBy("__sel_l", "__sel_b")
                .agg(
                    F.sum("__sel_ws").alias("bw"),
                    F.count(F.lit(1)).alias("br"),
                )
                .toPandas()
            )
            for lab, b, bw, br in zip(
                hist["__sel_l"], hist["__sel_b"], hist["bw"], hist["br"]
            ):
                hist_by_label[int(lab)].append(
                    (int(b), int(bw), int(br))
                )
        for lab in hist_by_label:
            hist_by_label[lab].sort()
        next_pending: dict[tuple, list] = {}
        for pk, (lo, hi, tgt, _rows) in pending.items():
            lab = label_of[pk]
            sh = wshift[lab]
            run = 0
            for b, bw, br in hist_by_label[lab]:
                if run + bw >= tgt:
                    if sh == 0:
                        resolved[pk] = lo + b
                    else:
                        nlo = lo + (b << sh)
                        nhi = min(hi, lo + ((b + 1) << sh) - 1)
                        next_pending[pk] = [nlo, nhi, tgt - run, br]
                    break
                run += bw
            else:  # pragma: no cover - target validated ≤ total
                raise AssertionError(f"target not reached for {pk}")
        pending = next_pending

    for key, st in key_stats.items():
        rec = dict(zip(gcols, key))
        rec["n"] = st.n
        rec["total_weight"] = st.total_weight
        rec["vmin"] = st.vmin
        rec["vmax"] = st.vmax
        for (k, name), val in resolved.items():
            if k == key:
                rec[name] = val
        results.append(rec)
    return results
