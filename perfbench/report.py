"""Turns a run's ops, rounds, spans and event log into the named
metrics the benchmark prints."""

from __future__ import annotations

import json
import math
import os
import statistics

from perfbench import host, tracing
from perfbench.workloads import Op, Result

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def declared(section: str) -> dict[str, str]:
    """Metric name -> unit for ``section`` (``end_to_end`` or
    ``per_layer``), as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}

# Layers each workload must show calls in when traced: a wrapper
# installed too late (after the plan modules bound the original
# function) would silently count zero.
EXPECTED_LAYERS = {
    "query": ("catalog", "operators", "functions", "sources"),
    "cdc": ("streaming", "merge"),
}


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..1) of a non-empty sample."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail_quantile(n: int) -> float:
    """The highest of p50/p75/p90/p99 with at least ten samples beyond it."""
    best = 0.5
    for q in (0.75, 0.9, 0.99):
        if n * (1 - q) >= 10:
            best = q
    return best


def latencies(result: Result, kind: str) -> list[float]:
    """Latency of the workload's unit of work, from the successful
    untraced operations of the measured rounds: a query, or a CDC step
    (its commit plus its two serving reads)."""
    ops = [o for o in result.ops if not o.traced and o.error is None and result.measured(o)]
    if kind == "query":
        return [o.seconds for o in ops]
    steps: dict[str, float] = {}
    for o in ops:
        if o.kind in ("commit", "read"):
            step = o.op_id.rsplit("-", 1)[0]
            steps[step] = steps.get(step, 0.0) + o.seconds
    return list(steps.values())


def probe_s(probe_lists: list[list[float]]) -> float:
    """The host's speed over a stretch of a run: the mean, over its
    rounds (or the set-up), of each one's median probe time."""
    return statistics.fmean(statistics.median(p) for p in probe_lists)


def end_to_end(kind: str, setup: dict, result: Result) -> dict:
    """The end-to-end figures, scaled to the reference host's speed
    (``host.at_reference_speed``): the set-up by the host's speed up to
    the first measured round, the rounds and operations by its speed
    over the measured rounds."""
    settling, measured = result.rounds[:result.settle], result.rounds[result.settle:]
    before = probe_s([setup["probes"]] + [r.probes for r in settling])
    during = probe_s([r.probes for r in measured])
    lat = latencies(result, kind)
    return {
        "setup_s": host.at_reference_speed(setup["total"], before),
        "wall_s": host.at_reference_speed(statistics.fmean(r.busy_s for r in measured), during),
        "op_p50_s": host.at_reference_speed(statistics.median(lat), during) if lat else 0.0,
    }


def assign_jobs(jobs: list[dict], ops: list[Op]) -> dict[str, list[dict]]:
    """Jobs per operation id: by the job group the harness set around
    the operation, else (a job submitted from a thread the harness did
    not start, such as a streaming micro-batch) by the one operation
    whose interval holds its submission time."""
    ids = {o.op_id for o in ops}
    out: dict[str, list[dict]] = {}
    for job in jobs:
        if job["group"] in ids:
            out.setdefault(job["group"], []).append(job)
            continue
        holders = [o.op_id for o in ops if o.start <= job["submit"] <= o.end]
        if len(holders) == 1:
            out.setdefault(holders[0], []).append(job)
    return out


def op_metrics(op: Op, spans: list, jobs: list[dict]) -> dict[str, float]:
    """The per-layer contributions of one traced operation."""
    m: dict[str, float] = {}

    def add(k, v):
        m[k] = m.get(k, 0.0) + v

    layers = tracing.layer_totals(spans)
    for layer in ("catalog", "operators", "sources", "functions"):
        t = layers.get(layer, {})
        add(f"{layer}.calls", t.get("calls", 0))
        if layer != "functions":
            add(f"{layer}.s", t.get("s", 0.0))
    m["catalog.load_calls"] = m.pop("catalog.calls")
    m["catalog.load_s"] = m.pop("catalog.s")
    outer_ops = layers.get("operators", {}).get("outer", [])
    add("operators.jobs", sum(1 for j in jobs
                              if any(a <= j["submit"] <= b for a, b in outer_ops)))
    m["spark.peak_exec_mem_bytes"] = 0
    for job in jobs:
        add("spark.jobs", 1)
        add("spark.stages", len(job["stage_totals"]))
        for st in job["stage_totals"]:
            add("spark.tasks", st["tasks"])
            add("spark.sched_delay_s", st["sched_delay_s"])
            add("spark.task_run_s", st["run_s"])
            add("spark.task_cpu_s", st["cpu_s"])
            add("spark.gc_s", st["gc_s"])
            add("spark.shuffle_write_bytes", st["shuffle_write_bytes"])
            add("spark.shuffle_read_bytes", st["shuffle_read_bytes"])
            add("spark.spill_bytes", st["spill_bytes"])
            m["spark.peak_exec_mem_bytes"] = max(m["spark.peak_exec_mem_bytes"],
                                                 st["peak_exec_mem_bytes"])
    for s in spans:
        dur = s.end - s.start
        if s.name == "cdc_apply.run_cdc_stream":
            add("streaming.run_s", dur)
        elif s.name == "VersionedParquetTable.merge":
            add("streaming.batches", 1)
        elif s.name == "VersionedParquetTable.try_commit":
            add("merge.commit_s", dur)
            add("merge.commits" if s.result else "merge.conflicts", 1)
        elif s.name == "VersionedParquetTable.read":
            add("merge.read_s", dur)
    add("merge.bytes_written", op.info.get("table_bytes", 0))
    if op.kind == "query":
        build_jobs = sum(1 for j in jobs if j["submit"] <= op.built)
        add("plans.build_jobs", build_jobs)
        add("plans.exec_jobs", len(jobs) - build_jobs)
        add("plans.exec_s", op.end - op.built)
        # plan-building self time: the callable's span minus the layer
        # calls it made directly
        direct = sum(s.end - s.start for s in spans if s.parent is None and s.end <= op.built)
        add("plans.build_s", (op.built - op.start) - direct)
        for k, info_key in (("catalyst.analysis_ms", "analysis_ms"),
                            ("catalyst.optimization_ms", "optimization_ms"),
                            ("catalyst.planning_ms", "planning_ms"),
                            ("python.stages", "python_stages"),
                            ("python.boot_ms", "pythonBootTime"),
                            ("python.total_ms", "pythonTotalTime"),
                            ("python.data_sent_bytes", "pythonDataSent"),
                            ("python.data_received_bytes", "pythonDataReceived"),
                            ("result.rows", "rows"), ("result.bytes", "bytes")):
            add(k, op.info.get(info_key, 0))
    return m


def per_layer(kind: str, result: Result, setup_parts: dict, tracer: tracing.Tracer,
              jobs: list[dict]) -> tuple[dict, list[str]]:
    """Per-layer metrics as totals per measured round: for each kind of
    operation (a query name; a CDC commit, count, lookup or vacuum), the
    mean over its traced samples in the measured rounds times its count
    per round, summed. Returns the metrics and the self-check problems."""
    m = {name: 0.0 for name in declared("per_layer")}
    m.update(setup_parts)
    m["round.cold_s"] = result.rounds[0].busy_s
    ops = [o for o in result.ops if o.error is None and result.measured(o)]
    spans_by_op: dict[str, list] = {}
    for s in tracer.spans:
        spans_by_op.setdefault(s.op, []).append(s)
    jobs_by_op = assign_jobs(jobs, result.ops)
    n_rounds = len(result.rounds) - result.settle
    per_round: dict[tuple, float] = {}
    samples: dict[tuple, list[dict]] = {}
    for o in ops:
        g = (o.kind, o.name)
        per_round[g] = per_round.get(g, 0.0) + 1.0 / n_rounds
        if o.traced:
            samples.setdefault(g, []).append(
                op_metrics(o, spans_by_op.get(o.op_id, []), jobs_by_op.get(o.op_id, [])))
    for g, rows in samples.items():
        for k in rows[0]:
            if k == "spark.peak_exec_mem_bytes":
                m[k] = max(m[k], max(r[k] for r in rows))
            else:
                m[k] += per_round[g] * statistics.fmean(r[k] for r in rows)
    total_jobs = m["plans.build_jobs"] + m["plans.exec_jobs"]
    m["plans.eager_job_frac"] = m["plans.build_jobs"] / total_jobs if total_jobs else 0.0

    untraced = [o for o in ops if not o.traced]
    commits = [o.seconds for o in untraced if o.kind == "commit"]
    reads = [o.seconds for o in untraced if o.kind == "read"]
    if commits:
        m["cdc.commit_p50_s"] = statistics.median(commits)
    if reads:
        m["cdc.read_p50_s"] = statistics.median(reads)
    if result.extra.get("change_bytes"):
        m["cdc.write_amp"] = result.extra["table_bytes_written"] / result.extra["change_bytes"]
    lat = latencies(result, kind)
    m["op.samples"] = len(lat)
    if lat:
        m["op.tail_s"] = percentile(lat, tail_quantile(len(lat)))
    m["trace.overhead_frac"] = overhead(result)

    called = {s.layer for s in tracer.spans}
    problems = [f"traced {kind} run recorded no call into the {layer} layer"
                for layer in EXPECTED_LAYERS[kind] if layer not in called]
    return m, problems


def overhead(result: Result) -> float:
    """Traced / untraced latency - 1: the median, over kinds of
    operation, of the ratio of their median traced and untraced latency."""
    t: dict[tuple, list[float]] = {}
    u: dict[tuple, list[float]] = {}
    for o in result.ops:
        if o.error is None and o.kind != "vacuum" and result.measured(o):
            (t if o.traced else u).setdefault((o.kind, o.name), []).append(o.seconds)
    ratios = [statistics.median(t[g]) / statistics.median(u[g])
              for g in t if g in u and statistics.median(u[g]) > 0]
    return statistics.median(ratios) - 1.0 if ratios else 0.0
