"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Runs one workload (see ``WORKLOADS``) from the root of a checkout and
prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones. ``--smoke``
runs the same workload once at tiny sizes on sf0.001.

Inputs are generated: the tables at a fixed data seed (cached under
``.perfbench/data`` in the checkout), and from ``--seed`` the query
submission order, the CDC change batches and the lookup keys. Exits
with code 2, printing no result, when the engine is not in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

STARTED = time.time()  # process start, where setup_s begins
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Import the harness as the ``perfbench`` package from the checkout
# root, never its modules as top-level names.
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

from perfbench import datagen, host, report, tracing, workloads  # noqa: E402
from perfbench.check import AnswerKey, load_check_oracle  # noqa: E402

# Fixed-cost set on sf0.01: a plan heavy in eager and probe jobs (queue
# lifecycle), a source, a light join, a functions-package plan and an
# Arrow-stage text kernel.
FLOOR_QUERIES = [
    "d_queue_lifecycle", "s_cached_fetch", "j_asof_nearest",
    "f_binary_prefix", "txt_bpe_merge_step",
]

# ``settle``: rounds run before the measured ones (round 0 is the cold
# one); ``round_s``: a measured round's nominal time on the reference
# host, which turns --seconds into a fixed number of measured rounds.
WORKLOADS = {
    "floor_sf0.01": {"kind": "query", "sf": 0.01, "names": FLOOR_QUERIES,
                     "settle": 2, "round_s": 3.0},
    "cdc_ingest": {"kind": "cdc", "n_keys": 50_000, "batch_size": 5_000,
                   "lookups": 50, "steps_per_round": 3, "settle": 2, "round_s": 3.5},
}
SMOKE_SF = 0.001
SMOKE_CDC = {"n_keys": 2_000, "batch_size": 200, "lookups": 10, "steps_per_round": 2}
DATA_SEED = 42
SETUP_PROBES = 10
# A run that hangs is killed before the 180 s a run may take.
HARD_LIMIT_S = 170
# Past this many seconds from process start (a host far slower than the
# nominal round times), no measured round beyond the second starts: this
# bounds a run's length.
LAST_ROUND_START_S = 60


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def engine_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p)) for p in (
        "__spark_entry__.py", "metadata_wrangler_spark/session.py",
        "tools/check_oracle.py"))


def _abort_after_limit() -> None:
    print(f"perfbench: run exceeded {HARD_LIMIT_S} s, aborting", file=sys.stderr)
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
    finally:
        os._exit(3)


def set_up(tracer: tracing.Tracer | None):
    """Session up, plans registered, first trivial job done. Returns the
    session and the timed parts; the total runs from process start. Host
    speed probes run (untimed) just before and just after."""
    from metadata_wrangler_spark import plans
    from metadata_wrangler_spark.session import get_spark

    before = host.speed_probes(SETUP_PROBES)
    if tracer is not None:
        tracer.install()
    t1 = time.time()
    spark = get_spark("perfbench")
    t2 = time.time()
    plans.load_all_plans()
    if tracer is not None:
        tracer.rebind()
    t3 = time.time()
    spark.range(1).collect()
    t4 = time.time()
    after = host.speed_probes(SETUP_PROBES)
    return spark, {"total": t4 - STARTED - sum(before), "get_spark": t2 - t1,
                   "load_all": t3 - t2, "probes": before + after}


def run(args, spec: dict, work: str) -> tuple[dict, int, int, list[str]]:
    """Set up, run the workload, check the answers, stop the JVM and
    compute the metrics. ``work`` is the harness's directory in the
    checkout: ``data/`` (tables, kept), ``run/`` (this run's files),
    ``traces/`` (spans of traced runs)."""
    run_dir = os.path.join(work, "run")
    tracer = tracing.Tracer() if args.trace else None
    spark, setup = set_up(tracer)

    # Measured rounds: --seconds at the workload's nominal round time on
    # the reference host, so the work per run is fixed by --seconds. A
    # traced run needs two, so that every operation kind has a traced
    # and an untraced measured sample.
    settle = 1 if args.smoke else spec["settle"]
    measured = max(2 if args.trace else 1, round(args.seconds / spec["round_s"]))
    cutoff = STARTED + LAST_ROUND_START_S
    problems: list[str] = []
    co = load_check_oracle(ROOT)
    extra_attempted = 0
    try:
        if spec["kind"] == "query":
            import __spark_entry__ as entry

            sf = SMOKE_SF if args.smoke else spec["sf"]
            sf_dir = datagen.ensure_tables(os.path.join(work, "data"), sf, DATA_SEED)
            key = AnswerKey(co, sf_dir, entry.oracle_sql(), spec["names"])
            runner = workloads.QueryRunner(spark, entry.queries(), sf_dir, tracer)
            with host.RssSampler() as rss:
                result = workloads.run_query_workload(
                    spark, runner, spec["names"], seed=args.seed, settle=settle,
                    measured=measured, cutoff=cutoff, traced_run=bool(args.trace))
            problems += workloads.check_queries(runner, key)
        else:
            sizes = SMOKE_CDC if args.smoke else {k: spec[k] for k in SMOKE_CDC}
            cdc = workloads.CdcIngest(spark, os.path.join(run_dir, "cdc"), args.seed,
                                      tracer=tracer, **sizes)
            with host.RssSampler() as rss:
                result = cdc.run(settle, measured, cutoff, traced_run=bool(args.trace))
            problems += [o.error for o in result.ops if o.error]
            final = cdc.check_final(co)
            extra_attempted = 1
            if final is not None:
                problems.append(final)
    finally:
        host.stop_jvm(spark)

    attempted = len(result.ops) + extra_attempted
    failed = len(problems)
    if args.trace:
        jobs = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
        parts = {"session.get_spark_s": setup["get_spark"],
                 "plans.load_all_s": setup["load_all"],
                 "host.peak_rss_mb": rss.peak_bytes / 2**20,
                 "host.steal_frac": rss.steal_frac,
                 "host.probe_ms": report.probe_s(
                     [r.probes for r in result.rounds[result.settle:]]) * 1000}
        metrics, layer_problems = report.per_layer(spec["kind"], result, parts, tracer, jobs)
        problems += layer_problems
        units = report.declared("per_layer")
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tracer.dump(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = report.end_to_end(spec["kind"], setup, result)
        units = report.declared("end_to_end")
    out = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    lat = report.latencies(result, spec["kind"])
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}:"
          f" rounds {[round(r.busy_s, 2) for r in result.rounds]},"
          f" probe ms {[round(statistics.median(r.probes) * 1000, 2) for r in result.rounds]},"
          f" {len(lat)} op samples, set-up {setup['total']:.3f} s,"
          f" host CPU stolen {rss.steal_frac:.3f}", file=sys.stderr)
    for o in result.ops:
        print(f"  r{o.round} {o.kind:6s} {o.name:28s} {o.seconds:7.3f} s"
              f"{' traced' if o.traced else ''}", file=sys.stderr)
    return out, attempted, failed, problems


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print(f"perfbench: the engine is not in {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    watchdog = threading.Timer(HARD_LIMIT_S, _abort_after_limit)
    watchdog.daemon = True
    watchdog.start()
    # The JVM inherits fd 1 and may write to it; keep the real stdout
    # for the result and send everything else to stderr.
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    work = os.path.join(ROOT, ".perfbench")
    run_dir = host.fresh_dir(os.path.join(work, "run"))
    try:
        host.pin_environment(ROOT, run_dir,
                             os.path.join(run_dir, "eventlog") if args.trace else None)
        metrics, attempted, failed, problems = run(args, WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    watchdog.cancel()
    for p in problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"{name:32s} {m['value']:>16.6g} {m['unit']}", file=real_stdout)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), file=real_stdout)
    real_stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
