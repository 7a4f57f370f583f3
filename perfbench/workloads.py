"""The benchmark's workloads.

Each workload runs closed-loop rounds, one whole unit of work each, and
records one ``Op`` per timed operation: first the settling rounds (round
0 is the cold one: the JVM is still loading classes and compiling; later
ones let the JIT settle), then a fixed number of measured rounds, so the
work per run does not depend on the host's speed.

* queries (``floor_sf0.01``) - a query set, one client, in a
  seed-shuffled order each round, session caches released (untimed)
  before each query.
* ``cdc`` - one client: per step a generated change batch is drained
  by ``cdc_apply.run_cdc_stream`` into a ``VersionedParquetTable``
  (the commit), then the serving view is read twice (a count, then a
  lookup of seed-chosen keys); ``vacuum`` ends every round.

Before each operation, outside its timed span, the harness times the
host speed probe (``host.speed_probe``) ``PROBES_PER_OP`` times; each
round keeps its probe times, which scale the end-to-end figures.

Answers are checked after the last round, outside every timed span.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from perfbench import datagen, host, tracing
from perfbench.check import pandas_rows


@dataclass
class Op:
    kind: str          # "query", "commit", "read" or "vacuum"
    name: str
    op_id: str
    round: int
    traced: bool
    start: float
    end: float = 0.0
    built: float = 0.0  # queries: when the callable returned (plan built)
    error: str | None = None
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Round:
    index: int
    busy_s: float  # wall time, harness-side input generation excluded
    probes: list[float]  # host speed probes (``host.speed_probe``) taken in the round


@dataclass
class Result:
    ops: list[Op]
    rounds: list[Round]
    settle: int  # the first ``settle`` rounds are not measured
    extra: dict = field(default_factory=dict)

    def measured(self, op: Op) -> bool:
        return op.round >= self.settle


def _traced(traced_run: bool, i: int, r: int) -> bool:
    """Whether the i-th operation of round r is traced. A traced run
    traces every other operation, swapping halves each round: after two
    rounds each operation has a traced and an untraced sample, so the run
    prices its own overhead, and warm-up biases half the pairs each way."""
    return traced_run and (i + r) % 2 == 1


def _keep_going(r: int, settle: int, measured: int, cutoff: float) -> bool:
    """Round r runs if it is within the ``settle`` rounds plus the
    ``measured`` ones; past ``cutoff`` (a run far behind its nominal
    pace) only the settling rounds and two measured ones still run."""
    return r < settle + measured and (r < settle + 2 or time.time() < cutoff)


# Host speed probes run (untimed) before each operation.
PROBES_PER_OP = 5


# -- query workloads --------------------------------------------------------


class QueryRunner:
    """Runs named queries, timing callable + ``toPandas``.

    Results are kept for checking after the last round; for traced ops
    the Catalyst and Arrow-stage metrics are read right after the op,
    outside its timed span."""

    def __init__(self, spark, queries, sf_dir: str, tracer: tracing.Tracer | None):
        self.spark = spark
        self.queries = queries
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.results: list[tuple[Op, object, list]] = []

    def run(self, name: str, r: int, traced: bool) -> Op:
        op_id = f"r{r}-{name}"
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(op_id, name)
            self.tracer.begin_op(op_id, traced)
        op = Op("query", name, op_id, r, traced, time.time())
        pdf = dtypes = None
        try:
            df = self.queries[name](self.spark, self.sf_dir)
            op.built = time.time()
            pdf = df.toPandas()
            op.end = time.time()
            dtypes = df.dtypes
            if traced:
                op.info.update(tracing.plan_metrics(df))
        except Exception as e:  # a failed query is counted, the run goes on
            op.end = op.end or time.time()
            op.error = f"{name}: {type(e).__name__}: {e}"
        finally:
            if self.tracer is not None:
                self.tracer.end_op()
        self.results.append((op, pdf, dtypes))
        return op


def run_query_workload(spark, runner: QueryRunner, names: list[str], *, seed: int,
                       settle: int, measured: int, cutoff: float,
                       traced_run: bool) -> Result:
    from metadata_wrangler_spark import plans

    rng = random.Random(seed)
    index = {n: i for i, n in enumerate(sorted(names))}
    ops: list[Op] = []
    rounds: list[Round] = []
    r = 0
    while _keep_going(r, settle, measured, cutoff):
        order = list(names)
        rng.shuffle(order)
        untimed = 0.0
        probes: list[float] = []
        t0 = time.time()
        for name in order:
            u0 = time.time()
            plans.release_session_caches(spark)
            probes += host.speed_probes(PROBES_PER_OP)
            untimed += time.time() - u0
            ops.append(runner.run(name, r, _traced(traced_run, index[name], r)))
        rounds.append(Round(r, time.time() - t0 - untimed, probes))
        r += 1
    return Result(ops, rounds, settle)


def check_queries(runner: QueryRunner, key) -> list[str]:
    """Check every kept result against the answer key; marks failed ops."""
    problems = []
    for op, pdf, dtypes in runner.results:
        if op.error is None:
            op.error = key.check(op.name, pdf, dtypes)
        if op.error is not None:
            problems.append(op.error)
        if op.traced and pdf is not None:
            op.info["rows"] = len(pdf)
            op.info["bytes"] = int(pdf.memory_usage(deep=True).sum())
    runner.results.clear()
    return problems


# -- CDC ingest workload ------------------------------------------------------


STATE_DDL = ("key BIGINT, n_changes BIGINT, last_version BIGINT,"
             " last_op STRING, last_qv BIGINT")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


class CdcIngest:
    """State for the CDC workload: the change feed, the versioned
    table, and the byte accounting for write amplification."""

    def __init__(self, spark, work_dir: str, seed: int, *, n_keys: int,
                 batch_size: int, lookups: int, steps_per_round: int,
                 tracer: tracing.Tracer | None):
        from metadata_wrangler_spark.operators.merge import VersionedParquetTable
        from metadata_wrangler_spark.streaming import cdc_apply

        self.spark = spark
        self.tracer = tracer
        self.changes_dir = os.path.join(work_dir, "changes")
        self.checkpoint = os.path.join(work_dir, "checkpoint")
        self.table_dir = os.path.join(work_dir, "table")
        os.makedirs(self.changes_dir)
        self.feed = datagen.ChangeFeed(seed, n_keys, batch_size)
        self.lookups = lookups
        self.steps_per_round = steps_per_round
        self.table = VersionedParquetTable(spark, self.table_dir, schema=STATE_DDL)
        self.table.init(cdc_apply.empty_state(spark))
        self.seen_data: set[str] = set(os.listdir(os.path.join(self.table_dir, "data")))
        self.table_bytes_written = 0
        self.step = 0
        # per round: the probe times, and the harness-side seconds
        # (input generation, answer checks, probes) that are not timed
        self.probes: list[float] = []
        self.untimed_s = 0.0

    def _new_table_bytes(self) -> int:
        data = os.path.join(self.table_dir, "data")
        new = 0
        for name in os.listdir(data):
            if name not in self.seen_data:
                self.seen_data.add(name)
                new += _dir_bytes(os.path.join(data, name))
        return new

    def _op(self, kind, name, r, traced) -> Op:
        p0 = time.time()
        self.probes += host.speed_probes(PROBES_PER_OP)
        self.untimed_s += time.time() - p0
        op_id = f"r{r}-s{self.step}-{name}"
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(op_id, name)
            self.tracer.begin_op(op_id, traced)
        return Op(kind, name, op_id, r, traced, time.time())

    def _close(self, op: Op) -> Op:
        op.end = op.end or time.time()
        if self.tracer is not None:
            self.tracer.end_op()
        return op

    def run_step(self, r: int, traced: bool) -> list[Op]:
        """One step; returns its ops."""
        from pyspark.sql import functions as F

        from metadata_wrangler_spark.streaming import cdc_apply

        g0 = time.time()
        self.feed.write_batch(os.path.join(self.changes_dir, f"batch-{self.step:05d}.parquet"))
        expected_count = self.feed.live_count()
        keys = self.feed.lookup_keys(self.lookups)
        self.untimed_s += time.time() - g0
        ops = []

        op = self._op("commit", "run_cdc_stream", r, traced)
        try:
            cdc_apply.run_cdc_stream(self.spark, self.changes_dir, self.table, self.checkpoint)
            op.end = time.time()
        except Exception as e:
            op.error = f"commit step {self.step}: {type(e).__name__}: {e}"
        ops.append(self._close(op))
        a0 = time.time()
        op.info["table_bytes"] = self._new_table_bytes()
        self.table_bytes_written += op.info["table_bytes"]
        self.untimed_s += time.time() - a0

        op = self._op("read", "count", r, traced)
        try:
            n = cdc_apply.current_view(self.table.read()).count()
            op.end = time.time()
            if n != expected_count:
                op.error = f"count step {self.step}: got {n}, want {expected_count}"
        except Exception as e:
            op.error = f"count step {self.step}: {type(e).__name__}: {e}"
        ops.append(self._close(op))

        op = self._op("read", "lookup", r, traced)
        try:
            pdf = (cdc_apply.current_view(self.table.read())
                   .where(F.col("key").isin(keys)).toPandas())
            op.end = time.time()
            c0 = time.time()
            got = {int(k): (int(n), int(v), float(x)) for k, n, v, x in
                   pdf[["key", "n_changes", "last_version", "last_value"]].itertuples(index=False)}
            want = {k: self.feed.live(k) for k in keys if self.feed.live(k) is not None}
            if got != want:
                op.error = (f"lookup step {self.step}: {len(got)} rows,"
                            f" {len(want)} expected, differing keys"
                            f" {sorted(set(got.items()) ^ set(want.items()))[:3]}")
            self.untimed_s += time.time() - c0
        except Exception as e:
            op.error = f"lookup step {self.step}: {type(e).__name__}: {e}"
        ops.append(self._close(op))
        self.step += 1
        return ops

    def run(self, settle: int, measured: int, cutoff: float, traced_run: bool) -> Result:
        ops: list[Op] = []
        rounds: list[Round] = []
        r = 0
        while _keep_going(r, settle, measured, cutoff):
            t0 = time.time()
            self.probes, self.untimed_s = [], 0.0
            for _ in range(self.steps_per_round):
                ops.extend(self.run_step(r, _traced(traced_run, self.step, 0)))
            op = self._op("vacuum", "vacuum", r, _traced(traced_run, 0, r))
            try:
                self.table.vacuum()
                op.end = time.time()
            except Exception as e:
                op.error = f"vacuum round {r}: {type(e).__name__}: {e}"
            ops.append(self._close(op))
            t1 = time.time()
            rounds.append(Round(r, t1 - t0 - self.untimed_s, self.probes))
            r += 1
        return Result(ops, rounds, settle, {
            "change_bytes": self.feed.bytes_written,
            "table_bytes_written": self.table_bytes_written,
        })

    def check_final(self, check_oracle) -> str | None:
        """The final serving view against a DuckDB latest-wins
        compaction of every change file written."""
        import duckdb

        from metadata_wrangler_spark.streaming import cdc_apply

        sdf = cdc_apply.current_view(self.table.read())
        pdf = sdf.toPandas()
        got_rows = pandas_rows(pdf, sdf.dtypes)
        con = duckdb.connect()
        try:
            cols, want_rows = check_oracle.oracle_fetch(con.sql(
                "SELECT key, count(*) AS n_changes, max(version) AS last_version,"
                " arg_max(qv, version) / 100.0 AS last_value"
                f" FROM read_parquet('{self.changes_dir}/*.parquet')"
                " GROUP BY key HAVING arg_max(op, version) <> 'D'"))
        finally:
            con.close()
        got = check_oracle.value_hash([c.lower() for c in pdf.columns], got_rows)
        want = check_oracle.value_hash(cols, want_rows)
        if len(got_rows) != len(want_rows) or got != want:
            return (f"final view: {len(got_rows)} rows hash {got},"
                    f" DuckDB compaction {len(want_rows)} rows hash {want}")
        return None
