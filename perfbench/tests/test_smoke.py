"""Smoke and self-tests for the benchmark harness.

    python3 -m pytest perfbench/tests -q

The smoke tests run each workload once at tiny sizes on sf0.001, in
both modes, and check that every metric is printed with its unit, that
no operation failed, and that each traced layer recorded calls. The
self-test feeds a corrupted query result through the answer check and
asserts it is counted as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, report, workloads  # noqa: E402
from perfbench.check import AnswerKey, load_check_oracle  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

# Layer calls each traced workload must show (metric -> minimum).
LAYER_CALLS = {
    "floor_sf0.01": ("catalog.load_calls", "operators.calls", "sources.calls",
                     "functions.calls", "python.stages",
                     "spark.jobs", "plans.build_jobs"),
    "cdc_ingest": ("streaming.batches", "merge.commits", "spark.jobs"),
}


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke(workload, trace):
    out = _run(workload, trace)
    expected = report.declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in out["metrics"].items()} == expected
    assert out["attempted"] >= 1
    failed_frac = out["failed"] / out["attempted"]
    assert failed_frac == 0 and out["correct"], out
    if trace:
        for metric in LAYER_CALLS[workload]:
            assert out["metrics"][metric]["value"] > 0, metric
    else:
        for k, v in out["metrics"].items():
            assert v["value"] > 0, k


class _FakeFrame:
    def __init__(self, pdf, dtypes):
        self._pdf, self.dtypes = pdf, dtypes

    def toPandas(self):
        return self._pdf


def test_corrupted_result_counts_as_failed(tmp_path):
    datagen.write_tables(str(tmp_path), 0.001, seed=7)
    co = load_check_oracle(ROOT)
    key = AnswerKey(co, str(tmp_path), {"q": "SELECT r_regionkey, r_name FROM region"}, ["q"])
    dtypes = [("r_regionkey", "int"), ("r_name", "string")]
    good = pd.DataFrame({"r_regionkey": range(5), "r_name": datagen.REGIONS})
    bad = good.copy()
    bad.loc[2, "r_name"] = "ATLANTIS"

    frames = iter([good, bad])
    runner = workloads.QueryRunner(
        None, {"q": lambda spark, sf_dir: _FakeFrame(next(frames), dtypes)},
        str(tmp_path), tracer=None)
    ops = [runner.run("q", 0, traced=False), runner.run("q", 1, traced=False)]
    problems = workloads.check_queries(runner, key)
    assert ops[0].error is None
    assert ops[1].error is not None and len(problems) == 1


def test_change_feed_is_seeded(tmp_path):
    a = datagen.ChangeFeed(5, 1000, 100)
    b = datagen.ChangeFeed(5, 1000, 100)
    a.write_batch(str(tmp_path / "a.parquet"))
    b.write_batch(str(tmp_path / "b.parquet"))
    assert a.state == b.state and a.lookup_keys(10) == b.lookup_keys(10)
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()


def test_run_refuses_without_engine(tmp_path):
    """In a directory holding only the harness, the benchmark exits
    non-zero and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0 and p.stdout == "" and time.time() - t0 < 180



def test_reference_speed_scales_with_the_probe():
    """A run on a host twice as slow as the reference reports half its
    measured times."""
    from perfbench import host

    assert host.at_reference_speed(3.0, 2 * host.PROBE_REF_S) == pytest.approx(1.5)
    assert host.speed_probe() > 0
