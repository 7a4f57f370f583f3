"""Command-line contract of the per-query tools: the query selection
shared by tools/check_oracle.py, the empty/NULL/tiny ladders,
tools/bench_vs_oracle.py, tools/plan_audit.py and
tools/check_determinism.py rejects a bad selection before any Spark
session starts, so a typo cannot sweep zero queries and exit 0."""

from __future__ import annotations

import importlib
import os
import sys

import pytest

TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)
sys.path.insert(0, TOOLS)

SF = "/root/testdata/sf0.001"


def _no_spark(*_a, **_k):
    raise AssertionError("a Spark session was requested")


@pytest.mark.parametrize(
    "tool",
    ["check_oracle", "empty_ladder", "null_ladder", "tiny_ladder",
     "bench_vs_oracle", "plan_audit", "check_determinism"],
)
def test_unknown_query_name_exits_before_spark(tool, monkeypatch):
    from metadata_wrangler_spark import session

    mod = importlib.import_module(tool)
    for owner in (session, mod, importlib.import_module("check_oracle")):
        monkeypatch.setattr(owner, "get_spark", _no_spark, raising=False)
    monkeypatch.setattr(
        sys, "argv", [f"{tool}.py", SF, "g_bipartite_projectt"]
    )
    with pytest.raises(SystemExit) as exc:
        mod.main()
    assert "g_bipartite_projectt" in str(exc.value.code)


def test_selection_keeps_order_window_and_default_dir():
    from check_oracle import select_queries

    from metadata_wrangler_spark.plans import (
        VERIFICATION_WINDOW,
        ordered_queries,
    )

    order = list(ordered_queries())
    sf, qs = select_queries([order[5], order[2]], SF)
    assert sf == SF and list(qs) == [order[2], order[5]]
    sf, qs = select_queries(["/root/testdata/sf0.01"], SF, window=True)
    assert sf == "/root/testdata/sf0.01"
    assert list(qs) == order[:VERIFICATION_WINDOW]
    with pytest.raises(SystemExit, match="no queries selected"):
        select_queries([order[-1]], SF, window=True)


def test_hash_mismatch_carries_differing_rows(spark):
    import duckdb
    from check_oracle import check_one

    def fn(spark, _sf):
        return spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string")

    sql = "SELECT * FROM (VALUES (1, 'x'), (3, 'z')) t(a, b)"
    (problem,) = check_one(spark, duckdb.connect(), fn, sql, SF)
    head, *sample = problem.split("\n")
    assert head.startswith("hash spark=")
    assert [s.strip() for s in sample] == [
        "spark-only: 2 | y", "duck-only: 3 | z"
    ]


def test_sweep_marks_queries_without_an_oracle(spark, monkeypatch, capsys):
    import check_oracle

    from metadata_wrangler_spark import plans

    def fn(spark, _sf):
        return spark.createDataFrame([(1,)], "a long")

    monkeypatch.setattr(check_oracle, "get_spark", lambda: spark)
    monkeypatch.setattr(plans, "ORACLES", {"checked": "SELECT 1 AS a"})
    assert check_oracle.sweep({"checked": fn, "bare": fn}, SF) == 0
    out = capsys.readouterr().out.splitlines()
    assert [ln.split(" [")[0] for ln in out if ln.startswith("OK")] == [
        "OK    checked", "OK    bare"
    ]
    assert out[0].endswith("s]") and out[1].endswith("s] (no oracle)")
    assert out[-2:] == ["1 / 2 queries have no oracle (run, not compared)",
                        "all green"]
