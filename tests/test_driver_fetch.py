"""The two doors between driver values and plans: the bounded driver
fetch (exact cap semantics, the probe log line) and the source guard
that keeps ``operators/driver_fetch.py`` and ``session.local_frame``
the only crossings — beside the guards that keep it the only module
pairing ``limit`` with a driver action and ``operators/lineage.py``
the only module that checkpoints."""

from __future__ import annotations

import ast
import inspect
import logging
import pathlib
import re

import pytest
from pyspark.sql.types import StructType

from metadata_wrangler_spark.operators import driver_fetch, lineage
from metadata_wrangler_spark.operators.driver_fetch import (
    fetch_at_most,
    fetch_capped,
)
from metadata_wrangler_spark.session import local_frame

_PKG = pathlib.Path(driver_fetch.__file__).resolve().parents[1]
_LIMIT_ACTION = re.compile(
    r"\.limit\([^)]*\)\s*\.(collect|toArrow|toPandas|count)\("
)
_CHECKPOINT = re.compile(r"localCheckpoint\(|free_checkpoint")
_ACTIONS = {"collect", "toArrow", "toPandas", "count"}
_LINEAGE_CALLS = {
    name for name, fn in vars(lineage).items()
    if inspect.isfunction(fn) and fn.__module__ == lineage.__name__
}

# Bare driver actions that stay under operators/ and plans/, keyed by
# (module, enclosing function, action), each with the measured reason.
_SP_HINT = (
    "edge_count_hint: dropping it cost +0.13-0.17 s through "
    "fetch_at_most (its CollectLimit funnels every edge through one "
    "partition), and +0.22-0.35 s (7 -> 11 jobs) through a bounded "
    "count followed by a parallel fetch, at sf0.01 and sf0.1; the "
    "hinted fetch raises past LOCAL_SOLVE_MAX_EDGES rows"
)
_SELECTION = (
    "grouped_select's histogram rounds (ROADMAP item 10): a capped "
    "fetch_at_most cost +0.14-0.18 s at sf0.1 on a_weighted_median, "
    "a_mad_robust and ev_gap_percentiles; a lazy fixed-schedule plan "
    "gave identical rows but was +0.09-0.55 s slower per query at "
    "sf0.01 (8-11 exec jobs against 5-9)"
)
_WRITE_PATH = (
    "write path: the action runs inside a table commit, not while a "
    "query plan is built"
)
_ALLOWED = {
    ("plans/graph.py", "g_shortest_path", "count"): _SP_HINT,
    ("operators/closure.py", "_local_tier", "toArrow"): _SP_HINT,
    ("operators/selection.py", "grouped_select._coarse", "toArrow"):
        _SELECTION,
    ("operators/selection.py", "_refine", "toPandas"): _SELECTION,
    ("operators/matview.py", "MaterializedDailyRollup._fold", "collect"):
        _WRITE_PATH,
    ("operators/merge.py", "audit_row_delta.check", "count"): _WRITE_PATH,
}


def _scan(tree: ast.AST) -> tuple[list, list]:
    """``(actions, creates)`` in ``tree``: every argument-less
    ``collect``/``toArrow``/``toPandas``/``count`` call outside a
    lambda passed as ``probe=`` to a ``lineage`` function, as
    ``(scope, action, line)``, and every ``createDataFrame`` call, as
    ``(scope, line)``; scope is the enclosing qualified name."""
    actions, creates = [], []

    def visit(node, scope, in_probe):
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            scope = f"{scope}.{node.name}" if scope else node.name
        probes = set()
        if isinstance(node, ast.Call):
            func = node.func
            name = getattr(func, "attr", getattr(func, "id", None))
            if name == "createDataFrame":
                creates.append((scope, node.lineno))
            if (name in _ACTIONS and isinstance(func, ast.Attribute)
                    and not node.args and not node.keywords
                    and not in_probe):
                actions.append((scope, name, node.lineno))
            if name in _LINEAGE_CALLS:
                probes = {id(k) for k in node.keywords
                          if k.arg == "probe"
                          and isinstance(k.value, ast.Lambda)}
        for child in ast.iter_child_nodes(node):
            visit(child, scope, in_probe or id(child) in probes)

    visit(tree, "", False)
    return actions, creates


def test_fetch_at_most_returns_table_at_cap_and_none_past_it(spark):
    df = spark.range(0, 5)
    tbl = fetch_at_most(df, 5, "t_at_cap")
    assert tbl is not None and tbl.num_rows == 5
    assert sorted(tbl.column("id").to_pylist()) == [0, 1, 2, 3, 4]
    assert fetch_at_most(df, 4, "t_past_cap") is None
    empty = fetch_at_most(df.where("id < 0"), 0, "t_empty")
    assert empty is not None and empty.num_rows == 0
    assert empty.schema.names == ["id"]


def test_fetch_capped_raises_past_its_cap(spark):
    df = spark.range(0, 3)
    assert fetch_capped(df, 3, "t_capped").num_rows == 3
    with pytest.raises(ValueError, match="t_capped exceeds its cap of 2"):
        fetch_capped(df, 2, "t_capped")


def test_fetch_logs_name_cap_and_rows_seen(spark, caplog):
    df = spark.range(0, 3)
    with caplog.at_level(logging.INFO, logger=driver_fetch.__name__):
        fetch_at_most(df, 10, "t_log_fetch")
        fetch_at_most(df, 1, "t_log_over")
    msgs = [
        r.getMessage() for r in caplog.records
        if r.name == driver_fetch.__name__
    ]
    assert msgs == [
        "driver fetch t_log_fetch: cap=10 seen=3 -> within",
        "driver fetch t_log_over: cap=1 seen=2 -> over",
    ]


def _assert_local_relation(df, ddl):
    """``df`` is a JVM ``LocalRelation`` of exactly ``ddl``'s schema,
    with no ``LogicalRDD`` (a Python RDD) in its analyzed plan."""
    qe = df._jdf.queryExecution()
    assert df.schema == StructType.fromDDL(ddl)
    assert "LogicalRDD" not in qe.analyzed().toString()
    assert qe.optimizedPlan().getClass().getSimpleName() == "LocalRelation"


def test_local_frame_of_no_rows_is_a_jvm_relation_of_the_schema(spark):
    """The schema createDataFrame([], ddl) gives, zero rows, and no
    Python RDD behind it."""
    ddl = "key BIGINT, op STRING, qv DOUBLE, d DATE, rank INT"
    df = local_frame(spark, [], ddl)
    _assert_local_relation(df, ddl)
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert df.count() == 0


def test_local_frame_keeps_rows_with_nulls(spark):
    ddl = "k bigint, v double, s string, n int"
    rows = [(1, 0.5, "a", 7), (2, None, None, None), (None, -1.0, "", 0)]
    df = local_frame(spark, rows, ddl)
    _assert_local_relation(df, ddl)
    assert [tuple(r) for r in df.collect()] == rows


def test_local_frame_takes_a_pandas_frame_cast_to_the_schema(spark):
    import pandas as pd

    ddl = "node bigint, level int"
    pdf = pd.DataFrame({"node": [3, 1], "level": [0, 2]})  # int64 both
    df = local_frame(spark, pdf, ddl)
    _assert_local_relation(df, ddl)
    assert [tuple(r) for r in df.collect()] == [(3, 0), (1, 2)]


def test_local_frame_holds_a_nested_array_column(spark):
    ddl = "id long, embedding array<float>, tags array<string>"
    rows = [(1, [0.5, -1.0], ["x"]), (2, None, []), (3, [], None)]
    df = local_frame(spark, rows, ddl)
    _assert_local_relation(df, ddl)
    assert [tuple(r) for r in df.collect()] == rows


def test_only_driver_fetch_pairs_limit_with_a_driver_action():
    hits = []
    for path in sorted(_PKG.rglob("*.py")):
        if path.name == "driver_fetch.py":
            continue
        text = path.read_text()
        for m in _LIMIT_ACTION.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            hits.append(f"{path.relative_to(_PKG.parent)}:{line}")
    assert hits == [], (
        "limit(...) + driver action outside operators/driver_fetch.py "
        f"(use fetch_at_most): {hits}"
    )


def test_only_lineage_checkpoints_or_frees():
    lineage_py = _PKG / "operators" / "lineage.py"
    hits = []
    for path in sorted(_PKG.rglob("*.py")):
        if path == lineage_py:
            continue
        text = path.read_text()
        for m in _CHECKPOINT.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            hits.append(f"{path.relative_to(_PKG.parent)}:{line}")
    assert hits == [], (
        "localCheckpoint / free_checkpoint outside operators/lineage.py "
        f"(use checkpoint / materialize / fixpoint): {hits}"
    )


def test_driver_values_cross_only_through_local_frame_and_driver_fetch():
    """Into plans: ``createDataFrame`` occurs only inside
    ``session.local_frame`` (over a Python list it plans a Python RDD,
    a hidden Python stage). Out of plans: under ``operators/`` and
    ``plans/`` a bare driver action occurs only in ``driver_fetch``,
    in ``lineage``, in a ``probe=`` lambda handed to ``lineage``, or
    at a site in ``_ALLOWED``. Parsed, not grepped, so a call split
    over lines is caught and a docstring is not."""
    creates, actions = [], set()
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        found, made = _scan(ast.parse(path.read_text()))
        creates += [f"{rel}:{line} ({scope})" for scope, line in made
                    if (rel, scope) != ("session.py", "local_frame")]
        if rel.startswith(("operators/", "plans/")) and path.name not in (
            "driver_fetch.py", "lineage.py"
        ):
            actions |= {(rel, scope, act) for scope, act, _ in found}
    assert creates == [], (
        f"createDataFrame outside session.local_frame: {creates}"
    )
    assert sorted(actions - _ALLOWED.keys()) == [], (
        "bare driver action outside driver_fetch / lineage (fetch "
        "through fetch_at_most, make it lazy, or allowlist it with "
        "its measured reason)"
    )
    assert sorted(_ALLOWED.keys() - actions) == [], "stale allowlist entry"


def test_guard_flags_a_planted_action_and_create_but_not_a_probe():
    planted = ast.parse(
        "def plan(spark, df):\n"
        "    n = df.count()\n"
        "    rows = df.where('x').collect()\n"
        "    with materialize(df, 'pin', probe=lambda f: f.count()):\n"
        "        pass\n"
        "    return spark.createDataFrame(\n"
        "        [(n,)], 'n long')\n"
    )
    actions, creates = _scan(planted)
    assert actions == [("plan", "count", 2), ("plan", "collect", 3)]
    assert creates == [("plan", 6)]
