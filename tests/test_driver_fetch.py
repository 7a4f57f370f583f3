"""The bounded driver fetch primitive: exact cap semantics, the probe
log line, and a source guard that keeps it the only module pairing
``limit`` with a driver action — beside the guard that keeps
``operators/lineage.py`` the only module that checkpoints."""

from __future__ import annotations

import logging
import pathlib
import re

from metadata_wrangler_spark.operators import driver_fetch
from metadata_wrangler_spark.operators.driver_fetch import (
    count_at_most,
    fetch_at_most,
)

_PKG = pathlib.Path(driver_fetch.__file__).resolve().parents[1]
_LIMIT_ACTION = re.compile(
    r"\.limit\([^)]*\)\s*\.(collect|toArrow|toPandas|count)\("
)
_CHECKPOINT = re.compile(r"localCheckpoint\(|free_checkpoint")


def test_fetch_at_most_returns_table_at_cap_and_none_past_it(spark):
    df = spark.range(0, 5)
    tbl = fetch_at_most(df, 5, "t_at_cap")
    assert tbl is not None and tbl.num_rows == 5
    assert sorted(tbl.column("id").to_pylist()) == [0, 1, 2, 3, 4]
    assert fetch_at_most(df, 4, "t_past_cap") is None
    empty = fetch_at_most(df.where("id < 0"), 0, "t_empty")
    assert empty is not None and empty.num_rows == 0
    assert empty.schema.names == ["id"]


def test_count_at_most_is_min_of_count_and_cap_plus_one(spark):
    df = spark.range(0, 7)
    for cap in (0, 3, 6, 7, 100):
        assert count_at_most(df, cap, "t_count") == min(7, cap + 1)


def test_fetch_logs_name_cap_and_rows_seen(spark, caplog):
    df = spark.range(0, 3)
    with caplog.at_level(logging.INFO, logger=driver_fetch.__name__):
        fetch_at_most(df, 10, "t_log_fetch")
        count_at_most(df, 1, "t_log_count")
    msgs = [
        r.getMessage() for r in caplog.records
        if r.name == driver_fetch.__name__
    ]
    assert msgs == [
        "driver fetch t_log_fetch: cap=10 seen=3 -> within",
        "driver fetch t_log_count: cap=1 seen=2 -> over",
    ]


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
        f"(use fetch_at_most / count_at_most): {hits}"
    )


def test_only_lineage_checkpoints_or_frees():
    lineage = _PKG / "operators" / "lineage.py"
    hits = []
    for path in sorted(_PKG.rglob("*.py")):
        if path == lineage:
            continue
        text = path.read_text()
        for m in _CHECKPOINT.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            hits.append(f"{path.relative_to(_PKG.parent)}:{line}")
    assert hits == [], (
        "localCheckpoint / free_checkpoint outside operators/lineage.py "
        f"(use checkpoint / materialize / fixpoint): {hits}"
    )
