"""Shared pytest fixtures: one local SparkSession per test session.

Mirrors the reference's test strategy (SURVEY.md §5): operator tests
over a real engine with tiny hand-built datasets, asserting exact
row sets (`/root/reference/tests/test_monitor.py:44-47` style).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


# Read-only snapshot of the reference repository's test fixtures.
REFERENCE_FILES = "/root/reference/tests/files"

#: Marks a golden test that parses the reference's own fixture files.
#: It runs unchanged when the snapshot is present and is skipped,
#: with this reason in the report, when it is not; the parsers' facts
#: are also asserted on hand-written documents in tests/test_sources.py
#: and tests/test_functions.py.
requires_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_FILES),
    reason=f"REFERENCE SNAPSHOT MISSING: {REFERENCE_FILES} not found; "
    "golden-fixture test not run",
)


@pytest.fixture(scope="session")
def spark():
    from metadata_wrangler_spark.session import get_spark
    s = get_spark("tests", cpus=4)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    yield s


def rows(df, *order_cols):
    """Collect to a sorted list of tuples for exact-row assertions."""
    out = [tuple(r) for r in df.collect()]
    return sorted(out)
