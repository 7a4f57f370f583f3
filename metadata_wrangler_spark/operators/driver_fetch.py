"""Bounded driver fetches, as one primitive.

Every tier probe and every driver-side collect an operator makes reads
at most ``cap + 1`` rows through this module, the only one that pairs
``DataFrame.limit`` with a driver action. Rows move over Arrow: the
limited plan runs as one job where a row ``collect`` scales up
partition by partition over several. Each call logs one INFO line
with the probe name, the cap, the rows seen and the decision. Callers
keep their own cap constant and over-cap policy (fall back, warn and
fall back, or raise). The one door out of a plan, as
``session.local_frame`` is the one door in (guard and allowlist:
``tests/test_driver_fetch.py``).
"""

from __future__ import annotations

import logging

import pyarrow as pa
from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)


def _within(name: str, cap: int, seen: int) -> bool:
    within = seen <= cap
    _log.info("driver fetch %s: cap=%d seen=%d -> %s", name, cap, seen,
              "within" if within else "over")
    return within


def fetch_at_most(df: DataFrame, cap: int, name: str) -> pa.Table | None:
    """``df``'s rows as an Arrow table, or ``None`` past ``cap`` rows."""
    tbl = df.limit(cap + 1).toArrow()
    return tbl if _within(name, cap, tbl.num_rows) else None


def fetch_capped(df: DataFrame, cap: int, name: str) -> pa.Table:
    """``fetch_at_most`` for a read with no fallback: past ``cap`` rows
    it raises and names the cap."""
    tbl = fetch_at_most(df, cap, name)
    if tbl is None:
        raise ValueError(f"driver fetch {name} exceeds its cap of {cap} rows")
    return tbl
