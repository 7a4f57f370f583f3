"""Bounded driver fetches, as one primitive.

Every tier probe and every driver-side collect an operator makes reads
at most ``cap + 1`` rows through this module, the only one that pairs
``DataFrame.limit`` with a driver action. Rows move over Arrow: the
limited plan runs as one job where a row ``collect`` scales up
partition by partition over several. Each call logs one INFO line
with the probe name, the cap, the rows seen and the decision. Callers
keep their own cap constant and over-cap policy (fall back, warn and
fall back, or raise).
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


def count_at_most(df: DataFrame, cap: int, name: str) -> int:
    """``min(df.count(), cap + 1)``, reading at most ``cap + 1`` rows."""
    n = df.limit(cap + 1).count()
    _within(name, cap, n)
    return n
