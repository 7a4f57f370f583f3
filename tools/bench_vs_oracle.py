"""Per-query Spark-vs-DuckDB timing comparison at a given scale factor.

Runs every `queries()` entry (or a named subset) twice on a warm Spark
session and takes the best time, then times the DuckDB oracle the same
way, and prints a ratio table sorted worst-first.

Usage:  python tools/bench_vs_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb

from check_oracle import select_queries

from metadata_wrangler_spark.catalog import TABLES
from metadata_wrangler_spark.plans import ORACLES, release_session_caches
from metadata_wrangler_spark.session import get_spark


def main() -> None:
    sf_dir, qs = select_queries(sys.argv[1:], "/root/testdata/sf0.1")
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    # Warm the session (JVM, Python workers, parquet footers).
    next(iter(qs.values()))(spark, sf_dir).limit(1).collect()

    rows = []
    for name, fn in qs.items():
        # Per-query attribution: release persisted frames and let
        # the ContextCleaner reclaim checkpoint blocks BEFORE each
        # query, so an earlier query's pinned storage can't
        # squeeze this one into spilling (measured 30.7 s in-session
        # vs 3.1 s standalone for a_iqr_outliers at the 100x ladder
        # before this). Cross-query reuse stays a workload property
        # measured by bench.py's concurrent batch, not here.
        release_session_caches(spark)
        best_s = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            # Arrow materialization, matching bench.py's protocol
            # (round-11: the old row-pickled .collect() charged Spark
            # a ~4 s/1.5M-row driver-pickling tax DuckDB's fetchall
            # does not pay — g_pagerank's "2.3x steady state" was
            # mostly this measurement artifact, not the plan)
            n = len(fn(spark, sf_dir).toPandas())
            best_s = min(best_s, time.monotonic() - t0)
        sql = ORACLES.get(name)
        best_d = float("inf")
        if sql:
            for _ in range(2):
                t0 = time.monotonic()
                con.execute(sql).fetchdf()
                best_d = min(best_d, time.monotonic() - t0)
        rows.append((name, best_s, best_d, n))

    rows.sort(key=lambda r: (r[1] / r[2] if r[2] else 0), reverse=True)
    print(f"{'query':32s} {'spark':>8s} {'duck':>8s} {'ratio':>7s} {'rows':>7s}")
    for name, s, d, n in rows:
        ratio = f"{s / d:6.1f}x" if d and d > 0 else "      -"
        print(f"{name:32s} {s:7.2f}s {d:7.2f}s {ratio} {n:7d}")


if __name__ == "__main__":
    main()
