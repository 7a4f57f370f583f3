"""Empty-input ladder: run EVERY oracle-paired query against a
zero-row mirror of the test tables, on both engines, and compare
with the driver's own logic (rows + columns + value hash).

Why a whole ladder: the generator always emits rows, so "what does
this plan do on an empty table?" is never exercised by the driver's
gate or the NULL ladder. Empty inputs are not a corner case at
100 TB — they are every cold-start partition, every
predicate-prunes-everything incremental run, every new tenant. The
failure classes this surfaces are exactly the ones that take down a
scheduled pipeline at 3am:

  - driver-side probes that index into a `.collect()` result
    (`rows[0]`) or reduce over it (`max(...)`) without a guard;
  - numpy/Arrow local tiers called with zero-length arrays
    (reshape/argmin on empty raises);
  - global-aggregate queries where SQL returns ONE row of
    NULLs/zeros over an empty input (`SELECT count(*) ...` with no
    GROUP BY) while a plan that groups first returns ZERO rows —
    a genuine semantic drift between plan and oracle;
  - division by a COUNT that is now zero;
  - iterative operators whose convergence loop assumes a non-empty
    frontier on round 0.

Usage:  python tools/empty_ladder.py [src_sf_dir] [query ...]
        (default src: /root/testdata/sf0.001 — only schemas are
        taken from it; the mirror under /tmp/spark_graft_empty_ladder
        has the same columns/types and zero rows everywhere)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb

from check_oracle import select_queries, sweep

from metadata_wrangler_spark.catalog import TABLES


def build_mirror(src: str, dst: str) -> None:
    """Zero-row, schema-identical parquet copy of every table."""
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet') "
            f"WHERE false) TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )
        (n,) = con.execute(
            f"SELECT count(*) FROM read_parquet('{dst}/{t}.parquet')"
        ).fetchone()
        if n != 0:
            raise AssertionError(f"empty ladder mirror of {t} has {n} rows")
    con.close()


def main() -> int:
    src, qs = select_queries(sys.argv[1:], "/root/testdata/sf0.001")
    dst = "/tmp/spark_graft_empty_ladder"
    build_mirror(src, dst)
    return sweep(qs, dst, " on the empty ladder")


if __name__ == "__main__":
    raise SystemExit(main())
