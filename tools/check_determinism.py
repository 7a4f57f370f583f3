"""Cluster-layout-independence sweep: run every `queries()` entry
TWICE on Spark — once with spark.sql.shuffle.partitions=1, once with
64 — and require identical order-insensitive value hashes.

The oracle sweep (tools/check_oracle.py, four scale factors) proves
Spark == DuckDB under one partitioning; this proves the Spark result
itself cannot move when the cluster layout changes — the property
the engine's integer/decimal aggregation conventions exist to
guarantee, checked mechanically over the whole surface instead of
per-op property tests.

Usage:  python tools/check_determinism.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metadata_wrangler_spark.session import get_spark
from tools.check_oracle import select_queries, value_hash


def main() -> int:
    sf_dir, qs = select_queries(sys.argv[1:], "/root/testdata/sf0.001")
    spark = get_spark("determinism")
    base = spark.conf.get("spark.sql.shuffle.partitions")
    failing = []
    try:
        for name, fn in qs.items():
            t0 = time.time()
            hashes = []
            for parts in ("1", "64"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                df = fn(spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
                hashes.append(
                    (len(rows), value_hash([c.lower() for c in df.columns],
                                           rows))
                )
            ok = hashes[0] == hashes[1]
            status = "OK   " if ok else "FAIL "
            print(f"{status} {name}: {hashes[0][0]} rows "
                  f"[{time.time() - t0:.1f}s]"
                  + ("" if ok else f"  1part={hashes[0]} 64part={hashes[1]}"))
            if not ok:
                failing.append(name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)
    print()
    print("all green" if not failing else f"{len(failing)} failing: {failing}")
    return 1 if failing else 0


if __name__ == "__main__":
    raise SystemExit(main())
