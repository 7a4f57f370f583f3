"""Dump `.explain("formatted")` for named queries to files.

Writes <outdir>/<query>_<tag>.txt for each named query (or every
registered query with --all). Plan claims (OPTIMIZATION_r10.md) are
read against these; capturing them through one tool keeps the format
identical before/after. After the <outdir> <tag> prefix the arguments
are the oracle tools' selection (``check_oracle.select_queries``): an
unknown name exits before Spark starts and nothing is written.

Usage:  python tools/explain_dump.py <outdir> <tag> [sf_dir] (--all | <query ...>)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metadata_wrangler_spark.session import get_spark
from tools.check_oracle import select_queries


def main() -> int:
    args = sys.argv[1:]
    if len(args) < 3:
        print(__doc__)
        return 2
    outdir, tag = args[0], args[1]
    sf_dir, qs = select_queries(
        [a for a in args[2:] if a != "--all"], "/root/testdata/sf0.1"
    )
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark()
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
