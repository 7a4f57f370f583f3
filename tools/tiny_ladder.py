"""Boundary ("tiny") ladder: run EVERY oracle-paired query against a
handful-of-rows, FK-consistent mirror of the test tables, on both
engines, and compare with the driver's own logic.

Between the empty ladder (zero rows) and the generator's smallest
scale (sf0.001, ~6k lineitem rows) lies the boundary regime the
generator never produces: groups of exactly one row, top-k lists
with n < k, quantiles of a single element, LSH bands with singleton
buckets, graphs with fewer nodes than the walk depth, windows whose
frame is the whole (one-row) partition. Engines disagree most at
exactly these boundaries (rank ties, interpolation endpoints,
empty-minus-one frames), and at 100 TB this regime is every
low-cardinality slice of a high-cardinality partitioning.

The mirror keeps referential integrity so joins still resolve —
this ladder injects a VALID state, like the NULL ladder and unlike
arbitrary row deletion:

  - region, nation: kept whole (dimensions don't shrink);
  - customer: keys <= 3 (4 rows; node 1 exists for seeded walks);
  - orders: the kept customers' orders;
  - lineitem: the kept orders' items;
  - part / supplier: exactly the rows the kept lineitems reference;
  - events: the kept customers' events;
  - documents: doc_id <= 2 (3 docs — shingle/minhash singletons);
  - embeddings: vec_id <= 3 (4 vectors — fewer rows than most k).

Usage:  python tools/tiny_ladder.py [src_sf_dir] [query ...]
        (default src: /root/testdata/sf0.001; mirror rebuilt under
        /tmp/spark_graft_tiny_ladder each run)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb

from check_oracle import select_queries, sweep

_CUST_MAX = 3
_DOC_MAX = 2
_VEC_MAX = 3

#: table -> predicate over the SOURCE tables (referenced as duckdb
#: views named <table>_src). Order matters: each filter may reference
#: the already-filtered upstream mirror by its bare table name.
_FILTERS: tuple[tuple[str, str], ...] = (
    ("region", "true"),
    ("nation", "true"),
    ("customer", f"c_custkey <= {_CUST_MAX}"),
    ("orders", "o_custkey IN (SELECT c_custkey FROM customer)"),
    ("lineitem", "l_orderkey IN (SELECT o_orderkey FROM orders)"),
    ("part", "p_partkey IN (SELECT l_partkey FROM lineitem)"),
    ("supplier", "s_suppkey IN (SELECT l_suppkey FROM lineitem)"),
    ("events", "user_id IN (SELECT c_custkey FROM customer)"),
    ("documents", f"doc_id <= {_DOC_MAX}"),
    ("embeddings", f"vec_id <= {_VEC_MAX}"),
)


def build_mirror(src: str, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for t, pred in _FILTERS:
        con.execute(
            f"CREATE OR REPLACE VIEW {t}_src AS "
            f"SELECT * FROM read_parquet('{src}/{t}.parquet')"
        )
        con.execute(
            f"CREATE OR REPLACE TABLE {t} AS "
            f"SELECT * FROM {t}_src WHERE {pred}"
        )
        (n,) = con.execute(f"SELECT count(*) FROM {t}").fetchone()
        if n == 0:
            raise AssertionError(
                f"tiny ladder mirror of {t} is empty — the boundary "
                f"regime needs at least one row per table (the empty "
                f"ladder covers zero rows)"
            )
        con.execute(
            f"COPY {t} TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()


def main() -> int:
    src, qs = select_queries(sys.argv[1:], "/root/testdata/sf0.001")
    dst = "/tmp/spark_graft_tiny_ladder"
    build_mirror(src, dst)
    return sweep(qs, dst, " on the tiny ladder")


if __name__ == "__main__":
    raise SystemExit(main())
