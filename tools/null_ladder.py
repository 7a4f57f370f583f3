"""NULL-ladder correctness sweep: hash-check EVERY oracle-paired
query against a NULL-injected mirror of the test data.

The driver's generator emits no NULLs in measures or group keys, so
a plan/oracle pair can agree on the generated data while disagreeing
on NULL semantics (round-6 advice found exactly this in
a_mad_robust: the oracle's COUNT(*) counted NULL values the plan
excluded, and a USING join dropped the NULL-type group). This sweep
makes that whole class testable: every MEASURE and LOW-CARDINALITY
group/flag column gets NULLed on a deterministic slice of its
table's primary key (keys and FKs stay intact so joins still
resolve), then every registered query runs on both engines over the
same mirror and must hash-match exactly as in the driver's gate.

Known cross-engine NULL hazards this surfaces:
  - ROW_NUMBER/RANK ordered by a nullable column (Spark sorts NULLS
    FIRST ascending by default, DuckDB NULLS LAST);
  - COUNT(*) vs COUNT(col) drift when a plan filters NULLs early;
  - USING / equi-joins silently dropping NULL keys one side kept;
  - arithmetic on quantized NULLs (floor(NULL*k) stays NULL — fine —
    but a COALESCE default on one side only diverges).

Usage:  python tools/null_ladder.py [src_sf_dir] [query ...]
        (default src: /root/testdata/sf0.001; mirror is rebuilt
        under /tmp/spark_graft_null_ladder each run)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb

from check_oracle import select_queries, sweep

from metadata_wrangler_spark.catalog import TABLES

#: table -> (pk expression, {column: pk-modulus that NULLs it}).
#: Moduli are distinct primes so NULL patterns overlap but never
#: coincide column-to-column; keys and foreign keys are never NULLed
#: (NULL join keys change semantics by design — that is a different
#: ladder). The pk slot is any deterministic integer SQL expression
#: over the row — for lineitem it MUST range wider than the largest
#: modulus: l_linenumber alone takes values 1..7, so moduli >7 never
#: fired and four columns silently escaped injection (round-7 advice).
#: The composite below varies with both keys, so every modulus hits.
NULL_PLAN: dict[str, tuple[str, dict[str, int]]] = {
    "events": ("event_id", {"value": 7, "event_type": 11, "props": 5}),
    "customer": ("c_custkey", {"c_acctbal": 7, "c_mktsegment": 11,
                               "c_name": 13, "c_phone": 5,
                               "c_comment": 3}),
    "supplier": ("s_suppkey", {"s_acctbal": 7, "s_comment": 3}),
    "orders": ("o_orderkey", {"o_totalprice": 7, "o_orderpriority": 11,
                              "o_orderdate": 13, "o_comment": 3}),
    "lineitem": ("(l_orderkey * 8 + l_linenumber)",
                 {"l_quantity": 7, "l_extendedprice": 11,
                  "l_returnflag": 13, "l_shipdate": 17,
                  "l_discount": 19, "l_comment": 3}),
    "part": ("p_partkey", {"p_name": 7, "p_retailprice": 11,
                           "p_comment": 3}),
    "documents": ("doc_id", {"text": 7, "lang": 11, "source": 13,
                             "url": 17}),
    "embeddings": ("vec_id", {"embedding": 7, "label": 11}),
}


def build_mirror(src: str, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        pk, cols = NULL_PLAN.get(t, (None, {}))
        if cols:
            # restrict to columns actually present in this table
            present = {
                d[0]
                for d in con.execute(
                    f"SELECT * FROM read_parquet('{src}/{t}.parquet') "
                    "LIMIT 0"
                ).description
            }
            reps = ", ".join(
                f"CASE WHEN {pk} % {m} = 0 THEN NULL ELSE {c} END AS {c}"
                for c, m in cols.items()
                if c in present
            )
            sel = f"* REPLACE ({reps})" if reps else "*"
        else:
            sel = "*"
        con.execute(
            f"COPY (SELECT {sel} FROM read_parquet('{src}/{t}.parquet'))"
            f" TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )
        if cols:
            # Sanity: every targeted column must actually receive
            # NULLs — a key expression whose range is narrower than a
            # modulus silently skips that column (round-7 advice).
            checks = [c for c in cols if c in present]
            if checks:
                counts = con.execute(
                    "SELECT " + ", ".join(
                        f"count(*) FILTER ({c} IS NULL)" for c in checks
                    ) + f" FROM read_parquet('{dst}/{t}.parquet')"
                ).fetchone()
                missed = [c for c, n in zip(checks, counts) if n == 0]
                if missed:
                    raise AssertionError(
                        f"NULL ladder never NULLed {t}.{missed}: key "
                        f"expression {pk!r} too narrow for its moduli"
                    )
    con.close()


def main() -> int:
    src, qs = select_queries(sys.argv[1:], "/root/testdata/sf0.001")
    dst = "/tmp/spark_graft_null_ladder"
    build_mirror(src, dst)
    return sweep(qs, dst, " on the NULL ladder")


if __name__ == "__main__":
    raise SystemExit(main())
