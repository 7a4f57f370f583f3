"""Local mirror of the driver's correctness gate: run every
`queries()` entry on Spark and its `oracle_sql()` twin on DuckDB over
the same parquet tables, then compare row count, column names, and an
order-insensitive value hash.

Usage:  python tools/check_oracle.py [sf_dir] [query ...]
        python tools/check_oracle.py [sf_dir] --window
            check ONLY the first 50 ordered queries — exactly the
            slice the driver's per-round correctness gate verifies

The check loop (``sweep``) is shared with the empty/NULL/tiny
ladders, and the query selection (``select_queries``) also with
bench_vs_oracle.py, plan_audit.py and check_determinism.py.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from metadata_wrangler_spark.catalog import TABLES
from metadata_wrangler_spark.session import get_spark


def _normalize_cell(v):
    import datetime
    import decimal
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:  # NaN (pandas NULL in a float64 column)
            return "NULL"
        return repr(float(v))
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        if v != v:  # pandas NaT
            return "NULL"
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def oracle_fetch(rel):
    """Materialize a DuckDB relation THE WAY THE DRIVER DOES — via
    Arrow, not ``fetchall``. The representation matters: DuckDB's
    HUGEINT (the result type of SUM over integers) crosses Arrow as
    decimal128 and normalizes as a float ("3.0"), while fetchall
    yields plain Python int ("3") — so an oracle missing a
    CAST(... AS BIGINT) hashes differently at the driver while a
    fetchall-based mirror stays green. Round 4 shipped two such
    latent bugs (j_bloom_prune, ev_unpivot_long); this mirror reds
    them locally first. Validated against CORRECTNESS_r04: the two
    known HUGEINT bugs red here, and the driver-green nullable-BIGINT
    and INTEGER-with-NULL queries (ev_asof_join,
    s_xml_classify_response) stay green — a plain fetchdf mirror
    fails that second check because pandas widens nullable ints to
    float64 on the oracle side only."""
    tbl = rel.fetch_arrow_table()
    cols = [c.lower() for c in tbl.column_names]
    rows = [tuple(d[c] for c in tbl.column_names) for d in tbl.to_pylist()]
    return cols, rows


def _lines(cols: list[str], rows: list[tuple]) -> list[str]:
    """Rows as normalized lines, columns in name order, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "\x1f".join(_normalize_cell(r[i]) for i in order) for r in rows
    )


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for line in _lines(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _diff_sample(scols, srows, ocols, orows, k: int = 3) -> str:
    """Up to ``k`` rows only Spark returned and ``k`` only DuckDB
    returned, one indented line each, to debug a hash mismatch."""
    s, o = set(_lines(scols, srows)), set(_lines(ocols, orows))
    return "".join(
        f"\n        {side}-only: {line.replace(chr(0x1f), ' | ')}"
        for side, only in (("spark", s - o), ("duck", o - s))
        for line in sorted(only)[:k]
    )


def oracle_connection(sf_dir: str):
    """DuckDB connection with every engine table registered as a
    view over the same parquet the Spark side reads."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_one(spark, con, fn, sql: str | None, sf_dir: str) -> list[str]:
    """Run one named plan on Spark and its oracle on DuckDB; return
    the list of mismatches (empty = green). This is the exact
    comparison the driver's correctness gate applies — shared by
    ``sweep`` and the oracle tests. A hash mismatch carries a sample
    of the differing rows."""
    sdf = fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = [c.lower() for c in sdf.columns]
    if sql is None:
        return []  # rows-only check: reaching here without raising
    ocols, orows = oracle_fetch(con.sql(sql))
    problems = []
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rows spark={len(srows)} duck={len(orows)}")
    if not problems:
        sh = value_hash(scols, srows)
        oh = value_hash(ocols, orows)
        if sh != oh:
            problems.append(f"hash spark={sh} duck={oh}"
                            + _diff_sample(scols, srows, ocols, orows))
    return problems


def select_queries(args: list[str], default_sf: str,
                   window: bool = False) -> tuple[str, dict]:
    """The oracle tools' command line: an optional leading sf dir
    (else ``default_sf``), then query names (none = all). Returns the
    sf dir and the selected queries in ordered_queries() order;
    ``window`` keeps only the driver's leading VERIFICATION_WINDOW.

    Raises SystemExit before any Spark session starts when a name is
    unknown (a mistyped sf dir lands here too) or nothing is
    selected: a typo must not sweep zero queries and report green."""
    from metadata_wrangler_spark.plans import (
        VERIFICATION_WINDOW,
        load_all_plans,
        ordered_queries,
    )

    sf_dir = default_sf
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    load_all_plans()
    qs = ordered_queries()
    unknown = sorted(set(args) - set(qs))
    if unknown:
        raise SystemExit(f"unknown queries (or bad sf dir): {unknown}")
    if window:
        qs = dict(list(qs.items())[:VERIFICATION_WINDOW])
    if args:
        qs = {k: v for k, v in qs.items() if k in args}
    if not qs:
        raise SystemExit("no queries selected -- nothing to verify")
    return sf_dir, qs


def sweep(qs: dict, sf_dir: str, where: str = "") -> int:
    """Run ``check_one`` for every selected query against the tables
    under ``sf_dir``, print one OK/FAIL line per query and a summary
    (``all green<where>``), and return the exit code. The bracketed
    time covers both engines. A query without an oracle is only run,
    so its OK line says ``(no oracle)`` and the summary counts them."""
    from metadata_wrangler_spark.plans import ORACLES

    spark = get_spark()
    con = oracle_connection(sf_dir)
    failures, unchecked = [], []
    for name, fn in qs.items():
        sql = ORACLES.get(name)
        t0 = time.monotonic()
        try:
            problems = check_one(spark, con, fn, sql, sf_dir)
        except Exception as e:  # noqa: BLE001 - inventory, don't stop
            problems = [f"{type(e).__name__}: {str(e)[:160]}"]
        dt = time.monotonic() - t0
        if problems:
            failures.append(name)
            print(f"FAIL  {name} [{dt:.1f}s]: {'; '.join(problems)}",
                  flush=True)
        else:
            if sql is None:
                unchecked.append(name)
            note = " (no oracle)" if sql is None else ""
            print(f"OK    {name} [{dt:.1f}s]{note}", flush=True)
    print()
    if unchecked:
        print(f"{len(unchecked)} / {len(qs)} queries have no oracle "
              f"(run, not compared)")
    if failures:
        print(f"{len(failures)} / {len(qs)} queries diverge{where}:")
        for name in failures:
            print(f"  {name}")
        return 1
    print(f"all green{where}")
    return 0


def main() -> int:
    args = sys.argv[1:]
    sf_dir, qs = select_queries(
        [a for a in args if a != "--window"], "/root/testdata/sf0.01",
        window="--window" in args,
    )
    return sweep(qs, sf_dir)


if __name__ == "__main__":
    raise SystemExit(main())
