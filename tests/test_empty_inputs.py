"""Every registered query must RUN on empty input tables.

An empty partition of data is routine in production — a day with no
events, a source that delivered nothing, a filter that matched zero
rows upstream — and "crashes on empty" is the classic boundary bug
in driver-side matrix collects (`.shape` unpacks) and scalar
denominators. This sweep runs ALL registered queries against a
schema-identical but zero-row mirror of the testdata and asserts
none raises; results may legitimately be empty or NULL-valued.

Found by the first run of this sweep (round 5) and fixed:
  - cosine_topk_arrow unpacked `qm.shape` on a 0-row query matrix
    (operators/similarity.py) — now returns a typed empty result,
    matching the guard the LSH scorer already had;
  - ev_funnel_bounded divided by a zero view count
    (plans/events.py) — now NULL via nullif, non-empty unchanged.
"""

from __future__ import annotations

import os

import pytest

SRC = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


# The round-5 "every query RUNS on empty tables" sweep that lived
# here was superseded in round 8 by tests/test_empty_ladder.py,
# which is strictly stronger: every query must HASH-MATCH its
# DuckDB oracle on the zero-row mirror (oracle-less queries keep
# the rows-only run check). The NULL-content crash sweep below
# remains: it NULLs payload columns the oracle ladders leave alone.

NULLABLE_CONTENT = {
    "documents": ("doc_id", ["text", "source", "lang", "url"]),
    "embeddings": ("vec_id", ["embedding", "label"]),
    "events": ("user_id", ["props"]),
    "customer": ("c_custkey", ["c_comment", "c_phone"]),
    "part": ("p_partkey", ["p_comment"]),
    "orders": ("o_orderkey", ["o_comment"]),
    "lineitem": ("l_orderkey", ["l_comment"]),
    "supplier": ("s_suppkey", ["s_comment"]),
}


@pytest.fixture(scope="module")
def nulls_dir(spark, tmp_path_factory):
    """Mirror of sf0.001 with every CONTENT column nulled on odd
    keys (keys and FKs stay intact, so joins still resolve)."""
    from pyspark.sql import functions as F

    from metadata_wrangler_spark.catalog import load

    dst = str(tmp_path_factory.mktemp("sf_nulls"))
    for t in TABLES:
        df = load(spark, SRC, t)
        key, cols = NULLABLE_CONTENT.get(t, (None, []))
        for c in (c for c in cols if c in df.columns):
            df = df.withColumn(
                c,
                F.when(F.col(key) % 2 == 0, F.col(c)).otherwise(
                    F.lit(None)
                ),
            )
        df.write.mode("overwrite").parquet(os.path.join(dst, t + ".parquet"))
    return dst


def test_every_query_runs_with_null_content(spark, nulls_dir):
    """NULL text / embeddings / props / comments must never crash a
    query — null payloads are EXCLUDED (the SQL-aggregate rule),
    implemented JVM-side at each operator entry so nothing NULL ever
    crosses the Arrow boundary. First run of this sweep (round 5)
    found 8 crashes, all numpy over a None vector/payload, fixed in
    operators/similarity.py, operators/multimodal.py, and
    mm_binary_features."""
    from metadata_wrangler_spark.plans import QUERIES, load_all_plans

    load_all_plans()
    failures = {}
    for name, fn in QUERIES.items():
        try:
            fn(spark, nulls_dir).collect()
        except Exception as e:  # noqa: BLE001 - we report them all
            failures[name] = f"{type(e).__name__}: {str(e)[:140]}"
    assert not failures, f"{len(failures)} queries crash on nulls: {failures}"
