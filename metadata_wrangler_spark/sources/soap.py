"""SOAP source (SURVEY.md S2) — the Content Cafe demand-history
batch RPC re-expressed as an Arrow-batched fetch stage.

Reference: `/root/reference/content_cafe.py:351-394` (zeep SOAP
`Single(userID, …)` per identifier; response rows are per-month
demand numbers), consumed by the monthly-bucket aggregation at
`:384-394`.

Spark design: identifiers flow through an `arrow_stage` with a
pluggable transport — one SOAP client per PARTITION, batch of
identifiers per call, many rows out per identifier (UDTF shape).
The in-container default transport is a deterministic fake; a real
deployment passes a zeep-backed callable with the same signature.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from metadata_wrangler_spark.operators.arrow_stage import arrow_stage

DEMAND_SCHEMA = T.StructType([
    T.StructField("identifier_id", T.LongType()),
    T.StructField("month_no", T.IntegerType()),
    T.StructField("demand", T.LongType()),
])


def fake_transport(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic demand history: 6 months per identifier,
    demand = (id * 31 + month) % 97. Mirrors the response shape of
    the reference's `Single()` call."""
    for pdf in batches:
        ids = pdf["identifier_id"].to_numpy()
        rows = {
            "identifier_id": [], "month_no": [], "demand": [],
        }
        for i in ids:
            for m in range(1, 7):
                rows["identifier_id"].append(int(i))
                rows["month_no"].append(m)
                rows["demand"].append(int((int(i) * 31 + m) % 97))
        yield pd.DataFrame(rows)


def demand_history(
    identifiers: DataFrame,
    transport: Callable = fake_transport,
) -> DataFrame:
    """(identifier_id) in → (identifier_id, month_no, demand) out —
    the batched SOAP fan-out. Partition count controls RPC
    concurrency (the reference's batch-size knob)."""
    return arrow_stage(
        identifiers.select("identifier_id"), "src_soap_demand",
        DEMAND_SCHEMA, transport, fold=True,
    )
