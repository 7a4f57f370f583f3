"""Cached HTTP fetch (SURVEY.md S1) — the `Representation.get`
pattern: serve a URL from the cache table unless the entry is
missing or older than ``max_age``; fetch (batched) otherwise and
union the results back.

Reference: `/root/reference/viaf.py:829-841,845-853` (Representation
.get with max_age), `:736-737` (6-month TTL),
`/root/reference/oclc/classify.py:1082-1084`,
`/root/reference/oclc/linked_data.py:226-246`.

Spark design: requests LEFT JOIN cache on url; rows with a fresh
cache hit short-circuit; the miss/stale partition goes through a
fetcher `arrow_stage` (Arrow-batched — one connection pool per
partition, never per row). The union is the post-state a cache
MERGE would persist. At 100 TB of requests this is one join keyed
on url + a fetch stage sized by `repartition` (the reference's
batch-size knobs become partition counts).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metadata_wrangler_spark.operators.arrow_stage import arrow_stage

FETCH_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("content", T.StringType()),
])


def fake_fetcher(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in for the HTTP pool (no network in the
    test container): content = 'fetched:' + url. Real deployments
    swap in a requests.Session per partition with the same
    signature."""
    for pdf in batches:
        yield pd.DataFrame({
            "url": pdf["url"],
            "content": "fetched:" + pdf["url"],
        })


def cached_get(
    requests: DataFrame,
    cache: DataFrame,
    now,
    max_age_seconds: int,
    fetcher: Callable = fake_fetcher,
) -> DataFrame:
    """Resolve each requested url: fresh cache rows are served
    as-is; missing/stale urls are fetched in Arrow batches.

    requests: (url) — deduplicated by this function.
    cache:    (url, content, fetched_at TIMESTAMP)
    Returns (url, content, source) with source ∈ {'cache','fetch'}.
    """
    req = requests.select("url").dropDuplicates()
    now_ts = F.lit(now).cast("timestamp")
    fresh = (
        F.col("fetched_at").isNotNull()
        & (F.unix_timestamp(now_ts) - F.unix_timestamp("fetched_at")
           <= F.lit(max_age_seconds))
    )
    joined = req.join(cache, "url", "left").select(
        "url", "content", fresh.alias("is_fresh")
    )

    # Single-pass hit/miss resolution (round 9): the old spelling
    # filtered `joined` twice (hits branch + misses branch) and
    # unioned — Spark executed the request⨝cache subtree TWICE and
    # paid an extra union leg, the dominant stage-count tax of
    # pipe_provider_end_to_end. One Arrow pass serves fresh rows
    # from the batch and routes only the miss slice through the
    # fetcher. The fetcher is still invoked at most ONCE per
    # partition, fed a lazy generator of miss batches — the
    # one-connection-pool-per-partition seam contract
    # (tests/test_seam_contracts.py) is unchanged.
    def resolve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending_hits: list[pd.DataFrame] = []

        def split_hits(pdf: pd.DataFrame) -> pd.DataFrame:
            """Buffer pdf's fresh rows as served hits; return misses."""
            is_fresh = pdf["is_fresh"].fillna(False).astype(bool)
            h = pdf[is_fresh]
            if len(h):
                pending_hits.append(
                    pd.DataFrame(
                        {
                            "url": h["url"],
                            "content": h["content"],
                            "source": "cache",
                        }
                    )
                )
            return pdf[~is_fresh]

        def miss_batches() -> Iterator[pd.DataFrame]:
            for pdf in batches:
                m = split_hits(pdf)
                if len(m):
                    yield m[["url"]]

        for fetched in fetcher(miss_batches()):
            parts = list(pending_hits)
            pending_hits.clear()
            out = pd.DataFrame(
                {
                    "url": fetched["url"],
                    "content": fetched["content"],
                    "source": "fetch",
                }
            )
            parts.append(out)
            yield pd.concat(parts, ignore_index=True)
        # A custom fetcher may return without exhausting its input
        # iterator (early exit, exception-swallowing wrapper); the
        # undrained batches still hold cache HITS that this operator
        # — not the fetcher — is responsible for serving. Drain them
        # for their hits (the old two-branch spelling served hits
        # unconditionally; ADVICE round 9). Their misses stay
        # unfetched: the fetcher declined them, and inventing a
        # second fetcher invocation would break the at-most-once
        # seam contract.
        for pdf in batches:
            split_hits(pdf)
        # partitions whose tail batches were all cache hits
        if pending_hits:
            yield pd.concat(pending_hits, ignore_index=True)

    return arrow_stage(
        joined, "src_http_cache_resolve",
        "url string, content string, source string", resolve, fold=True,
    )
