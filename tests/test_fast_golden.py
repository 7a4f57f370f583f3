"""Golden-file test: load the reference's OWN gzipped N-Triples
FAST fixtures (`/root/reference/tests/files/fast/not-consolidated/
FAST/*.nt.gz`) through the distributed scan and assert the exact
identifier→name mapping the reference's test asserts
(`/root/reference/tests/test_fast.py:36-42`).

The extraction rule is the reference's `triple_re`
(`/root/reference/fast.py:22`): subject fast/<digits>, predicate
schema.org[#/]name — NOT skos prefLabel (1726280 carries both; only
the schema.org name "Filmed roundtables" is correct)."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_wrangler_spark.sources import ntriples
from tests.conftest import requires_reference

pytestmark = requires_reference

FIXTURES = "/root/reference/tests/files/fast/not-consolidated/FAST"


def test_fast_names_from_gzipped_ntriples(spark):
    # .gz decompression is transparent to the text scan; the glob
    # skips the directory's random_junk file exactly as the
    # reference's extension check does.
    lines = spark.read.text(f"{FIXTURES}/*.nt.gz")
    triples = ntriples.parse_lines(lines, subject_re=r"fast/([0-9]+)$")
    named = triples.where(
        F.col("predicate").rlike(r"^http://schema\.org[#/]name$")
    )
    got = {r["subject_id"]: r["obj"] for r in named.collect()}
    assert got == {
        "1726280": "Filmed roundtables",
        "631903": "New Yorker (Fireboat)",
        "1750175": "Short stories, American",
    }
