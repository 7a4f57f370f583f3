"""Golden-file tests: run the VariantType contributor extractor on
the reference's OWN OCLC person-entity JSON-LD fixtures
(`/root/reference/tests/files/oclc/`) and assert exactly what the
reference's `test_extract_contributor` asserts
(`/root/reference/tests/oclc_/test_linked_data.py:59-80`):
polymorphic name fields (string | en-dict | mixed list), the
punctuation-normalized best-name vote with longest-tie-break, the
leading-family-name strip, and birth-year extraction."""

from __future__ import annotations

import os

from metadata_wrangler_spark.sources import jsonld
from tests.conftest import requires_reference

pytestmark = requires_reference

FIXTURES = "/root/reference/tests/files/oclc"


def _contributors(spark, name):
    with open(os.path.join(FIXTURES, f"{name}.jsonld"),
              encoding="utf-8") as f:
        doc = f.read()
    df = spark.createDataFrame([(name, doc)], "doc string, jsonld string")
    return jsonld.extract_contributors(df).collect()


def test_sloane_crosley_scalar_names(spark):
    [r] = _contributors(spark, "sloane_crosley")
    assert r["display_name"] == "Sloane Crosley"
    assert r["family_name"] == "Crosley"


def test_flanagan_multiname_vote_and_family_strip(spark):
    """name is a mixed list (no-no dict, en dict, plain strings,
    Japanese); familyName votes Flanagan over John on the longest
    tie-break; the winning display name 'Flanagan John Anthony
    Flanagan' loses its leading family name."""
    [r] = _contributors(spark, "john_flanagan_multiname")
    assert r["display_name"] == "John Anthony Flanagan"
    assert r["family_name"] == "Flanagan"
    assert r["birth_year"] == "1944"


def test_anne_rice_popularity_vote(spark):
    [r] = _contributors(spark, "anne_rice")
    assert r["display_name"] == "Anne O'Brien Rice"
    assert r["family_name"] == "O'Brien Rice"
    assert r["birth_year"] == "1941"


def test_galapagos_person_node(spark):
    [r] = _contributors(spark, "galapagos")
    assert r["display_name"] == "Kurt Vonnegut"
    assert r["family_name"] == "Vonnegut"


def test_no_author_doc_has_no_person_rows(spark):
    assert _contributors(spark, "no_author_only_contributor") == []
