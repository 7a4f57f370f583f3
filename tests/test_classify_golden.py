"""Golden-file tests: parse the reference's OWN OCLC Classify
fixtures (`/root/reference/tests/files/oclc_classify/`) with the
full-response parser and assert the same facts the reference's
parser tests assert (`/root/reference/tests/oclc_/
test_classify_xml_parser.py`): response codes, work ids, author
lc/viaf, and FAST/DDC/LCC subject extraction with the
holdings|heldby / ident|nsfa|sfa precedence rules."""

from __future__ import annotations

import os

from metadata_wrangler_spark.sources import xmlsrc
from tests.conftest import requires_reference

pytestmark = requires_reference

FIXTURES = "/root/reference/tests/files/oclc_classify"


def _load(spark, name):
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
        xml = f.read()
    df = spark.createDataFrame([(name, xml)], "doc string, xml string")
    return xmlsrc.parse_classify_response(df).collect()[0]


def test_single_work_detail(spark):
    row = _load(spark, "single_work_48446512.xml")
    assert row["code"] == xmlsrc.SINGLE_WORK_DETAIL_STATUS
    assert [w["owi"] for w in row["works"]] == [48446512]
    w = row["works"][0]
    assert w["title"] == "So long, and thanks for all the fish"
    assert w["author"].startswith("Adams, Douglas")
    assert (w["editions"], w["holdings"]) == (115, 3432)
    assert [(a["name"], a["lc"], a["viaf"]) for a in row["authors"]] == [
        ("Adams, Douglas, 1952-2001", "n80076765", "113230702")
    ]
    subjects = {(s["stype"], s["identifier"]): (s["weight"], s["name"])
                for s in row["subjects"]}
    # FAST heading: weight from heldby, name from element text
    assert subjects[("FAST", "890366")] == (
        3504, "Dent, Arthur (Fictitious character)")
    # DDC/LCC mostPopular: weight from holdings, identifier nsfa|sfa
    assert subjects[("DDC", "823.914")] == (3500, None)
    assert subjects[("LCC", "PR6051.D3352")] == (3363, None)


def test_multi_work_with_owis(spark):
    row = _load(spark, "multi_work_with_owis.xml")
    assert row["code"] == xmlsrc.MULTI_WORK_STATUS
    owis = [w["owi"] for w in row["works"]]
    assert 48446512 in owis and 48525129 in owis
    assert len(owis) >= 2
    assert row["authors"] == []


def test_malformed_document_degrades_to_nulls(spark):
    """multi_work_response.xml is NOT well-formed XML (unescaped
    quotes inside a title attribute — stdlib ElementTree rejects it
    at line 26). A malformed payload must null out, not kill the
    job: at 100 TB a poison document cannot fail the stage."""
    row = _load(spark, "multi_work_response.xml")
    assert row["code"] is None
    assert row["works"] == [] and row["authors"] == [] \
        and row["subjects"] == []


def test_jane_eyre_multi_work(spark):
    row = _load(spark, "jane_eyre.xml")
    assert row["code"] == xmlsrc.MULTI_WORK_STATUS
    assert len(row["works"]) > 0
    titles = " ".join(w["title"] or "" for w in row["works"])
    assert "Jane Eyre" in titles


def test_not_found(spark):
    row = _load(spark, "isbn_not_found.xml")
    assert row["code"] == xmlsrc.NOT_FOUND_STATUS
    assert row["works"] == [] and row["authors"] == [] \
        and row["subjects"] == []


def test_single_work_no_authors(spark):
    row = _load(spark, "single_work_no_authors.xml")
    assert row["code"] in (
        xmlsrc.SINGLE_WORK_SUMMARY_STATUS,
        xmlsrc.SINGLE_WORK_DETAIL_STATUS,
    )
    assert row["authors"] == []
