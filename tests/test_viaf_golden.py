"""Golden-file tests: parse the reference's OWN VIAF SRU fixtures
(`/root/reference/tests/files/viaf/`) and assert the facts the
reference's tests assert (`/root/reference/tests/test_viaf.py`):
wikipedia-name extraction (incl. the Wikidata-id exclusion), viafID
extraction, and the mainHeadings sort-name vote."""

from __future__ import annotations

import os

from metadata_wrangler_spark.sources import viafsrc
from tests.conftest import requires_reference

FIXTURES = "/root/reference/tests/files/viaf"


def _clusters(spark, name):
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
        xml = f.read()
    df = spark.createDataFrame([(name, xml)], "doc string, xml string")
    return viafsrc.parse_viaf_clusters(df)


@requires_reference
def test_will_eisner_wikipedia_name(spark):
    rows = _clusters(spark, "will_eisner.xml").collect()
    assert len(rows) == 1
    assert rows[0]["viaf_id"] == "10455"
    assert rows[0]["wikipedia_name"] == "Will_Eisner"


@requires_reference
def test_mark_twain_wikipedia_name(spark):
    rows = _clusters(spark, "mark_twain.xml").collect()
    assert rows[0]["wikipedia_name"] == "Mark_Twain"


@requires_reference
def test_mark_twain_without_wikipedia(spark):
    rows = _clusters(spark, "mark_twain_no_wikipedia.xml").collect()
    assert rows[0]["wikipedia_name"] is None


def test_wikidata_id_is_not_a_wikipedia_name(spark):
    xml = (
        '<VIAFCluster><viafID>1</viafID>'
        "<sources><source>WKP|Q5603557</source></sources>"
        "</VIAFCluster>"
    )
    df = spark.createDataFrame([("d", xml)], "doc string, xml string")
    rows = viafsrc.parse_viaf_clusters(df).collect()
    assert rows[0]["wikipedia_name"] is None


@requires_reference
def test_mindy_kaling_sort_name_vote(spark):
    clusters = _clusters(spark, "mindy_kaling.xml")
    rows = clusters.collect()
    assert any("Kaling, Mindy" in r["sort_names"] for r in rows)
    top = {r["viaf_id"]: r["sort_name"]
           for r in viafsrc.top_sort_name(clusters).collect()}
    assert "Kaling, Mindy" in top.values()


@requires_reference
def test_multi_cluster_response(spark):
    rows = _clusters(spark, "john_jewel_all_viaf.xml").collect()
    assert len(rows) > 1
    with_ids = [r for r in rows if r["viaf_id"]]
    assert len(with_ids) >= 1
    assert all(r["viaf_id"].isdigit() for r in with_ids)
