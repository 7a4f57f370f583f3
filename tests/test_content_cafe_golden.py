"""Golden-file tests: scrape the reference's OWN Content Cafe page
fixtures (`/root/reference/tests/files/content_cafe/*.html`) and
assert the shapes its `_scrape_list` / `_scrape_one` /
`_extract_title` produce (`/root/reference/content_cafe.py:
315-346`)."""

from __future__ import annotations

import os

from metadata_wrangler_spark.sources import htmlsrc
from tests.conftest import requires_reference

FIXTURES = "/root/reference/tests/files/content_cafe"


def _scrape(spark, name, missing_phrase=None):
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
        html = f.read()
    df = spark.createDataFrame([(name, html)], "doc string, html string")
    return htmlsrc.scrape_content_cafe(
        df, missing_phrase=missing_phrase
    ).collect()[0]


@requires_reference
def test_summaries_scrape_list(spark):
    row = _scrape(spark, "summaries.html")
    assert row["title"] == "Slightly Irregular"
    assert len(row["sections"]) == 5
    assert row["sections"][0].startswith(
        '"The fourth novel in the F.A.T. series')


@requires_reference
def test_reviews_scrape_list(spark):
    row = _scrape(spark, "reviews.html")
    assert row["title"] == "Shadow Thieves"
    assert len(row["sections"]) == 6


@requires_reference
def test_excerpt_scrape_one(spark):
    row = _scrape(spark, "excerpt.html")
    assert row["title"] == "Franklin's Christmas Gift"
    assert row["sections"] == []
    assert row["first_content"]


@requires_reference
def test_author_notes_scrape_one(spark):
    row = _scrape(spark, "author_notes.html")
    assert row["title"] == "Franklin's Christmas Gift"
    assert row["first_content"]


@requires_reference
def test_missing_phrase_short_circuits(spark):
    row = _scrape(
        spark, "summaries.html",
        missing_phrase="The fourth novel in the F.A.T. series",
    )
    assert row["sections"] == []
    assert row["first_content"] is None


def test_known_bad_title_nulls_out(spark):
    html = (
        '<span class="PageHeader2">No title available.</span>'
        '<table id="Table_Main"><tr><td>content</td></tr></table>'
    )
    df = spark.createDataFrame([("d", html)], "doc string, html string")
    row = htmlsrc.scrape_content_cafe(df).collect()[0]
    assert row["title"] is None
    assert row["first_content"] == "content"
