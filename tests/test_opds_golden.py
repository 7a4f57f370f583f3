"""Golden-file tests: parse the reference's OWN OPDS lookup-feed
fixtures (`/root/reference/tests/files/opds/`) — a found work
(entry row) and an unknown work (OPDSMessage 404 row), the two
response shapes of the lookup controller
(`/root/reference/controller.py:566-641`)."""

from __future__ import annotations

import os

from metadata_wrangler_spark.sources import opds
from tests.conftest import requires_reference

pytestmark = requires_reference

FIXTURES = "/root/reference/tests/files/opds"


def _df(spark, name):
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
        xml = f.read()
    return spark.createDataFrame([(name, xml)], "doc string, feed string")


def test_lookup_feed_entry(spark):
    rows = opds.parse_feed(_df(spark, "content_server_lookup.opds"),
                           "feed").collect()
    assert len(rows) == 1
    assert rows[0]["urn"] == "http://www.gutenberg.org/ebooks/20201"
    assert rows[0]["title"] == "Mary Gray"
    assert rows[0]["updated"] is not None


def test_lookup_feed_has_no_messages(spark):
    rows = opds.parse_messages(
        _df(spark, "content_server_lookup.opds"), "feed").collect()
    assert rows == []


def test_no_such_work_message(spark):
    rows = opds.parse_messages(_df(spark, "no_such_work.opds"),
                               "feed").collect()
    assert len(rows) == 1
    assert rows[0]["urn"] == "http://www.gutenberg.org/ebooks/2020110"
    assert rows[0]["status_code"] == 404
    assert rows[0]["description"] == "I've never heard of this work."


def test_no_such_work_has_no_entries(spark):
    rows = opds.parse_feed(_df(spark, "no_such_work.opds"),
                           "feed").collect()
    assert rows == []
