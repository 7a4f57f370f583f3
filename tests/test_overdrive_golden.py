"""Golden-file test: parse the reference's own Overdrive metadata
fixture and assert the values its record publishes.

Fixture: /root/reference/tests/files/overdrive/overdrive_metadata.json
(read-only reference content — asserted, never copied).
"""

from __future__ import annotations

from metadata_wrangler_spark.sources import overdrive
from tests.conftest import requires_reference

pytestmark = requires_reference

FIXTURE = "/root/reference/tests/files/overdrive/overdrive_metadata.json"


def test_overdrive_fixture_parses_to_reference_values(spark):
    raw = open(FIXTURE, encoding="utf-8").read()
    df = spark.createDataFrame([(1, raw)], "rec_id bigint, payload string")
    row = overdrive.parse_overdrive(df, "payload", ["rec_id"]).collect()[0]

    assert row["overdrive_id"] == "3896665d-9d81-4cac-bd43-ffc5066de1f5"
    assert row["title"] == "Agile Documentation"
    assert row["subtitle"].startswith("A Pattern Guide")
    assert row["series"] == "Wiley Software Patterns"
    assert row["publisher"] == "Wiley"
    assert row["imprint"] == "John Wiley & Sons, Inc."
    assert row["medium"] == "eBook"
    # creators[].fileAs is the contributor sort name
    assert row["primary_author"] == "Rüping, Andreas"
    assert row["n_creators"] == 1
    assert row["languages"] == ["en"]
    assert row["subjects"] == ["Computer Technology", "Nonfiction"]
    # ISBN from the PDF format; the Kindle ASINs (one empty) are noise
    assert row["isbns"] == ["9780470856246"]
    assert row["cover_href"].startswith(
        "http://images.contentreserve.com/ImageType-100/"
    )
    assert row["popularity"] == 2
