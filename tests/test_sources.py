"""Golden-fixture parser tests — the reference's test style
(`/root/reference/tests/files/` corpus): hand-written documents in,
field-level assertions out."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_wrangler_spark.sources import (
    htmlsrc,
    http_cache,
    jsonld,
    marc,
    ntriples,
    opds,
    overdrive,
    viafsrc,
    xmlsrc,
)

MULTI_WORK_XML = (
    '<classify><workList>'
    '<work title="Moby Dick" author="Melville, Herman" owi="11" '
    'editions="5" holdings="100"/>'
    '<work title="Moby Dick; or, The Whale" author="Melville, Herman" '
    'owi="12" editions="2" holdings="40"/>'
    '</workList></classify>'
)

NOT_FOUND_XML = "<classify><response code='102'/></classify>"


def test_classify_xml_multi_work(spark):
    df = spark.createDataFrame([(1, MULTI_WORK_XML)], "doc_id int, xml string")
    out = xmlsrc.parse_classify(df).orderBy("owi").collect()
    assert [(r["owi"], r["title"], r["editions"], r["holdings"])
            for r in out] == [
        (11, "Moby Dick", 5, 100),
        (12, "Moby Dick; or, The Whale", 2, 40),
    ]
    assert out[0]["author"] == "Melville, Herman"


def test_classify_xml_not_found_yields_no_rows(spark):
    df = spark.createDataFrame([(1, NOT_FOUND_XML)], "doc_id int, xml string")
    assert xmlsrc.parse_classify(df).count() == 0


JSONLD_DOC = """
{"graph": [
  {"id": "person/9", "type": "Person",
   "name": [{"language": "fr", "value": "Jules Verne (fr)"},
            {"language": "en", "value": "Jules Verne"}]},
  {"id": "place/3", "type": "Place",
   "name": [{"language": "en", "value": "Nantes"}]}
]}
"""


def test_jsonld_type_filter_and_language_restriction(spark):
    df = spark.createDataFrame([(1, JSONLD_DOC)], "doc_id int, jsonld string")
    out = jsonld.parse_typed_names(df, type_name="Person", language="en")
    assert [(r["node_id"], r["name"]) for r in out.collect()] == [
        ("person/9", "Jules Verne")
    ]
    places = jsonld.parse_typed_names(df, type_name="Place", language="en")
    assert [(r["node_id"], r["name"]) for r in places.collect()] == [
        ("place/3", "Nantes")
    ]


MARC_DOC = """
{"varFields": [
  {"marcTag": "245", "subfields": [{"tag": "a", "content": "The Title"}]},
  {"marcTag": "100", "subfields": [{"tag": "a", "content": "Author, A."}]},
  {"marcTag": "650", "subfields": [{"tag": "a", "content": "Whaling"}]},
  {"marcTag": "650", "subfields": [{"tag": "a", "content": "Adventure"}]},
  {"marcTag": "999", "subfields": [{"tag": "a", "content": "ignored"}]}
]}
"""


def test_marc_tag_routing(spark):
    df = spark.createDataFrame([(7, MARC_DOC)], "doc_id int, marc string")
    r = marc.parse_varfields(df, "marc", ["doc_id"]).collect()[0]
    assert r["title"] == "The Title"
    assert r["author"] == "Author, A."
    assert r["isbn"] is None          # no 020 in this record
    assert r["subjects"] == ["Adventure", "Whaling"]   # sorted
    assert r["n_subjects"] == 2


NT_LINES = [
    '<http://id.worldcat.org/fast/801923> <http://schema.org/name> "Whales" .',
    "# a comment line",
    '<http://id.worldcat.org/fast/801923> <http://schema.org/sameAs> "x" .',
    'malformed line without triples',
    '<http://id.worldcat.org/fast/5> <http://schema.org/name> "Ships" .',
]


def test_ntriples_predicate_filter_and_noise(spark):
    df = spark.createDataFrame([(s,) for s in NT_LINES], "value string")
    out = ntriples.parse_lines(
        df, predicate="http://schema.org/name", subject_re=r"fast/([0-9]+)$"
    )
    got = sorted((r["subject_id"], r["obj"]) for r in out.collect())
    assert got == [("5", "Ships"), ("801923", "Whales")]


HTML_DOC = (
    '<html><body><table>'
    '<tr><td class="title">No title available.</td></tr>'
    '<tr><td class="review">Great book</td></tr>'
    '<tr><td class="review">Meh</td></tr>'
    '</table></body></html>'
)


def test_html_bad_title_blacklist(spark):
    df = spark.createDataFrame([(1, HTML_DOC)], "doc_id int, html string")
    r = htmlsrc.scrape_cells(df).collect()[0]
    assert r["title"] is None
    assert r["reviews"] == ["Great book", "Meh"]
    assert r["n_reviews"] == 2


OPDS_DOC = (
    "<feed>"
    "<entry><id>urn:isbn:9781</id><title>Book One</title>"
    "<updated>2024-02-03T04:05:06Z</updated></entry>"
    "<entry><id>urn:isbn:9782</id><title>Book Two</title>"
    "<updated>2024-02-04T00:00:00Z</updated></entry>"
    "</feed>"
)


def test_opds_feed_entries(spark):
    df = spark.createDataFrame([(1, OPDS_DOC)], "doc_id int, feed string")
    out = opds.parse_feed(df).orderBy("urn").collect()
    assert [(r["urn"], r["title"]) for r in out] == [
        ("urn:isbn:9781", "Book One"), ("urn:isbn:9782", "Book Two"),
    ]
    assert str(out[0]["updated"]) == "2024-02-03 04:05:06"


def test_cached_get_fresh_stale_missing(spark):
    requests = spark.createDataFrame(
        [("u1",), ("u2",), ("u3",)], "url string"
    )
    cache = spark.createDataFrame(
        [("u1", "cached:u1", "2024-01-10 00:00:00"),   # fresh
         ("u2", "cached:u2", "2023-01-01 00:00:00")],  # stale
        "url string, content string, fetched_at string",
    ).withColumn("fetched_at", F.col("fetched_at").cast("timestamp"))
    out = http_cache.cached_get(
        requests, cache, now="2024-01-15 00:00:00",
        max_age_seconds=30 * 24 * 3600,
    )
    got = {r["url"]: (r["content"], r["source"]) for r in out.collect()}
    assert got == {
        "u1": ("cached:u1", "cache"),
        "u2": ("fetched:u2", "fetch"),
        "u3": ("fetched:u3", "fetch"),
    }


# --- hand-written documents for the parsers whose golden tests read
# the reference fixture snapshot (tests/test_*_golden.py) -------------

CLASSIFY_DETAIL_XML = (
    '<classify xmlns="http://classify.oclc.org">'
    '<response code="2"/>'
    '<work author="Shelley, Mary | Smith, Ann" editions="12" '
    'holdings="340" owi="777">Frankenstein</work>'
    '<authors><author lc="n00000001" viaf="900001">'
    'Shelley, Mary, 1797-1851</author></authors>'
    '<recommendations>'
    '<fast><headings>'
    '<heading heldby="310" ident="1001">Monsters</heading>'
    '<heading heldby="25" ident="1002">Scientists</heading>'
    '</headings></fast>'
    '<ddc><mostPopular holdings="300" nsfa="823.7" sfa="823"/></ddc>'
    '<lcc><mostPopular holdings="280" sfa="PR5397"/></lcc>'
    '</recommendations>'
    '</classify>'
)

CLASSIFY_MULTI_XML = (
    '<classify><response code="4"/><works>'
    '<work editions="9" holdings="90" owi="801" title="Dracula"/>'
    '<work editions="2" holdings="15" owi="802" title="Dracula (play)"/>'
    '</works></classify>'
)


def test_classify_response_codes_works_authors_subjects(spark):
    df = spark.createDataFrame(
        [("detail", CLASSIFY_DETAIL_XML), ("multi", CLASSIFY_MULTI_XML),
         ("missing", NOT_FOUND_XML),
         ("broken", '<classify><work title="unclosed "quote"/>')],
        "doc string, xml string",
    )
    got = {r["doc"]: r for r in xmlsrc.parse_classify_response(df).collect()}

    d = got["detail"]
    assert d["code"] == xmlsrc.SINGLE_WORK_DETAIL_STATUS
    assert [(w["owi"], w["author"], w["editions"], w["holdings"])
            for w in d["works"]] == [(777, "Shelley, Mary | Smith, Ann",
                                      12, 340)]
    assert [(a["name"], a["lc"], a["viaf"]) for a in d["authors"]] == [
        ("Shelley, Mary, 1797-1851", "n00000001", "900001")
    ]
    # FAST: weight from heldby, name from the element text; DDC/LCC
    # mostPopular: weight from holdings, identifier nsfa, else sfa
    assert [(s["stype"], s["identifier"], s["weight"], s["name"])
            for s in d["subjects"]] == [
        ("FAST", "1001", 310, "Monsters"),
        ("FAST", "1002", 25, "Scientists"),
        ("DDC", "823.7", 300, None),
        ("LCC", "PR5397", 280, None),
    ]

    m = got["multi"]
    assert m["code"] == xmlsrc.MULTI_WORK_STATUS
    assert [(w["owi"], w["title"]) for w in m["works"]] == [
        (801, "Dracula"), (802, "Dracula (play)")
    ]
    assert m["authors"] == [] and m["subjects"] == []

    assert got["missing"]["code"] == xmlsrc.NOT_FOUND_STATUS
    # a malformed payload nulls out instead of failing the job
    b = got["broken"]
    assert b["code"] is None
    assert b["works"] == [] and b["authors"] == [] and b["subjects"] == []


CONTENT_CAFE_LIST_HTML = """<html><body>
<span class="PageHeader2">The Night Garden</span>
<table>
<tr><td class="SectionHeader">Review 1</td></tr>
<tr><td>  A slow, lovely book.  </td></tr>
<tr><td class="SectionHeader">Review 2</td></tr>
<tr><td>Too long.</td></tr>
<tr><td class="SectionHeader">Review 3</td></tr>
<tr><td>A slow, lovely book.</td></tr>
<tr><td class="SectionHeader">Review 4</td></tr>
<tr><td>   </td></tr>
</table></body></html>"""

CONTENT_CAFE_ONE_HTML = """<html><body>
<span class="PageHeader2">The Night Garden</span>
<table id="Table_Main"><tr><td> Chapter one begins here. </td></tr>
<tr><td>second row</td></tr></table></body></html>"""


def test_content_cafe_list_and_single_pages(spark):
    df = spark.createDataFrame(
        [("list", CONTENT_CAFE_LIST_HTML), ("one", CONTENT_CAFE_ONE_HTML)],
        "doc string, html string",
    )
    got = {r["doc"]: r for r in htmlsrc.scrape_content_cafe(df).collect()}
    # list page: the row after each SectionHeader, stripped, with
    # whitespace-only and repeated sections dropped
    assert got["list"]["title"] == "The Night Garden"
    assert got["list"]["sections"] == ["A slow, lovely book.", "Too long."]
    # single page: Table_Main's first cell
    assert got["one"]["sections"] == []
    assert got["one"]["first_content"] == "Chapter one begins here."

    gone = htmlsrc.scrape_content_cafe(
        df, missing_phrase="Too long."
    ).where(F.col("doc") == "list").collect()[0]
    assert gone["sections"] == [] and gone["first_content"] is None


PERSON_JSONLD = """{"@graph": [
  {"@id": "person/1", "@type": "schema:Person",
   "name": ["Shelley, Mary Wollstonecraft",
            {"@language": "fr", "@value": "Marie Shelley"},
            {"@language": "en", "@value": "Shelley Mary Wollstonecraft"},
            "Mary Shelley",
            "メアリー"],
   "familyName": ["Shelley", {"@language": "en", "@value": "Shelley"},
                  "Wollstonecraft"],
   "birthDate": "1797-08-30", "deathDate": "1851"},
  {"@id": "person/2", "@type": "schema:Person",
   "name": ["Ann Radcliffe", "Ann Ward Radcliffe"],
   "familyName": ["Radcliffe", "Ward Radcliffe"]},
  {"@id": "work/9", "@type": "schema:CreativeWork", "name": "Frankenstein"}
]}"""


def test_jsonld_contributor_name_vote(spark):
    df = spark.createDataFrame(
        [("people", PERSON_JSONLD),
         ("no_person", '{"@graph": [{"@id": "w", "@type": "schema:Book"}]}')],
        "doc string, jsonld string",
    )
    got = {r["node_id"]: r for r in jsonld.extract_contributors(df).collect()}
    assert set(got) == {"person/1", "person/2"}
    # polymorphic names: strings and en dicts count, a fr dict and a
    # non-Latin name do not; punctuation-normalized "Shelley Mary
    # Wollstonecraft" wins the vote 2-1 and loses its leading
    # family name
    p1 = got["person/1"]
    assert p1["family_name"] == "Shelley"
    assert p1["display_name"] == "Mary Wollstonecraft"
    assert (p1["birth_year"], p1["death_year"]) == ("1797", "1851")
    # one vote each: the longest name wins
    p2 = got["person/2"]
    assert (p2["display_name"], p2["family_name"]) == (
        "Ann Ward Radcliffe", "Ward Radcliffe")
    assert p2["birth_year"] is None


def test_jsonld_contributor_list_valued_dates(spark):
    """A list-valued birthDate/deathDate reads its first element; an
    empty list is a missing date."""
    doc = """{"@graph": [
      {"@id": "person/3", "@type": "schema:Person", "name": "Mary Shelley",
       "birthDate": ["1797-08-30", "1797"], "deathDate": ["1851"]},
      {"@id": "person/4", "@type": "schema:Person", "name": "Ann Radcliffe",
       "birthDate": [], "deathDate": "1823-02-07"}
    ]}"""
    df = spark.createDataFrame([("lists", doc)], "doc string, jsonld string")
    got = {
        r["node_id"]: (r["birth_year"], r["death_year"])
        for r in jsonld.extract_contributors(df).collect()
    }
    assert got == {"person/3": ("1797", "1851"), "person/4": (None, "1823")}


OPDS_MESSAGES_FEED = (
    '<feed xmlns="http://www.w3.org/2005/Atom" '
    'xmlns:simplified="http://librarysimplified.org/terms/" '
    'xmlns:schema="http://schema.org/">'
    '<title>Lookup</title>'
    '<simplified:message><id>urn:isbn:9780000000001</id>'
    '<simplified:status_code>404</simplified:status_code>'
    '<schema:description>Unknown work.</schema:description>'
    '</simplified:message>'
    '<simplified:message><id>urn:isbn:9780000000002</id>'
    '<simplified:status_code>202</simplified:status_code>'
    '<schema:description>Being processed.</schema:description>'
    '</simplified:message>'
    '</feed>'
)


def test_opds_messages_and_entries_are_disjoint(spark):
    df = spark.createDataFrame(
        [(1, OPDS_MESSAGES_FEED), (2, OPDS_DOC)], "doc_id int, feed string"
    )
    msgs = opds.parse_messages(df).orderBy("urn").collect()
    assert [(r["doc_id"], r["urn"], r["status_code"], r["description"])
            for r in msgs] == [
        (1, "urn:isbn:9780000000001", 404, "Unknown work."),
        (1, "urn:isbn:9780000000002", 202, "Being processed."),
    ]
    assert {r["doc_id"] for r in opds.parse_feed(df).collect()} == {2}


OVERDRIVE_JSON = """{
 "id": "0b1c-record", "title": "The Night Garden",
 "sortTitle": "Night Garden", "subtitle": "A Novel",
 "series": "Garden Stories", "publisher": "Example House",
 "imprint": "Example Imprint", "mediaType": "eBook",
 "popularity": 42,
 "creators": [{"name": "Ann Reader", "fileAs": "Reader, Ann",
               "role": "Narrator"},
              {"name": "Jo Writer", "fileAs": "Writer, Jo",
               "role": "Author"},
              {"name": "Sam Second", "fileAs": "Second, Sam",
               "role": "Author"}],
 "languages": [{"code": "fr", "name": "French"},
               {"code": "en", "name": "English"}],
 "subjects": [{"value": "Fiction"}, {"value": "Fantasy"}],
 "formats": [
   {"id": "ebook-epub", "identifiers": [
      {"type": "ISBN", "value": "9780000000002"},
      {"type": "ASIN", "value": "B000000001"},
      {"type": "ISBN", "value": ""}]},
   {"id": "ebook-pdf", "identifiers": [
      {"type": "ISBN", "value": "9780000000001"},
      {"type": "ISBN", "value": "9780000000002"}]}],
 "images": {"cover": {"href": "https://img.example/c.jpg"}}
}"""


def test_overdrive_record_fields(spark):
    df = spark.createDataFrame(
        [(1, OVERDRIVE_JSON), (2, '{"id": "bare", "title": "Bare"}')],
        "rec_id bigint, payload string",
    )
    got = {r["rec_id"]: r for r in
           overdrive.parse_overdrive(df, "payload", ["rec_id"]).collect()}
    r = got[1]
    assert (r["overdrive_id"], r["title"], r["sort_title"], r["subtitle"],
            r["series"], r["publisher"], r["imprint"], r["medium"]) == (
        "0b1c-record", "The Night Garden", "Night Garden", "A Novel",
        "Garden Stories", "Example House", "Example Imprint", "eBook")
    # first creator with role Author, by its sort name
    assert r["primary_author"] == "Writer, Jo"
    assert r["n_creators"] == 3
    assert r["languages"] == ["en", "fr"]
    assert r["subjects"] == ["Fantasy", "Fiction"]
    # distinct non-empty ISBNs across formats, sorted; ASIN ignored
    assert r["isbns"] == ["9780000000001", "9780000000002"]
    assert r["cover_href"] == "https://img.example/c.jpg"
    assert r["popularity"] == 42
    bare = got[2]
    assert bare["n_creators"] == 0 and bare["primary_author"] is None


VIAF_SRU_XML = """<searchRetrieveResponse xmlns:ns2="http://viaf.org/viaf/terms#">
<records><record><recordData>
<ns2:VIAFCluster>
  <ns2:viafID>5001</ns2:viafID>
  <ns2:mainHeadings>
    <ns2:data><ns2:text>Writer, Jo,</ns2:text></ns2:data>
    <ns2:data><ns2:text>Writer, Jo</ns2:text></ns2:data>
    <ns2:data><ns2:text>Writer, J.</ns2:text></ns2:data>
  </ns2:mainHeadings>
  <ns2:sources>
    <ns2:source nsid="Q4242">WKP|Q4242</ns2:source>
    <ns2:source nsid="Jo_Writer">WKP|Jo_Writer</ns2:source>
  </ns2:sources>
</ns2:VIAFCluster>
</recordData></record><record><recordData>
<ns7:VIAFCluster xmlns:ns7="http://viaf.org/viaf/terms#">
  <ns7:viafID>5002</ns7:viafID>
  <ns7:mainHeadings><ns7:data><ns7:text>Reader, Ann</ns7:text></ns7:data>
  </ns7:mainHeadings>
  <ns7:xLinks><ns7:xLink>WKP|Not_A_Source</ns7:xLink></ns7:xLinks>
</ns7:VIAFCluster>
</recordData></record></records></searchRetrieveResponse>"""


def test_viaf_clusters_ids_wikipedia_and_sort_name_vote(spark):
    df = spark.createDataFrame([("d", VIAF_SRU_XML)], "doc string, xml string")
    clusters = viafsrc.parse_viaf_clusters(df)
    got = {r["viaf_id"]: r for r in clusters.collect()}
    assert set(got) == {"5001", "5002"}  # any namespace prefix
    # trailing comma stripped before the vote
    assert got["5001"]["sort_names"] == [
        "Writer, Jo", "Writer, Jo", "Writer, J."]
    # a Wikidata id is not a Wikipedia name; WKP| outside <source>
    # does not count
    assert got["5001"]["wikipedia_name"] == "Jo_Writer"
    assert got["5002"]["wikipedia_name"] is None
    top = {r["viaf_id"]: (r["sort_name"], r["votes"])
           for r in viafsrc.top_sort_name(clusters).collect()}
    assert top == {"5001": ("Writer, Jo", 2), "5002": ("Reader, Ann", 1)}
