"""Scalar-function library tests — exact-row checks of the name/
role/url/canonicalization semantics against hand-built inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_wrangler_spark.functions import canonical, names, roles, urls
from tests.conftest import requires_reference, rows


def _one(spark, expr, value):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(expr(F.col("v")).alias("out")).collect()[0]["out"]


def test_sort_name_to_display(spark):
    assert _one(spark, names.sort_name_to_display,
                "Melville, Herman") == "Herman Melville"
    # no comma -> unchanged
    assert _one(spark, names.sort_name_to_display, "Plato") == "Plato"
    # only the first comma splits
    assert _one(spark, names.sort_name_to_display,
                "Doe, Jane, Jr.") == "Jane, Jr. Doe"


def test_primary_author_splits(spark):
    assert _one(spark, names.primary_author,
                "Jane Doe with John Smith") == "Jane Doe"
    assert _one(spark, names.primary_author,
                "Jane Doe and John Smith") == "Jane Doe"
    assert _one(spark, names.primary_author, "Jane Doe") == "Jane Doe"


def test_title_safe_strip(spark):
    assert _one(spark, names.title_safe,
                "Moby-Dick; or, The Whale!") == "Moby-Dick or The Whale"


def test_strip_accents(spark):
    assert _one(spark, names.strip_accents, "Café Ñandú à l'été") == \
        "Cafe Nandu a l'ete"


def test_role_mapping_and_suffix(spark):
    df = spark.createDataFrame(
        [("Jane Doe [Translator]",), ("John Smith",)], "v string"
    )
    out = df.select(
        roles.strip_role_suffix(F.col("v")).alias("name"),
        roles.map_role(roles.extract_role_suffix(F.col("v"))).alias("role"),
    ).collect()
    assert (out[0]["name"], out[0]["role"]) == ("Jane Doe", "Translator")
    # no suffix -> extract gives '' -> maps to Unknown fallback
    assert (out[1]["name"], out[1]["role"]) == ("John Smith", "Unknown")


def test_stateful_split_default_role_transitions(spark):
    # reference semantics (`oclc/classify.py:396-464`): first
    # unmarked segment is Primary Author; unmarked stays Author until
    # an explicit role appears; afterwards unmarked means Unknown.
    df = spark.createDataFrame(
        [(1, "A|B|C [Translator]|D"),
         (2, "X [Editor]|Y")],
        "id bigint, authors string",
    )
    out = roles.split_contributors(df, "authors", "id")
    got = {(r["id"], r["pos"]): r["roles_csv"] for r in out.collect()}
    assert got == {
        (1, 0): "Primary Author",
        (1, 1): "Author",
        (1, 2): "Translator",
        (1, 3): "Unknown",
        (2, 0): "Editor",
        (2, 1): "Unknown",
    }


def test_url_classification_first_match_wins(spark):
    cases = {
        "https://www.worldcat.org/oclc/12345": ("oclc_work", "12345"),
        "https://viaf.org/viaf/999": ("viaf", "999"),
        "urn:isbn:978316148410X": ("isbn", "978316148410X"),
        "https://example.org/person/7": ("person", "7"),
        "https://nothing.example/": ("other", None),
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    kind, ident = urls.classify_url(F.col("url"))
    out = df.select("url", kind.alias("k"), ident.alias("i")).collect()
    for r in out:
        assert (r["k"], r["i"]) == cases[r["url"]], r["url"]


def test_cascade_priority_and_fallback(spark):
    df = spark.createDataFrame(
        [(1, None, "from-oclc", "from-viaf"),
         (2, "from-db", None, None),
         (3, None, None, None)],
        "id bigint, db string, oclc string, viaf string",
    )
    value, source = canonical.cascade(
        [("db", F.col("db")), ("oclc", F.col("oclc")),
         ("viaf", F.col("viaf"))],
        F.lit("guessed"),
    )
    out = {r["id"]: (r["v"], r["s"]) for r in
           df.select("id", value.alias("v"), source.alias("s")).collect()}
    assert out == {
        1: ("from-oclc", "oclc"),
        2: ("from-db", "db"),
        3: ("guessed", "guess"),
    }


def test_shortest_candidate_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [("g", "bb"), ("g", "aa"), ("g", "ccc"), ("h", "z")],
        "grp string, cand string",
    )
    out = canonical.shortest_candidate(df, ["grp"], "cand")
    assert rows(out) == [("g", "aa"), ("h", "z")]


def test_repetition_stats_flags_repeated_text(spark):
    from metadata_wrangler_spark.operators import textstats
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "a perfectly normal sentence with no repeats at all"),
            (3, "ab"),                                   # shorter than any 2-gram
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in
           textstats.repetition_stats(docs).collect()}
    # doc 1: five identical 2-grams -> dup frac 0.8, top frac 1.0
    assert out[1]["dup_2gram_frac"] == 0.8
    assert out[1]["top_2gram_frac"] == 1.0
    assert out[1]["keep"] is False
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[2]["keep"] is True
    # degenerate short doc: zero 2-grams, zero fractions, kept
    assert out[3]["n_2grams"] == 0
    assert out[3]["top_2gram_frac"] == 0.0
    assert out[3]["keep"] is True


def test_quality_score_bands(spark):
    from metadata_wrangler_spark.operators import textstats
    docs = spark.createDataFrame(
        [
            (1, "too short"),                                # < 10 tokens -> 0
            (2, " ".join(f"w{i}" for i in range(100))),      # long + all distinct
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in textstats.quality_score(docs).collect()}
    assert out[1]["quality"] == 0.0
    # length factor saturates at 1.0 and every token is distinct
    assert out[2]["quality"] == 1.0
    assert out[2]["distinct_ratio"] == 1.0


def test_language_id_markers_and_unknown(spark):
    from metadata_wrangler_spark.operators import textstats
    docs = spark.createDataFrame(
        [
            (1, "the cat and a dog"),
            (2, "el perro y la casa de los gatos"),
            (3, "zzz qqq xxx"),                              # no markers
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["predicted_lang"]
           for r in textstats.language_id(docs).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "und"


def test_fingerprint_stable_under_normalization(spark):
    from metadata_wrangler_spark.operators import textstats
    docs = spark.createDataFrame(
        [(1, "Hello   World Foo"), (2, "hello world foo")],
        "doc_id bigint, text string",
    )
    rows_ = textstats.fingerprint(docs).collect()
    by_id = {r["doc_id"]: (r["fingerprint"], r["prefix_key"]) for r in rows_}
    assert by_id[1] == by_id[2]


@requires_reference
def test_binary_prefix_on_reference_cover_fixtures(spark):
    """F14 against the reference's own cover images: both fixtures
    are PNGs (magic-prefix match) and the stand-in detection pattern
    — compare the first N payload bytes — distinguishes them from a
    JPEG payload."""
    import pathlib

    from pyspark.sql import functions as F

    from metadata_wrangler_spark.functions.binary import has_prefix

    base = pathlib.Path("/root/reference/tests/files/covers")
    data = [
        (1, (base / "test-book-cover.png").read_bytes()),
        (2, (base / "tiny-image-cover.png").read_bytes()),
        (3, b"\xff\xd8\xff\xe0" + b"0" * 32),     # JPEG magic
    ]
    df = spark.createDataFrame(data, "id int, payload binary")
    png_magic = b"\x89PNG\r\n\x1a\n"
    out = {r["id"]: r["is_png"] for r in df.select(
        "id", has_prefix(F.col("payload"), png_magic).alias("is_png")
    ).collect()}
    assert out == {1: True, 2: True, 3: False}
    # stand-in detection: the exact bytes of a KNOWN image's head
    standin = (base / "tiny-image-cover.png").read_bytes()[:64]
    flagged = {r["id"] for r in df.where(
        has_prefix(F.col("payload"), standin)
    ).collect()}
    assert flagged == {2}


def test_binary_prefix_on_hand_built_images(spark):
    """F14 on hand-built payloads: two PNGs (magic-prefix match), a
    JPEG that must not match, and stand-in detection — the first 64
    bytes of a KNOWN image flag only payloads that start with them."""
    import struct
    import zlib

    from metadata_wrangler_spark.functions.binary import has_prefix

    def png(width: int, height: int, fill: int) -> bytes:
        def chunk(kind: bytes, body: bytes) -> bytes:
            return (struct.pack(">I", len(body)) + kind + body
                    + struct.pack(">I", zlib.crc32(kind + body)))
        rows = b"".join(b"\0" + bytes([fill]) * width for _ in range(height))
        return (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height,
                                             8, 0, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(rows))
                + chunk(b"IEND", b""))

    cover, tiny = png(32, 48, 200), png(1, 1, 0)
    df = spark.createDataFrame(
        [(1, cover), (2, tiny), (3, b"\xff\xd8\xff\xe0" + b"0" * 32)],
        "id int, payload binary",
    )
    out = {r["id"]: r["is_png"] for r in df.select(
        "id", has_prefix(F.col("payload"), b"\x89PNG\r\n\x1a\n")
        .alias("is_png")
    ).collect()}
    assert out == {1: True, 2: True, 3: False}
    flagged = {r["id"] for r in df.where(
        has_prefix(F.col("payload"), tiny[:64])
    ).collect()}
    assert flagged == {2}


def test_count_token_handles_consecutive_repeats(spark):
    """'the the the' counts 3 — the padded replace-length trick
    undercounted consecutive tokens (non-overlapping matches consume
    the shared delimiter)."""
    from metadata_wrangler_spark.operators import textstats
    docs = spark.createDataFrame(
        [(1, "the the the"), (2, "a a")], "doc_id bigint, text string")
    out = {r["doc_id"]: r["stopword_ratio"] for r in
           textstats.quality_score(docs).collect()}
    assert out[1] == 1.0
    assert out[2] == 1.0


def test_language_id_detects_unsegmented_chinese(spark):
    """zh markers are substrings — unsegmented text has no
    space-delimited tokens to match."""
    from metadata_wrangler_spark.operators import textstats
    docs = spark.createDataFrame(
        [(1, "他是在北京的学生")], "doc_id bigint, text string")
    row = textstats.language_id(docs).collect()[0]
    assert row["predicted_lang"] == "zh"
    assert row["score_zh"] == 3


def test_pii_scrub_redacts_and_counts(spark):
    from metadata_wrangler_spark.operators import textstats
    docs = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+x@example.org or 212-555-0187 ok"),
            (2, "server at 10.0.0.1 went down"),
            (3, "no sensitive content here"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in textstats.pii_scrub(docs).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert "<EMAIL>" in out[1]["scrubbed_text"]
    assert "<PHONE>" in out[1]["scrubbed_text"]
    assert "jane.doe" not in out[1]["scrubbed_text"]
    assert "212-555" not in out[1]["scrubbed_text"]
    assert out[1]["has_pii"] is True
    assert out[2]["n_ip"] == 1
    assert out[2]["scrubbed_text"] == "server at <IP> went down"
    assert out[3]["has_pii"] is False
    assert out[3]["scrubbed_text"] == "no sensitive content here"
