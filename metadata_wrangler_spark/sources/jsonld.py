"""JSON-LD graph parsing (SURVEY.md S4) — the `ldq` family:
extract @graph, filter nodes by @type, pull language-restricted
values.

Reference: `/root/reference/oclc/linked_data.py:45-89`
(`ldq.for_type` / `restrict_to_language` / `values`), `:317-330`
(graph extraction), `:332-365` (typed-node walks).

Spark design: `from_json` to a typed ARRAY<STRUCT>, then
higher-order `filter`/`transform` — the JSON-LD value plumbing
(string | dict | list in the reference) becomes uniform
ARRAY<STRUCT<@language,@value>> handling, all JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRAPH_SCHEMA = (
    "graph ARRAY<STRUCT<"
    "id: STRING, type: STRING, "
    "name: ARRAY<STRUCT<language: STRING, value: STRING>>>>"
)


def for_type(graph_col, type_name: str):
    """ldq.for_type: nodes of a given @type from a parsed graph."""
    return F.filter(graph_col, lambda n: n["type"] == F.lit(type_name))


def values_in_language(names_col, language: str):
    """ldq.restrict_to_language + values: the @value strings tagged
    with the given @language."""
    return F.transform(
        F.filter(names_col, lambda v: v["language"] == F.lit(language)),
        lambda v: v["value"],
    )


# --- real OCLC person-entity documents (VariantType path) ----------------
#
# The real JSON-LD fixtures (/root/reference/tests/files/oclc/) are
# polymorphic: `name`/`familyName` may be a string, a list of
# strings, a {"@language","@value"} dict, or a mixed list of all
# three. A fixed from_json schema can't express that; Spark 4's
# VariantType can — parse once, probe each shape with
# try_variant_get, all JVM-side.


def _name_candidates(field):
    """Normalize a variant name field to ARRAY<STRING> candidates:
    scalar string kept; list elements kept if plain strings or
    en-language dicts (the reference's extract_names +
    `_best_name_from_list` intake, linked_data.py:372-384,441-451).
    Non-Latin-start names are dropped (its `[A-z]+` match)."""
    scalar = F.try_variant_get(field, "$", "string")
    elems = F.coalesce(
        F.try_variant_get(field, "$", "array<variant>"),
        F.when(scalar.isNotNull(), F.array(field)),
        F.array().cast("array<variant>"),
    )
    # @value probe FIRST: variant_get(obj, '$', 'string') on an
    # OBJECT yields its JSON text, which would shadow the
    # language-dict branch (and is then dropped by the Latin-start
    # filter below, since it starts with '{').
    strings = F.transform(
        elems,
        lambda e: F.coalesce(
            F.when(
                F.try_variant_get(e, "$.@language", "string") == "en",
                F.try_variant_get(e, "$.@value", "string"),
            ),
            F.try_variant_get(e, "$", "string"),
        ),
    )
    return F.filter(
        strings, lambda s: s.isNotNull() & s.rlike("^[A-Za-z\\[\\]^_`\\\\]")
    )


def _best_name(field):
    """`_best_name_from_list` (linked_data.py:437-471): strip [.,],
    vote by punctuation-normalized count, tie → longest, then first
    position (Counter insertion order). Per-row array algebra — no
    shuffle, no UDF."""
    names = F.transform(
        _name_candidates(field), lambda s: F.regexp_replace(s, "[.,]", "")
    )
    indexed = F.zip_with(
        names,
        F.sequence(F.lit(0), F.greatest(F.size(names) - 1, F.lit(0))),
        lambda n, i: F.struct(n.alias("name"), i.alias("idx")),
    )
    scored = F.transform(
        indexed,
        lambda s: F.struct(
            F.size(F.filter(names, lambda x: x == s["name"])).alias("cnt"),
            F.length(s["name"]).alias("len"),
            (-s["idx"]).alias("neg_idx"),
            s["name"].alias("name"),
        ),
    )
    return F.when(F.size(names) > 0, F.array_max(scored)["name"])


def extract_contributors(df: DataFrame, json_col: str = "jsonld") -> DataFrame:
    """One row per schema:Person node in each document's @graph:
    (doc columns…, node_id, display_name, family_name, birth_year,
    death_year) — the reference's `extract_contributor`
    (linked_data.py:368-435) incl. the leading-family-name strip and
    year extraction."""
    keep = [c for c in df.columns if c != json_col]
    graph = F.coalesce(
        F.try_variant_get(
            F.try_parse_json(F.col(json_col)), "$.@graph", "array<variant>"
        ),
        F.array().cast("array<variant>"),
    )
    nodes = df.select(
        *keep,
        F.explode(
            F.filter(
                graph,
                lambda n: F.try_variant_get(n, "$.@type", "string")
                == F.lit("schema:Person"),
            )
        ).alias("_node"),
    )
    n = F.col("_node")
    display = _best_name(F.try_variant_get(n, "$.name", "variant"))
    family = _best_name(F.try_variant_get(n, "$.familyName", "variant"))
    # A list-valued date reads its first element. The array probe
    # goes first: the string probe returns an array's JSON text (the
    # shadowing _name_candidates documents for objects). get() is
    # NULL past the end, so an empty list is a missing date.
    year = lambda fld: F.regexp_extract(  # noqa: E731
        F.coalesce(
            F.get(F.try_variant_get(n, fld, "array<string>"), 0),
            F.try_variant_get(n, fld, "string"),
        ),
        "^([0-9]{4})", 1,
    )
    out = nodes.select(
        *keep,
        F.try_variant_get(n, "$.@id", "string").alias("node_id"),
        display.alias("_display"),
        family.alias("_family"),
        F.when(year("$.birthDate") != "", year("$.birthDate"))
        .alias("birth_year"),
        F.when(year("$.deathDate") != "", year("$.deathDate"))
        .alias("death_year"),
    )
    return (
        out.withColumn("display_name", display_fixed_expr())
        .where(F.col("display_name").isNotNull())
        .select(
            *keep, "node_id", "display_name",
            F.col("_family").alias("family_name"),
            "birth_year", "death_year",
        )
    )


def display_fixed_expr():
    """The "LastName FirstName LastName" fix (linked_data.py:395-401):
    drop a leading family-name prefix from the display name. Phrased
    over the staged _display/_family columns."""
    return F.when(
        F.col("_family").isNotNull()
        & F.col("_display").startswith(F.concat(F.col("_family"), F.lit(" "))),
        F.expr("substring(_display, length(_family) + 2)"),
    ).otherwise(F.col("_display"))


def parse_typed_names(
    df: DataFrame,
    json_col: str = "jsonld",
    type_name: str = "Person",
    language: str = "en",
) -> DataFrame:
    """One row per node of ``type_name``: (doc columns…, node_id,
    name) with the name restricted to ``language``."""
    parsed = df.withColumn("_doc", F.from_json(F.col(json_col), GRAPH_SCHEMA))
    keep = [c for c in df.columns if c != json_col]
    node = F.explode(for_type(F.col("_doc.graph"), type_name)).alias("node")
    return parsed.select(*keep, node).select(
        *keep,
        F.col("node.id").alias("node_id"),
        F.try_element_at(
            values_in_language(F.col("node.name"), language), F.lit(1)
        ).alias("name"),
    )
