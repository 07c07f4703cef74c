"""Wikidata-style alias/QID dictionary + predicate-phrase dictionary.

This is the broadcast dimension of the engine (FIXTURES.md F2).  Golden
labels mirror the reference's live-service expectations so the §2.3 query
shapes have the same answers (cited from /root/reference):

* Q190082 "Arachne", Q165769 "Penelope", Q184874 "Ariadne",
  Q313728 "Pheidippides"            — tests/pheidippides_tests.cpp:39-44
* P1049 / P2925 / P4185 / P180 property labels — tests/pheidippides_tests.cpp:62-66
* L17828 "loom", L327555 "sewing"   — tests/pheidippides_tests.cpp:84-87
* relation facts (Q984058 P170 Q297, P276 Q160112, P180 Q190082,
  P31 Q3305213; Q313728 P31 Q5; P31/P279* chains to Q22988604;
  M6940375/M10678815 P180 …)        — tests/sparql_tests.cpp:35-216,
                                      tests/pheidippides_tests.cpp:110-114

The dictionary also carries deliberate *skew bait*: ultra-frequent
aliases mapped to head entities (Q5 "human", Q30 "united states") so the
salted two-phase aggregation path is exercised, plus co-referent
duplicate entities (sameAs) that only connected-components stitching can
merge.

All matching is over lowercase token sequences of length 1..MAX_ALIAS_TOKENS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from arachne_spark.session import local_df

MAX_ALIAS_TOKENS = 4

# (qid, kind, label_en, aliases)
_ENTITIES: list[tuple[str, str, str, list[str]]] = [
    ("Q190082", "item", "Arachne", ["arachne"]),
    ("Q165769", "item", "Penelope", ["penelope"]),
    ("Q184874", "item", "Ariadne", ["ariadne"]),
    ("Q313728", "item", "Pheidippides", ["pheidippides"]),
    ("Q297", "item", "Diego Velázquez", ["diego velazquez", "velazquez"]),
    (
        "Q984058",
        "item",
        "Las Hilanderas",
        ["las hilanderas", "the spinners", "the fable of arachne"],
    ),
    ("Q160112", "item", "Museo del Prado", ["museo del prado", "the prado"]),
    ("Q3305213", "item", "painting", ["painting"]),
    # head entities (skew bait)
    ("Q5", "item", "human", ["human", "person"]),
    ("Q30", "item", "United States", ["united states", "america"]),
    ("Q1860", "item", "English", ["english language"]),
    ("Q1084", "item", "noun", ["noun"]),
    # class hierarchy for the P31/P279* closure (depth >= 2)
    (
        "Q22989102",
        "item",
        "Greek mythological character",
        ["greek mythological character"],
    ),
    ("Q4271324", "item", "mythical character", ["mythical character"]),
    ("Q22988604", "item", "mythical entity", ["mythical being"]),
    # co-referent duplicates — stitched to their partner only via CC
    ("Q990082", "item", "Arachne of Lydia", ["arachne the weaver"]),
    ("Q999769", "item", "Penelope of Ithaca", ["penelope of ithaca"]),
    # properties (golden labels from tests/pheidippides_tests.cpp:62-66)
    ("P1049", "property", "worshipped by", ["worshipped by"]),
    ("P2925", "property", "domain of saint or deity", ["domain of"]),
    ("P4185", "property", "iconographic symbol", ["iconographic symbol"]),
    ("P180", "property", "depicts", []),
    ("P170", "property", "creator", []),
    ("P276", "property", "location", []),
    ("P31", "property", "instance of", []),
    ("P279", "property", "subclass of", []),
    # lexemes (golden lemmas from tests/pheidippides_tests.cpp:84-87)
    ("L17828", "lexeme", "loom", ["loom"]),
    ("L327555", "lexeme", "sewing", ["sewing"]),
    # mediainfo entities
    ("M6940375", "mediainfo", "File:Las Hilanderas.jpg", ["file spinners jpg"]),
    ("M10678815", "mediainfo", "File:Pheidippides.jpg", ["file marathon jpg"]),
]

# long tail of synthetic entities for volume (single-token aliases)
_ENTITIES += [
    (f"Q{100000 + i}", "item", f"entity{i}", [f"entity{i}"])
    for i in range(80)
]

# gap-phrase → predicate mapping used by the relation extractor
_PREDICATES: list[tuple[str, str]] = [
    ("painted by", "P170"),
    ("created by", "P170"),
    ("is located in", "P276"),
    ("located in", "P276"),
    ("depicts", "P180"),
    ("is a", "P31"),
    ("is an", "P31"),
    ("instance of", "P31"),
    ("subclass of", "P279"),
    ("is a subclass of", "P279"),
    ("same as", "sameAs"),
    ("is the same as", "sameAs"),
]

# ground-truth facts: (subj_alias, phrase, obj_alias).  The page
# generator renders these as sentences; the pandas oracle in tests
# derives the golden triple set from the same list.
FACTS: list[tuple[str, str, str]] = [
    ("las hilanderas", "painted by", "diego velazquez"),
    ("las hilanderas", "is located in", "museo del prado"),
    ("las hilanderas", "depicts", "arachne"),
    ("las hilanderas", "is a", "painting"),
    ("the spinners", "created by", "velazquez"),
    ("pheidippides", "is a", "human"),
    ("diego velazquez", "is a", "human"),
    ("arachne", "is a", "greek mythological character"),
    ("penelope", "is a", "greek mythological character"),
    ("ariadne", "is a", "greek mythological character"),
    (
        "greek mythological character",
        "subclass of",
        "mythical character",
    ),
    ("mythical character", "subclass of", "mythical being"),
    ("file spinners jpg", "depicts", "las hilanderas"),
    ("file marathon jpg", "depicts", "pheidippides"),
    ("arachne the weaver", "same as", "arachne"),
    ("penelope of ithaca", "same as", "penelope"),
    ("the fable of arachne", "depicts", "arachne"),
    ("penelope", "located in", "america"),
    ("loom", "is a", "noun"),
    ("sewing", "is a", "noun"),
]


def alias_rows() -> list[tuple[str, str, str, int]]:
    """(alias, qid, kind, priority) rows; priority = numeric id part.

    Deterministic merge priority replaces the reference's nondeterministic
    hash-iteration merge order (src/pheidippides.cpp:79).
    """
    rows = []
    for qid, kind, label, aliases in _ENTITIES:
        prio = int(qid[1:])
        for a in aliases:
            rows.append((a, qid, kind, prio))
        rows.append((label.lower(), qid, kind, prio))
    # dedup aliases that equal the label
    return sorted(set(rows))


def label_rows() -> list[tuple[str, str, str, str]]:
    """(qid, kind, lang, label) — the labels table (en only in fixtures)."""
    return [(qid, kind, "en", label) for qid, kind, label, _ in _ENTITIES]


def alias_df(spark: SparkSession) -> DataFrame:
    return local_df(
        spark, alias_rows(),
        "alias string, qid string, kind string, priority long",
    )


def predicate_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, _PREDICATES, "phrase string, pred string")


def labels_df(spark: SparkSession) -> DataFrame:
    return local_df(
        spark, label_rows(),
        "qid string, kind string, lang string, label string",
    )
