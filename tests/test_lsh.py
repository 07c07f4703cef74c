"""Unit tests for MinHash-LSH fuzzy linking, checked against the
independent pure-Python LSH twin in tests/oracle.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from arachne_spark.operators.lsh_link import (
    fuzzy_link_best,
    lsh_candidates,
)
from tests import oracle

DICT = [
    # (alias, qid, kind, priority)
    ("velazquez", "Q297", "item", 297),
    ("pheidippides", "Q313728", "item", 313728),
    ("arachne", "Q190082", "item", 190082),
    ("painting", "Q3305213", "item", 3305213),
]

SURFACES = [
    "velazques",     # J=0.75 vs velazquez, bands collide
    "pheidipides",   # J=0.727 vs pheidippides, bands collide
    "velasquez",     # J=0.40 vs velazquez — bands do NOT collide
    "unrelatedword",
    "arachne",       # exact: J=1.0
]


def _spark_links(spark, threshold):
    s = spark.createDataFrame([(x,) for x in SURFACES], ["surface"])
    d = spark.createDataFrame(
        DICT, "alias string, qid string, kind string, priority long"
    )
    return s, d


def test_lsh_candidates_match_python_twin(spark):
    s, d = _spark_links(spark, 0.3)
    got = {
        (r["surface"], r["qid"], r["jaccard"])
        for r in lsh_candidates(s, d, threshold=0.3).collect()
    }
    fdict = [
        (a, q, p, oracle.lsh_bands(a), oracle.char_shingles(a))
        for a, q, _k, p in DICT
    ]
    want = set()
    for surf in SURFACES:
        sb = oracle.lsh_bands(surf)
        ssh = oracle.char_shingles(surf)
        for alias, qid, _p, ab, ash in fdict:
            if not any(x == y for x, y in zip(sb, ab)):
                continue
            inter = len(ssh & ash)
            j = round(inter / (len(ssh) + len(ash) - inter), 4)
            if j >= 0.3:
                want.add((surf, qid, j))
    assert got == want
    assert ("velazques", "Q297", 0.75) in got
    assert ("pheidipides", "Q313728", 0.7273) in got
    # LSH blocking is probabilistic by design: the J=0.4 pair shares no
    # band under the fixed md5 signatures, so it must be absent
    assert all(s != "velasquez" for s, _, _ in got)


def test_fuzzy_link_best_deterministic_priority(spark):
    # two dictionary entries with IDENTICAL alias → same jaccard for
    # any surface; the lower (priority, qid) must win
    s = spark.createDataFrame([("velazques",)], ["surface"])
    d = spark.createDataFrame(
        [
            ("velazquez", "Q999999", "item", 999999),
            ("velazquez", "Q297", "item", 297),
        ],
        "alias string, qid string, kind string, priority long",
    )
    rows = fuzzy_link_best(s, d).collect()
    assert len(rows) == 1
    assert rows[0]["qid"] == "Q297"


def test_short_surface_single_shingle(spark):
    # strings shorter than the shingle width fall back to identity
    s = spark.createDataFrame([("ab",)], ["surface"])
    d = spark.createDataFrame(
        [("ab", "Q1", "item", 1)],
        "alias string, qid string, kind string, priority long",
    )
    rows = lsh_candidates(s, d, threshold=0.5).collect()
    assert [(r["surface"], r["qid"], r["jaccard"]) for r in rows] == [
        ("ab", "Q1", 1.0)
    ]


def test_hot_shingle_df_cap_bounds_skew(spark):
    """1e5 synthetic docs sharing one boilerplate sentence: without the
    df-cap an inverted-index self-join would generate ~5e9 pairs from
    the hot shingles alone; with the cap, every surviving shingle is
    held by one document, so no pair can form."""
    from arachne_spark.operators.dedup import MAX_SHINGLE_DF, doc_shingles
    from arachne_spark.operators.lsh_link import cap_hot

    n = 100_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("copyright footer all rights reserved unique token u"),
            F.col("id").cast("string"),
            F.lit(" tail t"),
            (F.col("id") % 977).cast("string"),
        ).alias("text"),
    )
    sh0 = doc_shingles(docs)
    # the skew is real: uncapped pair fanout is sum(df^2)/2 over hot
    # shingles — computed by aggregation (linear), never joined
    fanout = (
        sh0.groupBy("s").agg(F.count("*").alias("c"))
        .agg(F.sum(F.expr("c * (c - 1) / 2")).alias("p"))
        .collect()[0]["p"]
    )
    assert fanout > 1e9

    sh = cap_hot(sh0, ["s"], MAX_SHINGLE_DF)
    assert sh.where(F.col("s").startswith("copyright")).count() == 0
    assert sh.groupBy("s").count().agg(F.max("count")).first()[0] == 1


def test_lsh_band_df_cap_drops_hot_band(spark):
    """A pathological dictionary where many entries share one band must
    not fan every surface out into all of them: with the cap the hot
    band is dropped dictionary-side (recall degrades, fanout does not
    explode)."""
    from arachne_spark.operators.lsh_link import (
        cap_hot,
        char_shingles,
        lsh_join,
        minhash,
    )

    s = spark.createDataFrame([("velazques",)], ["surface"])
    # 30 entries with the IDENTICAL alias → identical signatures →
    # both bands hot; plus one distinct entry
    d = spark.createDataFrame(
        [("velazquez", f"Q{1000 + i}", "item", 1000 + i) for i in range(30)]
        + [("arachne", "Q190082", "item", 190082)],
        "alias string, qid string, kind string, priority long",
    )
    q = minhash(char_shingles(s, "surface"), "surface")
    sig = minhash(
        char_shingles(d.select("alias", "qid"), "alias"), "alias", "qid"
    )
    capped = lsh_join(q, cap_hot(sig, ["band_idx", "band_hash"], 10), 0.3)
    assert capped.count() == 0  # hot band dropped, no candidates
    uncapped = lsh_join(q, sig, 0.3)
    assert uncapped.count() == 30  # the fanout the cap prevents


def test_unmatched_tokens_excludes_covered_spans(spark):
    from arachne_spark.operators.mentions import (
        detect_mentions,
        unmatched_tokens,
    )

    pages = spark.createDataFrame(
        [("u1", "the museo del prado shows velazques artwork")],
        ["url", "text"],
    )
    d = spark.createDataFrame(
        [("museo del prado", "Q160112", "item", 160112)],
        "alias string, qid string, kind string, priority long",
    )
    m = detect_mentions(pages, d)
    um = unmatched_tokens(pages, m)
    got = {r["surface"] for r in um.collect()}
    # covered span tokens (museo, del, prado) excluded; short tokens
    # (the, shows < 6) excluded
    assert got == {"velazques", "artwork"}
