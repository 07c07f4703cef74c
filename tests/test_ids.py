"""ID-grammar tests ported from /root/reference/tests/arachne_tests.cpp:31-98.

Accept/reject vectors are verbatim; semantics (kind names, root behavior,
normalize coercions) follow src/arachne.cpp:74-182.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arachne_spark.functions import entity_root, identify, normalize

IDENTIFY_CASES = [
    # tests/arachne_tests.cpp:31-39 ValidSimpleKinds
    ("Q123", "item"),
    ("P45", "property"),
    ("L7", "lexeme"),
    ("M9", "mediainfo"),
    ("E2", "entity_schema"),
    # :41-45 ValidFormAndSense
    ("L77-F2", "form"),
    ("L77-S2", "sense"),
    # :47-51 StrictSyntax
    ("L1-", "unknown"),
    ("L1-X2", "unknown"),
    ("Q1-2", "unknown"),
    # :53-63 InvalidInputs
    ("", "unknown"),
    ("X123", "unknown"),
    ("Q", "unknown"),
    ("Q-1", "unknown"),
    ("Qabc", "unknown"),
    ("L7-T1", "unknown"),
    ("L-F1", "unknown"),
    # :65-69 RejectsLeadingZeros
    ("Q01", "unknown"),
    ("L01-F1", "unknown"),
    ("L1-F01", "unknown"),
    # :71-74 Bounds
    ("Q2147483647", "item"),
    ("Q2147483648", "unknown"),
    # stoi round-trip extras (sign/whitespace rejected by round-trip check)
    ("Q+1", "unknown"),
    ("Q 1", "unknown"),
    ("q123", "unknown"),
    ("L1-F2147483647", "form"),
    ("L1-F2147483648", "unknown"),
]

ROOT_CASES = [
    ("L7-F1", "L7"),
    ("L7-S2", "L7"),
    ("L77-F2", "L77"),
    ("Q123", "Q123"),
    ("P45", "P45"),
    ("E2", "E2"),
    ("M9", "M9"),
    ("L1-X2", None),
    ("Q01", None),
    ("", None),
]

NORMALIZE_CASES = [
    # tests/arachne_tests.cpp:76-89
    (123, "item", "Q123"),
    (45, "property", "P45"),
    (7, "lexeme", "L7"),
    (9, "mediainfo", "M9"),
    (2, "entity_schema", "E2"),
    (7, "form", "L7"),
    (7, "sense", "L7"),
    # throws → NULL
    (1, "any", None),
    (1, "unknown", None),
    (-1, "item", None),
]


def _py_identify(s: str) -> str:
    """Independent single-string model of the reference grammar
    (src/arachne.cpp:122-162) for the exhaustive cross-product test."""
    import re

    m = re.fullmatch(
        r"([QPLME])(0|[1-9][0-9]*)(?:-([FS])(0|[1-9][0-9]*))?", s
    )
    if not m:
        return "unknown"
    p, num, tag, sub = m.groups()

    def in_bounds(n):
        return n is None or len(n) < 10 or (
            len(n) == 10 and n <= "2147483647"
        )

    if not in_bounds(num) or not in_bounds(sub):
        return "unknown"
    if tag and p != "L":
        return "unknown"
    if tag == "F":
        return "form"
    if tag == "S":
        return "sense"
    return {
        "Q": "item", "P": "property", "L": "lexeme",
        "M": "mediainfo", "E": "entity_schema",
    }[p]


def test_identify_exhaustive_cross_product(spark):
    """Every combination of prefix x number x suffix shape, checked
    against the independent Python grammar model in one Spark job."""
    prefixes = ["Q", "P", "L", "M", "E", "X", "q", ""]
    nums = ["0", "1", "01", "7", "2147483647", "2147483648",
            "9999999999", ""]
    suffixes = ["", "-F1", "-S0", "-F01", "-S2147483648", "-X2", "-",
                "-F", "F1"]
    cases = [p + n + s for p in prefixes for n in nums for s in suffixes]
    df = spark.createDataFrame([(c,) for c in cases], ["entity_id"])
    got = {
        r["entity_id"]: r["kind"]
        for r in df.withColumn(
            "kind", identify(F.col("entity_id"))
        ).collect()
    }
    for c in cases:
        assert got[c] == _py_identify(c), (
            f"identify({c!r}) = {got[c]}, model says {_py_identify(c)}"
        )


def test_identify(spark):
    df = spark.createDataFrame(
        [(s,) for s, _ in IDENTIFY_CASES], ["entity_id"]
    )
    got = {
        r["entity_id"]: r["kind"]
        for r in df.withColumn("kind", identify(F.col("entity_id"))).collect()
    }
    for s, expected in IDENTIFY_CASES:
        assert got[s] == expected, f"identify({s!r}) = {got[s]}, want {expected}"


def test_entity_root(spark):
    df = spark.createDataFrame([(s,) for s, _ in ROOT_CASES], ["entity_id"])
    got = {
        r["entity_id"]: r["root"]
        for r in df.withColumn("root", entity_root(F.col("entity_id"))).collect()
    }
    for s, expected in ROOT_CASES:
        assert got[s] == expected, f"root({s!r}) = {got[s]}, want {expected}"


def test_anonymous_group_id_no_collisions(spark):
    """64-bit anonymous group ids must be collision-free at corpus-like
    cardinalities.  The reference re-rolls on collision
    (src/arachne.cpp:31-40); a deterministic id cannot, so the width
    has to carry the load: at 2e5 distinct seeds a 32-bit id expects
    ~4.7 birthday collisions (this test failed the old 8-hex form),
    while 64 bits expects ~1e-9."""
    from arachne_spark.operators.groups import ANON_HEX, anonymous_group_id

    assert ANON_HEX >= 16
    n = 200_000
    df = spark.range(n).select(
        anonymous_group_id(F.col("id").cast("string")).alias("g")
    )
    assert df.select("g").distinct().count() == n


def test_normalize(spark):
    df = spark.createDataFrame(
        [(n, k) for n, k, _ in NORMALIZE_CASES], ["num", "kind"]
    )
    rows = df.withColumn(
        "norm", normalize(F.col("num"), F.col("kind"))
    ).collect()
    got = {(r["num"], r["kind"]): r["norm"] for r in rows}
    for n, k, expected in NORMALIZE_CASES:
        assert got[(n, k)] == expected, (
            f"normalize({n}, {k}) = {got[(n, k)]}, want {expected}"
        )


def test_normalize_compiles_without_codegen_fallback(spark, tmp_path):
    """q35 and q40 use ``normalize`` in a projection and, inlined by the
    optimizer, inside a ``dropDuplicates`` grouping key.  With codegen
    fallback off, a generated method past the JVM's 64 KB limit raises
    instead of silently dropping to interpreted evaluation."""
    import __spark_entry__ as em

    d = str(tmp_path)
    spark.range(1, 2001).select(F.col("id").alias("p_partkey")).write.parquet(
        f"{d}/part.parquet"
    )
    spark.range(1, 1501).select(
        F.col("id").alias("o_orderkey")
    ).write.parquet(f"{d}/orders.parquet")
    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert len(em.q35_normalize(spark, d).collect()) == 2000
        assert em.q40_fetch_routing(spark, d).collect()
    finally:
        spark.conf.set(key, prev)
