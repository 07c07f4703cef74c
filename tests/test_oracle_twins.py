"""Pins for the pure-Python oracle twins in __spark_entry__.

The q20 curation riders (split/sample assignments) are value-checked
against a from-spec XXH64 reimplementation — these tests pin that twin
against Spark's actual ``xxhash64`` across the encodings the oracle
relies on (string bytes, bigint 8-byte little-endian, seed chaining
over multiple columns) and across every tail-length regime of the
algorithm (empty, <4, 4-7, 8-31, >=32 bytes, and stripe boundaries).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from __spark_entry__ import _hash_unit_twin, _xxh64  # noqa: E402

STRINGS = [
    "",
    "a",
    "abc",
    "abcd",  # 4-byte tail step
    "abcde",
    "abcdefg",
    "abcdefgh",  # exact 8-byte word
    "abcdefghijk",
    "0123456789abcdef0123456789abcde",  # 31: longest non-stripe
    "0123456789abcdef0123456789abcdef",  # 32: one full stripe
    "x" * 33,
    "y" * 64,
    "z" * 71,
    "doc:123",
    "split",
    "sample",
]

LONGS = [0, 1, 7, -1, -42, 1 << 40, -(1 << 40), (1 << 63) - 1, -(1 << 63)]


def _signed(x: int) -> int:
    return x - (1 << 64) if x >= 1 << 63 else x


def test_xxh64_string_parity(spark):
    df = spark.createDataFrame([(s,) for s in STRINGS], ["s"]).select(
        "s",
        F.xxhash64("s").alias("h"),
        F.xxhash64("s", F.lit("salt")).alias("h2"),
    )
    for r in df.collect():
        h1 = _xxh64(r["s"].encode(), 42)
        assert _signed(h1) == r["h"], r["s"]
        assert _signed(_xxh64(b"salt", h1)) == r["h2"], r["s"]


def test_xxh64_long_parity(spark):
    df = spark.createDataFrame(
        [(v,) for v in LONGS], "v long"
    ).select("v", F.xxhash64("v").alias("h"))
    for r in df.collect():
        enc = (r["v"] & ((1 << 64) - 1)).to_bytes(8, "little")
        assert _signed(_xxh64(enc, 42)) == r["h"], r["v"]


def test_hash_unit_twin_bit_exact(spark):
    """The [0,1) mapping must be bit-identical to the operator's
    decimal-offset + double-division plan (both divisions are exact
    power-of-two exponent shifts)."""
    from arachne_spark.operators.sampling import hash_unit

    df = spark.createDataFrame(
        [(v,) for v in range(0, 2000, 37)], "k long"
    ).select("k", hash_unit(F.col("k"), "split").alias("u"))
    for r in df.collect():
        assert _hash_unit_twin(r["k"], "split") == r["u"], r["k"]


def test_q46_twin_keeps_null_and_empty_text(spark, tmp_path):
    """q46's DuckDB twin keeps a NULL- or empty-text document, with the
    zero counts of the zero vector extract_features gives it — the
    Spark side emits a row for every document."""
    import duckdb

    from __spark_entry__ import oracle_sql, q46_payload_features

    spark.createDataFrame(
        [(1, "hello world", "en", "web", 11),
         (2, None, "en", "web", None),
         (3, "", "en", "web", 0)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        tuple(r)
        for r in q46_payload_features(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    want = set(con.execute(oracle_sql()["q46_payload_features"]).fetchall())
    assert got == want
    assert {r[0] for r in want} == {1, 2, 3}
