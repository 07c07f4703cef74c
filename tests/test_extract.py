"""Differential test of the engine's HTML→text extraction against the
independent Python oracle (tests/oracle.extract_text): byte-identical
output on hand-picked hostile inputs, where Java regex and the JVM
UTF-8 decoder differ from Python's, and on a seeded random sweep."""

from __future__ import annotations

import datetime as dt
import random
import sys

from arachne_spark.operators.extract import (
    _WS_CHARS,
    latest_snapshot,
    with_text,
)
from tests.oracle import extract_text

HOSTILE = [
    b"",
    b"plain text",
    b"<p>a</p><p>b</p>",
    # mixed-case and case-folded tags: Python's IGNORECASE folds
    # U+017F (long s) to 's' and U+0130 (dotted I) to 'i'
    b"a<ScRiPt>x</sCrIpT>b",
    b"a<STYLE type='t'>p{}</style >b",
    "a<\u017fcript>x</script>b".encode(),
    "a<script>x</\u017fcript>b".encode(),
    "a<scr\u0130pt>x</script>b".encode(),
    "a<scr\u0131pt>x</scrIpt>b".encode(),
    b"a<script>x</style>y</script>b",
    # \b after the tag name: U+0301 is not a word char in Python, the
    # superscript two is
    "a<script\u0301>x</script>b".encode(),
    "a<script\xb2>x</script>b".encode(),
    b"a<scripts>x</scripts>b",
    b"a<script_x>y</script>b",
    b"a<script-x>y</script>b",
    # closing-tag whitespace: Python's \s set, not Java's
    "a<script>x</script\x1c>b".encode(),
    "a<script>x</script\u3000\u2028>b".encode(),
    "a<script>x</script\u200b>b".encode(),
    # Unicode whitespace at both edges (str.strip())
    "\u3000\xa0 x y \x1f\u205f\u0085".encode(),
    "\u200b x \u200b".encode(),
    "\u20ac x \u2000\u20ac\u2030".encode(),
    "\x1c\x1d\x1e\x1fmid\x0b\x0c\r".encode(),
    # invalid UTF-8: surrogates, overlongs, truncations, stray bytes
    b"a\xed\xa0\x80b",
    b"a\xc0\xafb",
    b"a\xe2\x82b",
    b"a\xf0\x9f\x98b",
    b"a\xf4\x90\x80\x80b",
    b"a\xff\xfe\x80b",
    b"\xe2\x82",
    b"<scr\xffipt>x</script>",
    # unclosed blocks and comments
    b"a<script>never closed",
    b"a<!-- never closed",
    b"a<p unclosed tag",
    # nested comments, comment containing a tag, script containing one
    b"a<!-- x <!-- y --> z -->b",
    b"a<!--<script>-->x</script>b",
    b"a<script>var s='<!--';</script>b<!-- c -->d",
    # entities, double-escaped
    b"&amp;lt;&lt;&amp;amp;&#39;&quot;&nbsp;&gt;&nbsp ;&AMP;",
    b"x &nbsp;&nbsp; y\t\t&nbsp;\n z",
    # whitespace collapsing around newlines
    b"a \t <br> \t b\n\n\n c \n",
    b"<html><head><title>t</title><script>var x = 1 < 2;</script>"
    b"</head><body><h1>t</h1><p>one</p><p>two</p></body></html>",
]

PIECES = [
    "<script>", "</script>", "<SCRIPT type=x>", "</ScRiPt >",
    "<style>", "</style\t>", "<\u017fcript>", "</\u017fcript>",
    "<scr\u0130pt>", "<script\u0301>", "<script\xb2>", "<scripts>",
    "</script\x1c>", "</script\u3000>", "<!--", "-->", "<p>", "</p>",
    "<br/>", "<", ">", "&amp;", "&lt;", "&gt;", "&quot;", "&#39;",
    "&nbsp;", "&amp;lt;", "&", ";", " ", "\t", "\n", "\r", "\x0b",
    "\x0c", "\x1c", "\x1f", "\x85", "\xa0", "\u1680", "\u2000",
    "\u200a", "\u200b", "\u2028", "\u2029", "\u202f", "\u205f",
    "\u3000", "\u0301", "\xb2", "_", "a", "Z", "9", "\xe9",
    "\u0130", "\u0131", "\u017f", "K", "\U0001f600", "\u20ac", "text",
]
BAD_BYTES = [
    b"\xed\xa0\x80", b"\xc0\xaf", b"\xe2\x82", b"\xf0\x9f\x98",
    b"\x80", b"\xff", b"\xf4\x90\x80\x80", b"\xe0\x80\x80", b"\xc3",
]


def random_html(rng: random.Random) -> bytes:
    out = []
    for _ in range(rng.randint(0, 24)):
        if rng.random() < 0.1:
            out.append(rng.choice(BAD_BYTES))
        else:
            out.append(rng.choice(PIECES).encode())
    return b"".join(out)


def mismatches(spark, htmls: list[bytes]) -> list[tuple]:
    """(html, engine text, oracle text) wherever ``with_text`` and the
    oracle disagree."""
    pages = spark.createDataFrame(
        [(i, bytearray(h), None) for i, h in enumerate(htmls)],
        "id long, html binary, text string",
    )
    got = dict(with_text(pages).select("id", "text").collect())
    return [
        (h, got[i], extract_text(h))
        for i, h in enumerate(htmls)
        if got[i] != extract_text(h)
    ]


def test_extraction_matches_oracle_on_hostile_inputs(spark):
    assert mismatches(spark, HOSTILE) == []


def test_extraction_matches_oracle_on_random_sweep(spark):
    rng = random.Random(20_031)
    bad = mismatches(spark, [random_html(rng) for _ in range(12_000)])
    assert bad == [], bad[:5]


def test_whitespace_set_is_pythons():
    assert set(_WS_CHARS) == {
        chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()
    }


def test_with_text_keeps_existing_text_and_null_html(spark):
    pages = spark.createDataFrame(
        [(0, bytearray(b"<p>from html</p>"), None),
         (1, bytearray(b"<p>ignored</p>"), "kept verbatim "),
         (2, None, None)],
        "id long, html binary, text string",
    )
    got = dict(with_text(pages).select("id", "text").collect())
    assert got == {0: "from html", 1: "kept verbatim ", 2: ""}


def test_latest_snapshot_is_input_order_independent(spark):
    """Two snapshots of one url tied on warc_ts and html, differing in
    text or lang, resolve the same way in either input order."""
    schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string"
    )
    ts = dt.datetime(2024, 1, 1)
    a = ("u", ts, bytearray(b"<p>x</p>"), "alpha", "en")
    b = ("u", ts, bytearray(b"<p>x</p>"), "beta", "en")
    c = ("v", ts, bytearray(b"<p>y</p>"), "same", "de")
    d = ("v", ts, bytearray(b"<p>y</p>"), "same", "en")
    picks = [
        [
            tuple(r)
            for r in latest_snapshot(
                spark.createDataFrame(rows, schema).coalesce(1)
            )
            .orderBy("url")
            .select("url", "text", "lang")
            .collect()
        ]
        for rows in ([a, b, c, d], [b, a, d, c])
    ]
    assert picks[0] == picks[1] == [
        ("u", "beta", "en"), ("v", "same", "en"),
    ]
