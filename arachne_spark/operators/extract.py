"""Snapshot dedup + byte-deterministic HTML→text extraction.

Extraction is built-in column expressions only (a decode, a chain of
``regexp_replace``/``replace`` and a ``btrim``), so it runs codegen'd in
the JVM with no Python worker process.  The result is pure over the html bytes: same
bytes → same text, on any executor, any Spark version (the byte-identity
invariant from BASELINE input_hint).

EXTRACTION SPEC (fixture-locked; tests/oracle.py reimplements it
independently in Python, and tests/test_extract.py asserts byte
equality on hostile and random inputs):
  1. decode UTF-8 (errors=replace)
  2. drop <script>…</script> and <style>…</style> blocks (case-insensitive)
  3. drop <!-- … --> comments
  4. every remaining tag → '\n'
  5. decode entities &amp; &lt; &gt; &quot; &#39; &nbsp;
  6. collapse [ \t]+ → ' '; strip spaces around '\n'; collapse '\n'+ →
     '\n'; strip outer whitespace

The spec is written in Python ``re``/``str`` terms.  Where Java regex
and the JVM decoder differ from them, the code below says how it
matches Python instead (``_WS``, ``_WORD_END``, ``_CASES``,
``make_valid_utf8``).

The latest-snapshot dedup is an aggregate (``max``), not a window:
partial aggregation runs map-side, so at 100 TB the shuffle carries at
most one pre-reduced row per (url, partition) instead of every snapshot.
"""

from __future__ import annotations

from itertools import product

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Python's str.isspace set, which is what re's \s and str.strip() use;
# Java's \s is ASCII-only and its Unicode \s differs on \x1c-\x1f, and
# Spark's trim() strips only ' '.
_WS_CHARS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)
_WS = "[" + "".join(f"\\u{ord(c):04x}" for c in _WS_CHARS) + "]"
# Python's \b after a word: the next char is not alphanumeric or '_'.
# Java's \b disagrees with it on combining marks (U+0301) and on
# numerics outside Nd ('²').
_WORD_END = "(?![\\p{L}\\p{N}_])"
# Python's re.IGNORECASE lets 'ſ' match 's' and 'İ'/'ı' match 'i', but
# its backreference compares simple lowercase, so a tag opened with 'ſ'
# or 'ı' closes only with that same letter.  Java's case-insensitive
# backreference folds further, so each case class is its own branch,
# with no flag and no backreference.
_CASES = {"s": ["sS", "\u017f"], "i": ["iI\u0130", "\u0131"]}


def _block_re(names: tuple[str, ...]) -> str:
    branches = []
    for name in names:
        for classes in product(
            *(_CASES.get(c, [c + c.upper()]) for c in name)
        ):
            tag = "".join(f"[{c}]" for c in classes)
            branches.append(f"{tag}{_WORD_END}[^>]*>.*?</{tag}{_WS}*>")
    return f"(?s)<(?:{'|'.join(branches)})"


_SCRIPT_RE = _block_re(("script", "style"))
_COMMENT_RE = "(?s)<!--.*?-->"
_TAG_RE = "<[^>]*>"
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
]


def extract_text_col(html: Column) -> Column:
    """EXTRACTION SPEC steps 1-6 over an html (binary) column; NULL
    html extracts to ''."""
    # a plain cast collapses each invalid sequence into ONE U+FFFD;
    # make_valid_utf8 replaces per maximal subpart, as Python does
    # (ED A0 80 → three U+FFFD)
    s = F.coalesce(F.make_valid_utf8(html.cast("string")), F.lit(""))
    s = F.regexp_replace(s, _SCRIPT_RE, "\n")
    s = F.regexp_replace(s, _COMMENT_RE, "\n")
    s = F.regexp_replace(s, _TAG_RE, "\n")
    for ent, ch in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.regexp_replace(s, "[ \t]+", " ")
    s = F.regexp_replace(s, " ?\n ?", "\n")
    s = F.regexp_replace(s, "\n+", "\n")
    return F.btrim(s, F.lit(_WS_CHARS))


def latest_snapshot(pages: DataFrame) -> DataFrame:
    """Keep the newest crawl per url (src/arachne.cpp merge analog).

    The ordering is total over the whole snapshot (the explicit total
    order §4.3 of SURVEY.md demands; the reference's merge order is
    hash-iteration order, i.e. nondeterministic): ties on ``warc_ts``
    break on the html hash, then on html, text and lang, so two
    snapshots that differ anywhere resolve the same way in any input
    order.
    """
    snap = F.struct(
        F.col("warc_ts"), F.xxhash64(F.col("html")).alias("h"),
        F.col("html"), F.col("text"), F.col("lang"),
    )
    agg = pages.groupBy("url").agg(F.max(snap).alias("s"))
    return agg.select("url", "s.warc_ts", "s.html", "s.text", "s.lang")


def with_text(pages: DataFrame) -> DataFrame:
    """Fill NULL text from html; keep pre-extracted text verbatim
    (``coalesce`` evaluates the extraction only where text is NULL)."""
    return pages.withColumn(
        "text", F.coalesce(F.col("text"), extract_text_col(F.col("html")))
    )


def clean_pages(pages: DataFrame) -> DataFrame:
    """The ``pages_clean`` stage: newest snapshot per url, English
    pages only, text filled from html."""
    return with_text(latest_snapshot(pages).where(F.col("lang") == "en"))
