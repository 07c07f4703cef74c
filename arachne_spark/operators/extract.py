"""Snapshot dedup + byte-deterministic HTML→text extraction.

Extraction is the one stage that genuinely cannot be a built-in column
expression, so it is an Arrow pandas UDF over whole pd.Series batches
(no BatchEvalPython, no per-row Python-object round trip through the
JVM).  It is not C-level end to end: ``.str.replace(regex=True)`` calls
``re.sub`` once per element, so each regex step is a Python-level loop
over the batch.  The function is pure over the html bytes: same bytes →
same text, on any executor, any Spark version (the byte-identity
invariant from BASELINE input_hint).

EXTRACTION SPEC (fixture-locked; tests/oracle.py reimplements it
independently and tests/test_pipeline.py asserts byte equality):
  1. decode UTF-8 (errors=replace)
  2. drop <script>…</script> and <style>…</style> blocks (case-insensitive)
  3. drop <!-- … --> comments
  4. every remaining tag → '\n'
  5. decode entities &amp; &lt; &gt; &quot; &#39; &nbsp;
  6. collapse [ \t]+ → ' '; strip spaces around '\n'; collapse '\n'+ →
     '\n'; strip outer whitespace

The latest-snapshot dedup is an aggregate (``max_by``), not a window:
partial aggregation runs map-side, so at 100 TB the shuffle carries at
most one pre-reduced row per (url, partition) instead of every snapshot.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_SCRIPT_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]*>")
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
]


def extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized extraction over a series of html byte strings."""
    # vectorized decode (C-level); bytes → str, None → None, and any
    # already-str input decodes to NaN and is kept verbatim below
    decoded = html.str.decode("utf-8", errors="replace")
    s = decoded.where(decoded.notna(), html).fillna("")
    s = s.str.replace(_SCRIPT_RE, "\n", regex=True)
    s = s.str.replace(_COMMENT_RE, "\n", regex=True)
    s = s.str.replace(_TAG_RE, "\n", regex=True)
    for ent, ch in _ENTITIES:
        s = s.str.replace(ent, ch, regex=False)
    s = s.str.replace(r"[ \t]+", " ", regex=True)
    s = s.str.replace(r" ?\n ?", "\n", regex=True)
    s = s.str.replace(r"\n+", "\n", regex=True)
    return s.str.strip()


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return extract_text_series(html)


def latest_snapshot(pages: DataFrame) -> DataFrame:
    """Keep the newest crawl per url (src/arachne.cpp merge analog).

    Tie-break on html bytes keeps the result total-ordered and therefore
    deterministic even if two snapshots share a timestamp — the explicit
    total order §4.3 of SURVEY.md demands (the reference's merge order is
    hash-iteration order, i.e. nondeterministic; we fix that).
    """
    snap = F.struct(
        F.col("warc_ts"), F.col("html"), F.col("text"), F.col("lang")
    )
    order = F.struct(F.col("warc_ts"), F.xxhash64(F.col("html")))
    agg = pages.groupBy("url").agg(F.max_by(snap, order).alias("s"))
    return agg.select("url", "s.warc_ts", "s.html", "s.text", "s.lang")


def with_text(pages: DataFrame) -> DataFrame:
    """Fill NULL text from html; keep pre-extracted text verbatim.

    The UDF input is masked to NULL where text already exists: Catalyst
    evaluates an extracted Python UDF for every row regardless of the
    surrounding coalesce, so without the mask the regex pipeline would
    run (and be paid for) on rows whose result is then discarded.
    """
    masked_html = F.when(F.col("text").isNull(), F.col("html"))
    return pages.withColumn(
        "text", F.coalesce(F.col("text"), extract_text_udf(masked_html))
    )


def clean_pages(pages: DataFrame) -> DataFrame:
    """The ``pages_clean`` stage: newest snapshot per url, English
    pages only, text filled from html."""
    return with_text(latest_snapshot(pages).where(F.col("lang") == "en"))
