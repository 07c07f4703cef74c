"""Repetition-based document quality filters for webtext corpora.

The Gopher-style repetition signals (duplicate-line fraction,
top-n-gram character fraction, duplicated-n-gram character fraction —
Rae et al. 2021, appendix A1.1; same family as C4's line-level rules)
are the standard pre-training text filters the reference's corpus
surface lacks entirely; they complete the q20 text-analysis family
(token counts / stopword ratio / language id / fingerprints) with the
repetition axis that actually removes degenerate machine-generated
pages at 100 TB.

Scale shape: a union of per-n explodes feeding ONE hash aggregation
keyed by (doc_id, n, gram) — map-side partial aggregation bounds the
shuffle by the number of DISTINCT grams per doc, never by corpus
size, and no stage ever compares two documents (this is a per-doc
profile, not a dedup).  The grams come from ``dedup.token_ngrams``,
one explode of start positions per n whose grams are element
accesses in generated code (no shuffle, no interpreted lambda), and
the boilerplate strip reassembles its surviving lines with
``dedup.rebuild_text``, the rebuild exact_substring_dedup runs.

Definitions (documented because the literature leaves the char
accounting ambiguous; the pure-Python twin in tests/test_quality.py
mirrors these exactly):

* ``dup_line_frac``   = 1 - distinct_lines / total_lines
* ``dup_line_char_frac`` = chars in line occurrences BEYOND the first
  / chars in all lines  (the DataTrove/NeMo-Curator convention)
* ``top{n}_gram_char_frac`` = count(most frequent n-gram) * len(gram)
  / len(text), capped at 1.0 (overlapping occurrences of a
  self-overlapping gram can cover more chars than the doc holds) —
  the most frequent gram breaks ties by gram string so the statistic
  is deterministic
* ``dup{n}_gram_char_frac`` = sum over grams with count > 1 of
  count * len(gram) / len(text), capped at 1.0 (overlapping
  occurrences double-count chars; the cap is the standard
  distributed approximation of Gopher's coverage definition)

Short docs degrade gracefully: a doc with fewer than n tokens emits
no n-grams and reports 0.0 for that n (``token_ngrams``' ANSI-safe
``size >= n`` guard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from arachne_spark.operators.dedup import rebuild_text, token_ngrams


def line_repetition(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc duplicate-line statistics: (id, n_lines,
    dup_line_frac, dup_line_char_frac), rounded to 4 places."""
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), "\n", -1)).alias("line"),
    )
    per_line = lines.groupBy("doc_id", "line").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_line.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_lines"),
        F.round(
            1.0 - F.count(F.lit(1)) / F.sum("c"), 4
        ).alias("dup_line_frac"),
        F.round(
            F.sum((F.col("c") - 1) * F.length("line"))
            / F.greatest(
                F.sum(F.col("c") * F.length("line")), F.lit(1).cast("long")
            ),
            4,
        ).alias("dup_line_char_frac"),
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Full Gopher-style repetition profile.

    One row per input doc with ``n_lines``, ``dup_line_frac``,
    ``dup_line_char_frac``, ``top{n}_gram_char_frac`` for each n in
    ``top_ns`` and ``dup{n}_gram_char_frac`` for each n in
    ``dup_ns``.  All n values share ONE (doc_id, n, gram)
    aggregation; each n adds a ``token_ngrams`` union branch, not an
    aggregation stage."""
    base = docs.select(F.col(id_col).alias("doc_id"), text_col)
    grams = token_ngrams(
        base, text_col, sorted(set(top_ns) | set(dup_ns))
    )
    counts = grams.groupBy("doc_id", "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_n = counts.groupBy("doc_id", "n").agg(
        F.max(
            F.struct(
                (F.col("c") * F.length("gram")).alias("chars"), F.col("gram")
            )
        )["chars"]
        .cast("double")
        .alias("top_chars"),
        F.coalesce(
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.length("gram"))
            ),
            F.lit(0),
        )
        .cast("double")
        .alias("dup_chars"),
    )
    wide = per_n.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("top_chars"))).alias(
                f"_top{n}"
            )
            for n in top_ns
        ],
        *[
            F.max(F.when(F.col("n") == n, F.col("dup_chars"))).alias(
                f"_dup{n}"
            )
            for n in dup_ns
        ],
    )
    lrep = line_repetition(docs, id_col, text_col)
    out = (
        base.select(
            "doc_id", F.length(text_col).cast("double").alias("n_chars")
        )
        .join(lrep, "doc_id", "left")
        .join(wide, "doc_id", "left")
    )
    cols = [
        "doc_id",
        "n_lines",
        "dup_line_frac",
        "dup_line_char_frac",
    ]
    for n in top_ns:
        out = out.withColumn(
            f"top{n}_gram_char_frac",
            F.round(
                F.least(
                    F.coalesce(F.col(f"_top{n}"), F.lit(0.0))
                    / F.greatest(F.col("n_chars"), F.lit(1.0)),
                    F.lit(1.0),
                ),
                4,
            ),
        )
        cols.append(f"top{n}_gram_char_frac")
    for n in dup_ns:
        out = out.withColumn(
            f"dup{n}_gram_char_frac",
            F.round(
                F.least(
                    F.coalesce(F.col(f"_dup{n}"), F.lit(0.0))
                    / F.greatest(F.col("n_chars"), F.lit(1.0)),
                    F.lit(1.0),
                ),
                4,
            ),
        )
        cols.append(f"dup{n}_gram_char_frac")
    return out.select(*cols)


def boilerplate_lines(
    docs: DataFrame,
    max_occurrences: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 1,
) -> DataFrame:
    """Lines whose exact text occurs in more than ``max_occurrences``
    documents corpus-wide (one occurrence per doc — a line repeated
    inside a single page is the per-doc repetition signal, not
    boilerplate).  The count runs through the salted two-phase
    aggregation (operators/skew.py): boilerplate is skew BY DEFINITION
    ("Home", cookie banners, copyright footers appear on millions of
    pages), so the hot-line counting must never funnel one reducer.
    Lines shorter than ``min_len`` chars are ignored (never treated as
    boilerplate; blank separators stay)."""
    from arachne_spark.operators.skew import salted_count

    lines = (
        docs.select(
            F.col(id_col).alias("__id"),
            F.explode(F.split(F.col(text_col), "\n", -1)).alias("line"),
        )
        .where(F.length("line") >= min_len)
        .dropDuplicates(["__id", "line"])
    )
    counts = salted_count(lines, ["line"], F.col("__id"))
    return counts.where(F.col("cnt") > max_occurrences).select(
        "line", F.col("cnt").alias("n_docs")
    )


def strip_boilerplate(
    docs: DataFrame,
    max_occurrences: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 1,
) -> DataFrame:
    """C4-style cross-corpus boilerplate removal: delete every line
    that appears in more than ``max_occurrences`` documents, preserving
    the order of the surviving lines; all other columns pass through.

    Scale shape: one posexplode of the corpus (line order carried as
    the position), a left-anti join against the (small) boilerplate
    line set — AQE broadcasts it; corpus-scale data shuffles only for
    the per-doc reassembly groupBy (``rebuild_text``)."""
    boiler = boilerplate_lines(
        docs, max_occurrences, id_col, text_col, min_len
    ).select("line")
    exploded = docs.select(
        *[c for c in docs.columns if c != text_col],
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias(
            "__idx", "__piece"
        ),
    )
    kept = exploded.join(
        boiler, exploded["__piece"] == boiler["line"], "left_anti"
    )
    return rebuild_text(kept, docs, id_col, text_col, "\n")


# published Gopher repetition cut points (Rae et al. 2021, A1.1)
MAX_DUP_LINE_FRAC = 0.30
MAX_TOP2_CHAR_FRAC = 0.20
MAX_DUP5_CHAR_FRAC = 0.15


def repetition_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-rule document filter: keeps docs whose repetition
    profile passes the published Gopher cut points for the three
    signals implemented here; returns the input columns unchanged."""
    stats = repetition_stats(
        docs, id_col, text_col, top_ns=(2,), dup_ns=(5,)
    ).select(
        F.col("doc_id").alias("__rid"),
        "dup_line_frac",
        "top2_gram_char_frac",
        "dup5_gram_char_frac",
    )
    keep = (
        (F.col("dup_line_frac") <= MAX_DUP_LINE_FRAC)
        & (F.col("top2_gram_char_frac") <= MAX_TOP2_CHAR_FRAC)
        & (F.col("dup5_gram_char_frac") <= MAX_DUP5_CHAR_FRAC)
    )
    return (
        docs.join(
            stats, docs[id_col] == stats["__rid"], "left"
        )
        .where(F.coalesce(keep, F.lit(True)))
        .select(*docs.columns)
    )


def corpus_report(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-row corpus-health relation — the pre-flight audit a
    curation run starts from: document/emptiness counts, exact token
    percentiles, per-doc duplicate-line aggregates, and PII totals,
    all composed from the operators this module and operators/scrub.py
    already define (one pass per component relation, every aggregate
    partial-combinable; nothing here is a new code path to trust).

    Columns: n_docs, n_empty, total_tokens, total_chars, tokens_p50,
    tokens_p95, mean_dup_line_frac, n_email, n_ipv4, n_phone."""
    from arachne_spark.operators.scrub import pii_counts

    sized = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).cast("bigint").alias("n_chars"),
        F.when(F.length(text_col) == 0, 1).otherwise(0).alias("empty"),
        F.size(F.split(F.col(text_col), " ", -1))
        .cast("bigint")
        .alias("n_tokens"),
    )
    base = sized.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("empty").cast("bigint").alias("n_empty"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.percentile("n_tokens", F.lit(0.5)).alias("tokens_p50"),
        F.percentile("n_tokens", F.lit(0.95)).alias("tokens_p95"),
    )
    # decimal-exact mean: dup_line_frac is a 4-digit decimal, so the
    # cast is exact and the sum is order-independent (the CLAUDE.md
    # bit-determinism convention for order-sensitive float reductions)
    dup = line_repetition(docs, id_col, text_col).agg(
        F.round(
            F.sum(F.col("dup_line_frac").cast("decimal(38,18)"))
            .cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_dup_line_frac")
    )
    pii = pii_counts(docs, text_col).agg(
        F.sum("n_email").alias("n_email"),
        F.sum("n_ipv4").alias("n_ipv4"),
        F.sum("n_phone").alias("n_phone"),
    )
    return base.crossJoin(dup).crossJoin(pii)


# Gopher A1.1 required stopwords (Rae et al. 2021): a doc counts a hit
# per DISTINCT stopword present
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
# published Gopher A1.1 quality cut points
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2


def gopher_quality_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The non-repetition Gopher quality signals (Rae et al. 2021,
    A1.1), one row per doc: n_words, mean_word_len,
    symbol_word_ratio, bullet_line_frac, ellipsis_line_frac,
    alpha_word_frac, n_stop_hits.  Everything is a per-row column
    expression over the tokenized doc — no shuffle, no join, no UDF;
    the higher-order lambdas are per-row string predicates (no
    per-element structs, the trap ``dedup.token_ngrams`` avoids).
    Words = whitespace-separated non-empty tokens; mean_word_len
    divides the doc's non-whitespace char count by the
    word count (identical accounting, no per-word length array)."""
    words = "filter(split(text_q, '\\\\s+'), w -> w != '')"
    lines = "split(text_q, '\\n', -1)"
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text_q"),
    ).select(
        "doc_id",
        F.expr(f"size({words})").cast("bigint").alias("n_words"),
        F.round(
            F.expr("length(regexp_replace(text_q, '\\\\s+', ''))")
            / F.expr(f"greatest(size({words}), 1)"),
            4,
        ).alias("mean_word_len"),
        F.round(
            (
                F.expr("regexp_count(text_q, '#')")
                + F.expr(r"regexp_count(text_q, '\\.\\.\\.')")
                + F.expr("regexp_count(text_q, '…')")
            )
            / F.expr(f"greatest(size({words}), 1)"),
            4,
        ).alias("symbol_word_ratio"),
        F.round(
            F.expr(
                f"size(filter({lines},"
                " l -> l rlike '^\\\\s*[•\\\\-\\\\*]'))"
            )
            / F.expr(f"greatest(size({lines}), 1)"),
            4,
        ).alias("bullet_line_frac"),
        F.round(
            F.expr(
                f"size(filter({lines},"
                " l -> l rlike '(\\\\.\\\\.\\\\.|…)\\\\s*$'))"
            )
            / F.expr(f"greatest(size({lines}), 1)"),
            4,
        ).alias("ellipsis_line_frac"),
        F.round(
            F.expr(
                f"size(filter({words}, w -> w rlike '[A-Za-z]'))"
            )
            / F.expr(f"greatest(size({words}), 1)"),
            4,
        ).alias("alpha_word_frac"),
        F.expr(
            "size(filter(array"
            + str(GOPHER_STOPWORDS)
            + f", s -> array_contains(transform({words},"
            " w -> lower(w)), s)))"
        ).cast("int").alias("n_stop_hits"),
    )


def gopher_quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-rule document filter over the published A1.1 cut points
    (word-count window, mean word length, symbol/bullet/ellipsis
    caps, alpha-word floor, >= 2 required stopwords); returns the
    input columns unchanged.  Pairs with repetition_filter — together
    they are the full published Gopher heuristic gate."""
    stats = gopher_quality_stats(docs, id_col, text_col)
    keep = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(
            GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN
        )
        & (F.col("symbol_word_ratio") <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("bullet_line_frac") <= GOPHER_MAX_BULLET_FRAC)
        & (F.col("ellipsis_line_frac") <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_FRAC)
        & (F.col("n_stop_hits") >= GOPHER_MIN_STOP_HITS)
    )
    ok = stats.where(keep).select(F.col("doc_id").alias("__gid"))
    return docs.join(
        ok, docs[id_col] == ok["__gid"], "left_semi"
    ).select(*docs.columns)


# published C4 cut points (Raffel et al. 2020, §2.2)
C4_MIN_LINE_WORDS = 3
C4_MIN_SENTENCES = 3


def c4_clean(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The published C4 cleaning rules (Raffel et al. 2020, §2.2) as
    one row-preserving rewrite + page predicate:

    * keep only lines that end in terminal punctuation (. ! ? ")
      and hold at least ``C4_MIN_LINE_WORDS`` words;
    * drop lines containing the word "javascript" or a cookie/
      enable-JS boilerplate phrase (case-insensitive);
    * blank the whole page (empty text) when the ORIGINAL page
      contains "lorem ipsum" or a curly brace (code) — page-level
      rules in the paper, judged before line cleaning — or when the
      CLEANED text has fewer than ``C4_MIN_SENTENCES`` sentences.

    Returns the input columns with ``text`` rewritten (possibly
    empty); dropping empties is the caller's policy, same contract as
    strip_boilerplate.  Pure per-row expressions — the cross-corpus
    parts of C4 (line dedup, span dedup) are the separate
    strip_boilerplate / exact_substring_dedup operators."""
    keep_line = (
        "l -> l rlike '[.!?\"]\\\\s*$'"
        f" and size(filter(split(l, '\\\\s+'), w -> w != ''))"
        f" >= {C4_MIN_LINE_WORDS}"
        " and not lower(l) rlike"
        " 'javascript|cookies enabled|enable javascript'"
    )
    cleaned = F.expr(
        "array_join(filter(split(text_c4, '\\n', -1),"
        f" {keep_line}), '\\n')"
    )
    other = [c for c in docs.columns if c != text_col]
    out = docs.select(
        *other, F.col(text_col).alias("text_c4")
    ).withColumn("__cleaned", cleaned)
    page_ok = (
        (
            F.expr("regexp_count(__cleaned, '[.!?]')")
            >= F.lit(C4_MIN_SENTENCES)
        )
        & ~F.lower(F.col("text_c4")).contains("lorem ipsum")
        & ~F.col("text_c4").contains("{")
    )
    return out.select(
        *other,
        F.when(page_ok, F.col("__cleaned"))
        .otherwise(F.lit(""))
        .alias(text_col),
    ).select(*docs.columns)
