"""Gopher-style repetition quality filters vs an independent
pure-Python twin.  The fixture corpus is adversarial on purpose:
clean prose, a fully-degenerate repeated phrase, duplicated
boilerplate lines, a single-token doc, an empty-ish doc, and a doc
whose repetition sits exactly at a threshold — every branch of the
char-accounting definitions in operators/quality.py is exercised, and
the Spark plan is asserted shuffle-lean (no BatchEvalPython, no
CartesianProduct)."""

from __future__ import annotations

from collections import Counter
from decimal import Decimal, ROUND_HALF_UP


def _r4(x: float) -> float:
    """Spark's F.round is HALF_UP; Python's round is banker's."""
    return float(Decimal(repr(x)).quantize(
        Decimal("0.0001"), rounding=ROUND_HALF_UP
    ))

from pyspark.sql import functions as F

from arachne_spark.operators.quality import (
    repetition_filter,
    repetition_stats,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river "
        "bank while birds sing in the morning light"),
    # degenerate: one phrase repeated — top2/dup5 fractions near 1
    (1, "buy now " * 20),
    # duplicated boilerplate lines
    (2, "header line\nunique content alpha\nheader line\n"
        "unique content beta\nheader line"),
    (3, "word"),
    (4, ""),
    # mild repetition: a 2-gram appearing twice in otherwise-unique text
    (5, "alpha beta gamma delta alpha beta epsilon zeta eta theta "
        "iota kappa"),
]
TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)


def _py_stats(doc_id: int, text: str) -> dict:
    out = {"doc_id": doc_id}
    lines = text.split("\n")
    lc = Counter(lines)
    out["n_lines"] = len(lines)
    out["dup_line_frac"] = _r4(1.0 - len(lc) / len(lines))
    tot = sum(c * len(ln) for ln, c in lc.items())
    dup = sum((c - 1) * len(ln) for ln, c in lc.items())
    out["dup_line_char_frac"] = _r4(dup / max(tot, 1))
    toks = text.split(" ")
    n_chars = max(len(text), 1)
    for n in sorted(set(TOP_NS) | set(DUP_NS)):
        grams = Counter(
            " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
        )
        if n in TOP_NS:
            top = max(
                ((c * len(g), g) for g, c in grams.items()),
                default=(0.0, ""),
            )[0]
            out[f"top{n}_gram_char_frac"] = _r4(min(top / n_chars, 1.0))
        if n in DUP_NS:
            d = sum(c * len(g) for g, c in grams.items() if c > 1)
            out[f"dup{n}_gram_char_frac"] = _r4(min(d / n_chars, 1.0))
    return out


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_repetition_stats_match_python_twin(spark):
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_stats(
            _docs_df(spark), top_ns=TOP_NS, dup_ns=DUP_NS
        ).collect()
    }
    assert set(got) == {d for d, _ in DOCS}
    for doc_id, text in DOCS:
        exp = _py_stats(doc_id, text)
        assert got[doc_id] == exp, (doc_id, got[doc_id], exp)


def test_repetition_stats_sanity_extremes(spark):
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_stats(_docs_df(spark)).collect()
    }
    # degenerate doc: dominated by the repeated phrase
    assert got[1]["top2_gram_char_frac"] >= 0.85
    assert got[1]["dup5_gram_char_frac"] == 1.0
    # clean prose: low everywhere
    assert got[0]["top2_gram_char_frac"] < 0.15
    assert got[0]["dup5_gram_char_frac"] == 0.0
    assert got[0]["dup_line_frac"] == 0.0
    # boilerplate lines: 3 "header line" occurrences out of 5 lines
    assert got[2]["dup_line_frac"] == 0.4
    # single-token / empty docs survive with zeros
    for d in (3, 4):
        assert got[d]["top2_gram_char_frac"] == 0.0
        assert got[d]["dup5_gram_char_frac"] == 0.0


def test_repetition_filter_gopher_rules(spark):
    kept = {
        r["doc_id"]
        for r in repetition_filter(_docs_df(spark)).collect()
    }
    # the degenerate doc is dropped; clean prose and short docs stay
    assert 1 not in kept
    assert {0, 3, 4}.issubset(kept)
    # columns pass through unchanged
    cols = repetition_filter(_docs_df(spark)).columns
    assert cols == ["doc_id", "text"]


def test_repetition_plan_is_jvm_side(spark):
    s = (
        repetition_stats(_docs_df(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in s
    assert "ArrowEvalPython" not in s
    assert "CartesianProduct" not in s


BOILER_DOCS = [
    # 30 docs sharing a header/footer; distinct middles; one doc that
    # is ALL boilerplate; one empty doc
    *[
        (100 + i,
         f"SITE HEADER\nunique article body number {i} with words\n"
         f"more unique prose {i}\nCOPYRIGHT FOOTER")
        for i in range(30)
    ],
    (200, "SITE HEADER\nCOPYRIGHT FOOTER"),
    (201, ""),
    # a line repeated INSIDE one doc only — per-doc repetition, not
    # corpus boilerplate: must survive
    (202, "local refrain\nlocal refrain\nsome body text here"),
]


def test_boilerplate_lines_and_strip(spark):
    from arachne_spark.operators.quality import (
        boilerplate_lines,
        strip_boilerplate,
    )

    df = spark.createDataFrame(BOILER_DOCS, "doc_id long, text string")
    boiler = {
        r["line"]: r["n_docs"]
        for r in boilerplate_lines(df, max_occurrences=5).collect()
    }
    assert boiler == {"SITE HEADER": 31, "COPYRIGHT FOOTER": 31}
    out = {
        r["doc_id"]: r["text"]
        for r in strip_boilerplate(df, max_occurrences=5).collect()
    }
    assert len(out) == len(BOILER_DOCS)  # row-preserving
    assert out[100] == (
        "unique article body number 0 with words\nmore unique prose 0"
    )
    assert out[200] == ""  # all-boilerplate doc survives, emptied
    assert out[201] == ""
    assert out[202] == "local refrain\nlocal refrain\nsome body text here"
    # python twin over the whole fixture
    from collections import Counter

    per_doc_lines = {d: t.split("\n") for d, t in BOILER_DOCS}
    df_counts = Counter(
        ln
        for lines in per_doc_lines.values()
        for ln in set(lines)
        if len(ln) >= 1
    )
    hot = {ln for ln, c in df_counts.items() if c > 5}
    for d, lines in per_doc_lines.items():
        want = "\n".join(ln for ln in lines if ln not in hot)
        assert out[d] == want, (d, out[d], want)


def test_strip_boilerplate_hot_lines_at_scale(spark):
    """1e5 docs sharing two boilerplate lines: the hot-line count runs
    through the salted two-phase aggregation, so the two 1e5-count
    keys spread over all reducers instead of funneling one, and the
    anti-join side stays 2 rows (broadcast).  Correctness at the skew
    point: exactly the two hot lines are removed, all rows survive."""
    from arachne_spark.operators.quality import (
        boilerplate_lines,
        strip_boilerplate,
    )

    n = 100_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("SITE HEADER\nunique body "),
            F.col("id").cast("string"),
            F.lit("\nCOPYRIGHT FOOTER"),
        ).alias("text"),
    )
    hot = {
        r["line"]: r["n_docs"]
        for r in boilerplate_lines(docs, max_occurrences=1000).collect()
    }
    assert hot == {"SITE HEADER": n, "COPYRIGHT FOOTER": n}
    out = strip_boilerplate(docs, max_occurrences=1000)
    assert out.count() == n
    assert out.where(
        F.col("text").contains("SITE HEADER")
        | F.col("text").contains("COPYRIGHT FOOTER")
    ).count() == 0
    assert out.where(
        F.col("text") == F.concat(
            F.lit("unique body "), F.col("doc_id").cast("string")
        )
    ).count() == n


def test_corpus_report(spark):
    """One-row corpus audit: every aggregate reproduced by hand."""
    from arachne_spark.operators.quality import corpus_report

    docs = {
        1: "alpha beta gamma\nalpha beta gamma\ndelta",
        2: "contact me at bob@example.net or 10.1.2.3",
        3: "",
        4: "one two three four five six seven eight nine ten",
    }
    df = spark.createDataFrame(
        list(docs.items()), "doc_id bigint, text string"
    )
    r = corpus_report(df).collect()[0].asDict()
    assert r["n_docs"] == 4 and r["n_empty"] == 1
    token_counts = sorted(len(t.split(" ")) for t in docs.values())
    assert r["total_tokens"] == sum(token_counts)
    assert r["total_chars"] == sum(len(t) for t in docs.values())

    def pct(vals, q):  # exact percentile, linear interpolation
        i = q * (len(vals) - 1)
        lo = int(i)
        return vals[lo] + (i - lo) * (vals[min(lo + 1, len(vals) - 1)]
                                      - vals[lo])

    assert abs(r["tokens_p50"] - pct(token_counts, 0.5)) < 1e-9
    assert abs(r["tokens_p95"] - pct(token_counts, 0.95)) < 1e-9
    # doc 1: 3 lines, 2 distinct -> 1/3; others 0
    assert abs(r["mean_dup_line_frac"] - round((1 / 3) / 4, 4)) < 5e-5
    assert (r["n_email"], r["n_ipv4"], r["n_phone"]) == (1, 1, 0)


def test_gopher_quality_stats_and_filter(spark):
    """Gopher A1.1 signals reproduced by a pure-Python twin; the
    filter keeps exactly the docs passing every published cut."""
    import re

    from arachne_spark.operators.quality import (
        GOPHER_STOPWORDS,
        gopher_quality_filter,
        gopher_quality_stats,
    )

    good = " ".join(
        "the committee decided to review all of these documents and "
        "agreed that they have worked with great care".split()
        * 4
    )
    docs = {
        1: good,                                    # passes everything
        2: "buy " * 60,                             # no stopword hits
        3: "- item one\n- item two\n- item three",  # bullets + short
        4: "### symbols ### everywhere ### " * 20,  # symbol ratio
        5: "waiting... thinking...\nmore dots...\nyes...",  # ellipses
        6: "",                                      # empty
    }
    df = spark.createDataFrame(
        list(docs.items()), "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_quality_stats(df).collect()
    }

    for i, t in docs.items():
        words = [w for w in re.split(r"\s+", t) if w]
        n = len(words)
        g = got[i]
        assert g["n_words"] == n, i
        if n:
            assert abs(
                g["mean_word_len"]
                - round(sum(len(w) for w in words) / n, 4)
            ) < 5e-4, i
            assert abs(
                g["alpha_word_frac"]
                - round(
                    sum(1 for w in words if re.search("[A-Za-z]", w))
                    / n,
                    4,
                )
            ) < 5e-5, i
        lines = t.split("\n")
        assert abs(
            g["bullet_line_frac"]
            - round(
                sum(
                    1 for ln in lines
                    if re.match(r"^\s*[•\-\*]", ln)
                ) / max(len(lines), 1),
                4,
            )
        ) < 5e-5, i
        assert g["n_stop_hits"] == sum(
            1
            for s in GOPHER_STOPWORDS
            if s in [w.lower() for w in words]
        ), i

    kept = {
        r["doc_id"]
        for r in gopher_quality_filter(df).select("doc_id").collect()
    }
    assert kept == {1}


def test_c4_clean(spark):
    from arachne_spark.operators.quality import c4_clean

    docs = {
        # clean prose: all lines survive, page survives
        1: "This is a proper sentence.\nAnd here is another one!\n"
           "Surely a third survives too.",
        # mixed: unterminated + short + javascript lines drop,
        # the page keeps the three good sentences
        2: "Click here\nPlease enable javascript to continue.\n"
           "The first real sentence is right here.\n"
           "A second sentence follows it.\nShort.\n"
           "Finally the third sentence lands here.",
        # lorem ipsum kills the page even with good lines
        3: "Lorem ipsum dolor sit amet sentence one.\n"
           "Sentence two is here today.\nSentence three arrives now.",
        # code page: curly brace kills it
        4: "The function returns {x} as a value.\n"
           "A second sentence exists here.\nAnd a third one too.",
        # too few sentences after cleaning
        5: "Only one good sentence here.\nnope\nnothing",
    }
    df = spark.createDataFrame(
        list(docs.items()), "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: r["text"] for r in c4_clean(df).collect()
    }
    assert got[1] == docs[1]
    assert got[2] == (
        "The first real sentence is right here.\n"
        "A second sentence follows it.\n"
        "Finally the third sentence lands here."
    )
    assert got[3] == "" and got[4] == "" and got[5] == ""
    assert set(got) == set(docs)  # row-preserving
