"""NULL / degenerate text through every curation operator: a crawl
corpus WILL contain NULL text (un-extracted pages), empty strings,
control bytes, and megabyte tokens — no operator may crash, every
row-preserving operator must keep the row, and the filters must treat
an unscorable doc conservatively (drop / NULL stats), never raise.
A NULL document id is a key like any other to the text rewrites."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark):
    return spark.createDataFrame(
        [(1, "normal text with some words here."),
         (2, ""), (3, None), (4, " "), (5, "\x00\x01 ctrl"),
         (6, "x" * 5000)],
        "doc_id bigint, text string",
    )


def test_null_text_sweep(spark):
    from arachne_spark.operators.classify import quality_score
    from arachne_spark.operators.dedup import (
        exact_substring_dedup,
        minhash_doc_dedup,
    )
    from arachne_spark.operators.lm import lm_perplexity, lm_train
    from arachne_spark.operators.quality import (
        c4_clean,
        corpus_report,
        gopher_quality_stats,
        repetition_stats,
        strip_boilerplate,
    )
    from arachne_spark.operators.scrub import scrub_pii

    docs = _docs(spark)
    n = docs.count()

    # row-preserving operators keep every row, NULL text included
    assert c4_clean(docs).count() == n
    assert strip_boilerplate(docs, 3).count() == n
    assert exact_substring_dedup(docs, k=3).count() == n
    assert minhash_doc_dedup(docs).count() == n
    assert scrub_pii(docs).count() == n
    assert quality_score(docs, {3: 0.5}, 0.0, n_features=64).count() == n
    assert repetition_stats(docs).count() == n

    # NULL text yields NULL stats (not zeros, not a crash) — the
    # gopher filter then drops it conservatively
    g = {
        r["doc_id"]: r.asDict()
        for r in gopher_quality_stats(docs).collect()
    }
    assert g[3]["n_words"] is None
    assert g[3]["mean_word_len"] is None
    # empty string = ZERO words (empty tokens are filtered; contrast
    # corpus_report's raw split, where "" is one empty token)
    assert g[2]["n_words"] == 0

    # corpus_report aggregates survive the NULL row
    rep = corpus_report(docs).collect()[0]
    assert rep["n_docs"] == n

    # the LM never raises; the NULL-text doc produces no bigrams and
    # is absent from the score relation (lm_filter drops it — the
    # conservative treatment of an unscorable doc)
    uni, bi = lm_train(docs)
    ppl = lm_perplexity(docs, uni, bi)
    assert ppl.count() == n - 1
    assert ppl.where(F.col("doc_id") == 3).count() == 0


def test_strip_boilerplate_null_id_comes_back_once(spark):
    """The rebuild's restoring anti-join is null-safe: a NULL-id doc
    that keeps a line is not restored a second time, empty."""
    from arachne_spark.operators.quality import strip_boilerplate

    docs = spark.createDataFrame(
        [(1, "home\nbody one"), (2, "home\nbody two"),
         (None, "home\nbody three"), (3, "other")],
        "doc_id bigint, text string",
    )
    got = sorted(
        (r["doc_id"] is None, r["doc_id"] or 0, r["text"])
        for r in strip_boilerplate(docs, max_occurrences=1).collect()
    )
    assert got == [
        (False, 1, "body one"), (False, 2, "body two"),
        (False, 3, "other"), (True, 0, "body three"),
    ]


def test_exact_substring_dedup_null_id_first_occurrence(spark):
    """A span whose first occurrence sits in a NULL-id doc is still cut
    from every later occurrence, as it is under a non-NULL id."""
    from arachne_spark.operators.dedup import exact_substring_dedup

    def run(first_id):
        docs = spark.createDataFrame(
            [(first_id, "p q r s"), (3, "p q r s t")],
            "doc_id bigint, text string",
        )
        return {
            r["doc_id"]: r["text"]
            for r in exact_substring_dedup(docs, k=3).collect()
        }

    assert run(1) == {1: "p q r s", 3: "t"}
    assert run(None) == {None: "p q r s", 3: "t"}
