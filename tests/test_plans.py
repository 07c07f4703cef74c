"""Physical-plan gate, wired into pytest: every contract query is
explained (not executed) and checked for forbidden shapes — any
CartesianProduct or row-at-a-time BatchEvalPython anywhere fails the
suite — plus the targeted structural expectations (broadcasts,
pushdown, pruning, join types, ANN strategies) in
tools/explain_audit.py."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from explain_audit import final_plan_tree, plan_of, run_audit  # noqa: E402


def test_physical_plans(spark):
    problems = run_audit(spark)
    assert problems == []


def test_page_dedup_aggregates_signatures_once(spark, monkeypatch):
    """Page dedup caps hot shingles and hot band buckets by a window
    count, and caps the buckets once, before its band self-join: the
    executed pair plan runs the signature aggregation once (partial +
    final, two ObjectHashAggregate nodes; both join sides read it) and
    holds one join, the band join — the shingle cap is a Window.  The
    input is materialized, as the stage graph's committed tables
    are."""
    from arachne_spark.operators import dedup
    from arachne_spark.operators.extract import clean_pages
    from arachne_spark.sources.pages import pages_df

    seen = []

    def capture(ids, pairs):
        seen.append(pairs)
        return representatives(ids, pairs)

    representatives = dedup.representatives
    monkeypatch.setattr(dedup, "representatives", capture)
    clean = clean_pages(pages_df(spark, 300)).localCheckpoint()
    dedup.minhash_doc_dedup(clean, "url", "text")
    (pairs,) = seen
    pairs.collect()  # runs the pair relation's own (adaptive) plan
    tree = final_plan_tree(pairs).splitlines()
    assert sum("ObjectHashAggregate" in n for n in tree) == 2, tree
    assert sum("Join" in n for n in tree) == 1, tree
    assert "windowspecdefinition(s#" in plan_of(pairs)


def test_enrichment_join_aqe_fallback(spark):
    """The unforced enrichment join must let AQE pick the strategy:
    a vocabulary-sized labels table broadcasts, a dictionary-breaking
    one (past spark.sql.autoBroadcastJoinThreshold) falls back to a
    shuffled join instead of OOMing the driver — the failure mode the
    old F.broadcast(labels) hint hard-coded in at 10^8-row scale."""
    from pyspark.sql import functions as F

    from arachne_spark.pipeline import enrich_entities

    def queue(n):
        return spark.range(n).select(
            F.concat(F.lit("Q"), F.col("id").cast("string")).alias("qid"),
            F.lit("item").alias("kind"),
            F.concat(
                F.lit("item:"), (F.col("id") % 64).cast("string")
            ).alias("batch_id"),
        )

    def labels(n):
        return spark.range(n).select(
            F.concat(F.lit("Q"), F.col("id").cast("string")).alias("qid"),
            F.lit("item").alias("kind"),
            F.lit("en").alias("lang"),
            F.concat(
                F.lit("label for entity number "),
                F.col("id").cast("string"),
                F.lit(" with padding text to make the row realistic"),
            ).alias("label"),
        )

    def final_join(n_labels):
        df = enrich_entities(queue(50_000), labels(n_labels))
        assert df.count() == 50_000  # left join keyed on unique qids
        return df._jdf.queryExecution().executedPlan().toString()

    small = final_join(5_000)
    assert "BroadcastHashJoin" in small
    big = final_join(6_000_000)  # ~400 MB > autoBroadcast threshold
    assert "BroadcastHashJoin" not in big
    assert "SortMergeJoin" in big or "ShuffledHashJoin" in big


def test_mention_dict_join_regimes(spark):
    """detect_mentions leaves the dictionary join to the planner: the
    resolved alias dictionary is broadcast by default, and with
    auto-broadcast disabled (the planner's view of a dictionary too
    big to broadcast) the token probe becomes a shuffled first_tok
    equi-join.  Both regimes produce identical mentions."""
    from arachne_spark.operators.mentions import detect_mentions
    from arachne_spark.sources.dictionary import alias_df
    from arachne_spark.sources.pages import pages_df

    pages = pages_df(spark, 200)
    aliases = alias_df(spark)

    default = detect_mentions(pages, aliases)
    plan = default._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    want = {tuple(r) for r in default.drop("after").collect()}

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # a shuffled join — not OOM the driver building an 8 GB+ hash
        # relation
        shuffled = detect_mentions(pages, aliases)
        splan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in splan or "ShuffledHashJoin" in splan
        got = {tuple(r) for r in shuffled.drop("after").collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
