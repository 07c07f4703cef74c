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

from explain_audit import run_audit  # noqa: E402


def test_physical_plans(spark):
    problems = run_audit(spark)
    assert problems == []


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
    """detect_mentions' dictionary-size contract (round-4 verdict item
    2): the default regime force-broadcasts the resolved alias dict
    (SURVEY §1.2 — valid to ~10^7 aliases); past the ceiling the
    caller switches to broadcast_dict=False and the token probe
    becomes a plain first_tok equi-join that AQE plans as a shuffled
    join.  Both regimes pinned, and both produce identical mentions."""
    from pyspark.sql import functions as F  # noqa: F401

    from arachne_spark.operators.mentions import detect_mentions
    from arachne_spark.sources.dictionary import alias_df
    from arachne_spark.sources.pages import pages_df

    pages = pages_df(spark, 200)
    aliases = alias_df(spark)

    forced = detect_mentions(pages, aliases)
    plan = forced._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # with the hint off and auto-broadcast disabled (the planner's
        # view of a dictionary too big to broadcast), the probe must
        # compile to a shuffled join — not OOM the driver building an
        # 8 GB+ hash relation
        fallback = detect_mentions(pages, aliases, broadcast_dict=False)
        fplan = fallback._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in fplan or "ShuffledHashJoin" in fplan
        want = {tuple(r) for r in forced.drop("after").collect()}
        got = {tuple(r) for r in fallback.drop("after").collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
