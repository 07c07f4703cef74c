"""Physical-plan audit: assert the plans we ship are the plans we want.

Two layers:

1. **Global sweep** over every ``queries()`` entry:
   * no ``CartesianProduct`` anywhere (the one all-pairs shape that
     cannot survive a scale-up; bounded-side cross joins must carry a
     broadcast hint so they compile to BroadcastNestedLoopJoin);
   * no ``BatchEvalPython`` anywhere (row-at-a-time Python is
     forbidden; ArrowEvalPython is the only acceptable Python
     boundary).

2. **Targeted structural checks**: broadcast joins where a dimension
   is joined, filter pushdown / column pruning reaching the parquet
   scan, semi/anti joins compiling to dedicated join types, the ANN
   queries staying on equi-join (bucketed) or broadcast-nested-loop
   (bounded brute force) strategies.

Run standalone (`python tools/explain_audit.py [--verbose]`, exits
nonzero on failure) or via pytest (tests/test_plans.py imports
``run_audit``), so the audit gates `python -m pytest` too.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

SF = "/root/testdata/sf0.01"

GLOBAL_FORBIDDEN = ("CartesianProduct", "BatchEvalPython")


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )


def final_plan_tree(df) -> str:
    """The operator tree of an executed adaptive plan's final plan: the
    tree lines between ``== Final Plan ==`` and ``== Initial Plan ==``
    (node details and the initial plan left out)."""
    plan = plan_of(df)
    return plan.split("== Final Plan ==", 1)[1].split(
        "== Initial Plan ==", 1)[0]


def _check(name, plan, expect_contains=(), expect_absent=()):
    problems = []
    for s in expect_contains:
        if s not in plan:
            problems.append(f"{name}: MISSING {s!r}")
    for s in expect_absent:
        if s in plan:
            problems.append(f"{name}: FORBIDDEN {s!r}")
    return problems


def run_audit(spark, sf_dir: str = SF, verbose: bool = False) -> list[str]:
    """Return a list of problem strings (empty = all plans pass)."""
    import __spark_entry__ as em

    problems: list[str] = []

    def audit(name, df, expect_contains=(), expect_absent=()):
        p = plan_of(df)
        found = _check(name, p, expect_contains, expect_absent)
        problems.extend(found)
        if verbose or found:
            print(("FAIL " if found else "ok   ") + name)
            if found:
                print("\n".join(found))
                print(p[:4000])

    # ---- global sweep: every contract query, no cartesian products,
    # no row-at-a-time Python
    for name, fn in em.queries().items():
        audit(name, fn(spark, sf_dir), expect_absent=GLOBAL_FORBIDDEN)

    # ---- targeted checks
    audit(
        "q05 broadcast join", em.q05_broadcast_enrich(spark, sf_dir),
        expect_contains=("BroadcastHashJoin",),
        expect_absent=("SortMergeJoin",),
    )
    audit(
        "q03 column pruning", em.q03_dedup_exact(spark, sf_dir),
        expect_contains=("ReadSchema: struct<l_returnflag:string,"
                         "l_linestatus:string>",),
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .where(F.col("l_quantity") > 40)
        .select("l_orderkey")
    )
    audit(
        "filter pushdown", li,
        expect_contains=("PushedFilters: [IsNotNull(l_quantity), "
                         "GreaterThan(l_quantity,40.0)]",),
    )

    # KG mention path: dictionary broadcast; no Python at all, neither a
    # Python UDF nor a scan of a Python RDD (createDataFrame over a list)
    from arachne_spark.operators.extract import clean_pages
    from arachne_spark.operators.mentions import detect_mentions
    from arachne_spark.sources.dictionary import alias_df
    from arachne_spark.sources.pages import pages_df

    clean = clean_pages(pages_df(spark, 100))
    m = detect_mentions(clean, alias_df(spark))
    audit(
        "mention detection", m,
        expect_contains=("BroadcastHashJoin",),
        expect_absent=("ArrowEvalPython", "BatchEvalPython", "ExistingRDD"),
    )
    # fuzzy link: the same, and no interpreted higher-order function
    # (MinHash signatures are an aggregation over shingle rows)
    from arachne_spark.operators.lsh_link import fuzzy_mentions, minhash

    audit(
        "fuzzy link", fuzzy_mentions(clean, m, alias_df(spark)),
        expect_contains=("BroadcastHashJoin",),
        expect_absent=("lambdafunction", "ArrowEvalPython",
                       "BatchEvalPython", "ExistingRDD"),
    )
    # ...and the unmatched-token occurrences are evaluated once: after
    # execution, the signature aggregation reads the occurrence
    # shuffle of the join back as a reused exchange, so the final plan
    # holds one tokenize → anti-join subtree.  Its inputs are
    # materialized first, as the stage graph's committed tables are
    # (mention detection's own dominance anti-join stays out of it).
    fuzzy = fuzzy_mentions(
        clean.localCheckpoint(), m.localCheckpoint(), alias_df(spark)
    )
    fuzzy.collect()  # runs this DataFrame's own (adaptive) plan
    final = final_plan_tree(fuzzy)
    n_anti = sum("LeftAnti" in line for line in final.splitlines())
    if n_anti != 1 or "ReusedExchange" not in final:
        problems.append(
            f"fuzzy link: {n_anti} LeftAnti joins in the executed plan"
            " (want 1, with a ReusedExchange)"
        )
        print(final)
    elif verbose:
        print("ok   fuzzy link evaluates unmatched tokens once")

    # page shingles: token k-grams by slice at exploded positions, and
    # their MinHash signatures by aggregation — no interpreted
    # higher-order function.
    # (Audited before the dedup's clustering: a small pair set finishes
    # on the driver as a local relation.)
    from arachne_spark.operators.dedup import doc_shingles

    audit(
        "page shingles",
        minhash(doc_shingles(clean, id_col="url"), "doc_id"),
        expect_absent=("lambdafunction", "ArrowEvalPython",
                       "BatchEvalPython", "ExistingRDD"),
    )

    audit(
        "q06 semi join", em.q06_semi_join(spark, sf_dir),
        expect_contains=("LeftSemi",),
    )
    audit(
        "q07 anti join", em.q07_anti_join(spark, sf_dir),
        expect_contains=("LeftAnti",),
    )

    # ANN strategies: bounded brute force must be a broadcast
    # nested-loop (query side broadcast), bucketed search must stay on
    # equi-joins — neither may be a CartesianProduct (already swept,
    # asserted again here for clarity of intent)
    audit(
        "q26 brute-force broadcast", em.q26_cosine_topk(spark, sf_dir),
        expect_contains=("BroadcastNestedLoopJoin",),
        expect_absent=("CartesianProduct",),
    )
    audit(
        "q27 bucketed near-dup", em.q27_embed_neardup(spark, sf_dir),
        expect_absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )
    audit(
        "q37 bucketed ann", em.q37_ann_lsh_topk(spark, sf_dir),
        expect_absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )

    # per-kind routed enrichment: every source joins as a broadcast
    # (the routed fact side must not shuffle)
    audit(
        "q40 routed broadcasts", em.q40_fetch_routing(spark, sf_dir),
        expect_contains=("BroadcastHashJoin",),
        expect_absent=("SortMergeJoin",),
    )
    # multimodal fan-out runs through the Arrow MapInPandas boundary,
    # never row-at-a-time Python
    audit(
        "q42 arrow fan-out", em.q42_frame_sample(spark, sf_dir),
        expect_contains=("MapInPandas",),
    )

    # ---- curation / model-op family (outside the 50-query registry;
    # audited here so the plan gate covers them too)
    from arachne_spark.operators.classify import (
        hashed_ngram_features,
        quality_score,
    )
    from arachne_spark.operators.dedup import exact_substring_dedup
    from arachne_spark.operators.lm import lm_perplexity, lm_train
    from arachne_spark.operators.quality import (
        repetition_stats,
        strip_boilerplate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the text operators build token n-grams by slice at exploded
    # positions and rebuild text by struct-field extraction: no
    # interpreted lambda
    no_lambda = (*GLOBAL_FORBIDDEN, "lambdafunction")
    audit(
        "exact substring dedup", exact_substring_dedup(docs, k=8),
        expect_absent=no_lambda,
    )
    audit(
        "repetition stats", repetition_stats(docs),
        expect_absent=no_lambda,
    )
    audit(
        "strip boilerplate", strip_boilerplate(docs, max_occurrences=50),
        expect_absent=no_lambda,
    )
    # classifier scoring: the bounded weight relation joins broadcast
    audit(
        "classifier scoring",
        quality_score(docs, {7: 0.5, 11: -0.25}, 0.1,
                      n_features=1 << 12),
        expect_contains=("BroadcastHashJoin",),
        expect_absent=GLOBAL_FORBIDDEN,
    )
    audit(
        "classifier features",
        hashed_ngram_features(docs, n_features=1 << 12),
        expect_absent=no_lambda,
    )
    uni, bi = lm_train(docs.limit(50))
    audit(
        "lm perplexity", lm_perplexity(docs, uni, bi),
        expect_absent=GLOBAL_FORBIDDEN,
    )
    # BPE encode: the Python scan is Arrow-batched and runs over the
    # DISTINCT-word relation only (plan shows MapInPandas downstream
    # of a word-level aggregate, never corpus rows into Python)
    from arachne_spark.operators.bpe import bpe_encode

    audit(
        "bpe encode",
        bpe_encode(docs, [("t", "h"), ("th", "e</w>")]),
        expect_contains=("MapInPandas",),
        expect_absent=GLOBAL_FORBIDDEN,
    )

    return problems


def main() -> None:
    from arachne_spark.session import get_spark

    verbose = "--verbose" in sys.argv
    spark = get_spark("explain-audit", master="local[4]",
                      shuffle_partitions=8)
    problems = run_audit(spark, verbose=verbose)
    spark.stop()
    print("PROBLEMS:", problems or "none")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
