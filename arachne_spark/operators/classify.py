"""Model-based document quality scoring — fastText-style hashed
bag-of-n-grams linear classifier, both INFERENCE (broadcast weights,
pure column expressions) and in-engine deterministic TRAINING
(full-batch logistic regression with exact-decimal gradient sums).

This is the model-based filter family (CCNet / GPT-3 "quality
classifier", fastText supervised) that complements the heuristic
filters in operators/quality.py: heuristics catch degenerate
repetition, the linear model learns a vocabulary prior from labeled
examples (e.g. reference-corpus pages vs crawl pages).  The reference
engine has no corpus surface at all; this follows the published
pipeline designs only.

Scale posture:

* features are a per-doc projection + one (doc, feat) aggregation —
  map-side combinable, corpus never pairwise;
* the weight vector is bounded by ``n_features`` (hashing trick), so
  inference is one broadcast join + one partial-aggregatable sum per
  doc, and training collects per-feature gradients (≤ n_features
  rows) to the driver per iteration — the same bounded-scalar collect
  discipline as kmeans_fit and the CC convergence loop;
* determinism is the repo-wide hard invariant: every order-sensitive
  reduction (per-doc margin, per-feature gradient, bias gradient)
  accumulates as ``decimal(38,18)`` — exact, order-independent —
  while per-row math stays IEEE double; training from the same data
  yields byte-identical weights at any parallelism (test-pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arachne_spark.operators.dedup import token_ngrams

_ACC = "decimal(38,18)"


def hashed_ngram_features(
    docs: DataFrame,
    n_features: int = 1 << 18,
    ns: tuple[int, ...] = (1, 2),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, feat, x): L1-normalized hashed bag of word n-grams —
    fastText's input representation.  ``feat`` = xxhash64(gram) mod
    ``n_features``; ``x`` = gram count / total grams in the doc (so a
    doc's features sum to 1 and the margin is a mean, not a length-
    dependent sum).  The grams are ``dedup.token_ngrams``; docs
    shorter than min(ns) tokens produce no rows (callers treat missing
    docs as margin 0 = prob 0.5)."""
    grams = token_ngrams(
        docs.select(F.col(id_col).alias("doc_id"), text_col), text_col, ns
    )
    counts = grams.select(
        "doc_id",
        F.pmod(F.xxhash64("gram"), F.lit(n_features)).alias("feat"),
    ).groupBy("doc_id", "feat").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("doc_id").agg(F.sum("c").alias("tot"))
    return counts.join(totals, "doc_id").select(
        "doc_id",
        "feat",
        (F.col("c").cast("double") / F.col("tot")).alias("x"),
    )


def score_features(
    features: DataFrame, weights: DataFrame, bias: float
) -> DataFrame:
    """(doc_id, margin, prob): margin = Σ x·w + b with the sum taken
    in exact decimal (order-independent), prob = sigmoid(margin).
    ``weights`` is a (feat, w) relation bounded by the hashing-trick
    width, joined broadcast."""
    joined = features.join(F.broadcast(weights), "feat", "left")
    margins = joined.groupBy("doc_id").agg(
        F.coalesce(
            F.sum(
                (F.col("x") * F.coalesce(F.col("w"), F.lit(0.0))).cast(
                    _ACC
                )
            ),
            F.lit(0).cast(_ACC),
        ).alias("msum")
    )
    return margins.select(
        "doc_id",
        (F.col("msum").cast("double") + F.lit(float(bias))).alias(
            "margin"
        ),
    ).withColumn("prob", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))))


def lr_train(
    features: DataFrame,
    labels: DataFrame,
    n_iters: int = 30,
    lr: float = 2.0,
    l2: float = 0.0,
    id_col: str = "doc_id",
    label_col: str = "y",
) -> tuple[dict[int, float], float]:
    """Full-batch logistic-regression training in the engine →
    ({feat: w}, bias).  Deterministic: per-row math is IEEE double,
    every cross-row sum (gradient components, bias gradient) is an
    exact decimal aggregate, and the weight state lives on the driver
    between iterations (bounded by n_features — the kmeans_fit
    pattern).  Feed the result to ``score_features`` via
    ``weights_df``.  Labels: (doc_id, y) with y in {0.0, 1.0}."""
    spark = features.sparkSession
    lab = labels.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).cast("double").alias("y"),
    )
    n_docs = lab.count()
    if n_docs == 0:
        return {}, 0.0
    feats = features.join(lab, "doc_id").persist()
    feats.count()
    w: dict[int, float] = {}
    b = 0.0
    try:
        for _ in range(n_iters):
            wdf = weights_df(spark, w)
            resid = (
                feats.join(F.broadcast(wdf), "feat", "left")
                .groupBy("doc_id", "y")
                .agg(
                    F.coalesce(
                        F.sum(
                            (
                                F.col("x")
                                * F.coalesce(F.col("w"), F.lit(0.0))
                            ).cast(_ACC)
                        ),
                        F.lit(0).cast(_ACC),
                    ).alias("msum")
                )
                .select(
                    "doc_id",
                    (
                        F.lit(1.0)
                        / (
                            F.lit(1.0)
                            + F.exp(
                                -(F.col("msum").cast("double") + F.lit(b))
                            )
                        )
                        - F.col("y")
                    ).alias("r"),
                )
            )
            grads = (
                feats.join(resid, "doc_id")
                .groupBy("feat")
                .agg(
                    F.sum((F.col("x") * F.col("r")).cast(_ACC)).alias(
                        "g"
                    )
                )
                .collect()
            )
            gb = resid.agg(
                F.coalesce(
                    F.sum(F.col("r").cast(_ACC)), F.lit(0).cast(_ACC)
                ).alias("g")
            ).collect()[0]["g"]
            for row in grads:
                f = row["feat"]
                g = float(row["g"]) / n_docs + l2 * w.get(f, 0.0)
                w[f] = w.get(f, 0.0) - lr * g
            b -= lr * float(gb) / n_docs
    finally:
        feats.unpersist()
    return w, b


def weights_df(spark, w: dict[int, float]) -> DataFrame:
    """(feat, w) relation from a driver-side weight dict (insertion
    order irrelevant — rows are keyed)."""
    rows = sorted(w.items())
    if not rows:
        return spark.createDataFrame(
            [(0, 0.0)], "feat bigint, w double"
        ).where(F.lit(False))
    return spark.createDataFrame(rows, "feat bigint, w double")


def quality_score(
    docs: DataFrame,
    w: dict[int, float],
    bias: float,
    n_features: int = 1 << 18,
    ns: tuple[int, ...] = (1, 2),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, margin, prob) for every input doc — docs too short to
    produce features score margin = bias."""
    spark = docs.sparkSession
    feats = hashed_ngram_features(docs, n_features, ns, id_col, text_col)
    scored = score_features(feats, weights_df(spark, w), bias)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("margin", F.lit(float(bias))).alias("margin"),
            F.coalesce(
                "prob",
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.lit(float(bias)))),
            ).alias("prob"),
        )
    )


def quality_classifier_filter(
    docs: DataFrame,
    w: dict[int, float],
    bias: float,
    min_prob: float = 0.5,
    n_features: int = 1 << 18,
    ns: tuple[int, ...] = (1, 2),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep docs the classifier scores at or above ``min_prob``;
    returns the input columns unchanged."""
    scores = quality_score(
        docs, w, bias, n_features, ns, id_col, text_col
    ).where(F.col("prob") >= min_prob).select(
        F.col("doc_id").alias("__qid")
    )
    return docs.join(
        scores, docs[id_col] == scores["__qid"], "left_semi"
    ).select(*docs.columns)
