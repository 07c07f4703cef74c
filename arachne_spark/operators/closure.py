"""Iterative transitive closure over an edge DataFrame.

Query capability for SPARQL property paths like ``wdt:P31/wdt:P279*``
(/root/reference/tests/sparql_tests.cpp:78-99): reachability over the
``triples`` table, computed as join-until-fixpoint in
``fixpoint.fixpoint`` (per-round ``localCheckpoint``, one action per
round, shuffles sized to 2·|R|).

**Delta doubling**: R_{k+1} = R_k ∪ Δ_k∘R_k ∪ R_k∘Δ_k where
Δ_k = R_k \\ R_{k-1}.  Exact: a pair of R_k∘R_k not already in R_k must
have at least one half in Δ_k (else both halves were in R_{k-1} and the
pair is in R_{k-1}∘R_{k-1} ⊆ R_k).  So it keeps doubling's ⌈log2 d⌉ + 1
rounds — each driver round is a scheduling barrier, the dominant cost
for the shallow P31/P279 class trees this engine meets — while each
round's join is *frontier-proportional* instead of |R|², which is what
survives at scale: in late rounds Δ is tiny and AQE broadcasts it,
whereas plain doubling re-self-joins the entire closure just to
discover nothing is new.  One action per round: new-pair bookkeeping
rides a min(flag) aggregate, so the convergence check and the Δ
extraction share the round's single job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arachne_spark.operators.fixpoint import fixpoint


def _delta_double(result: DataFrame) -> DataFrame:
    """One round over rows (src, dst, new): new = 1 iff the pair was
    first derived in the latest round, so Δ is ``new = 1``.  The start
    relation has no flag: all of it is Δ, and Δ and R then share one
    plan, so AQE reuses their shuffles."""
    r = result.select("src", "dst")
    delta = r
    if "new" in result.columns:
        delta = result.where(F.col("new") == 1).select("src", "dst")
    stepped = (
        delta.select("src", F.col("dst").alias("mid"))
        .join(r.select(F.col("src").alias("mid"), "dst"), "mid")
        .select("src", "dst")
        .unionByName(
            r.select("src", F.col("dst").alias("mid"))
            .join(delta.select(F.col("src").alias("mid"), "dst"), "mid")
            .select("src", "dst")
        )
        .withColumn("new", F.lit(1))
    )
    return (
        result.withColumn("new", F.lit(0))
        .unionByName(stepped)
        .groupBy("src", "dst")
        .agg(F.min("new").alias("new"))
    )


def _count_new(grown: DataFrame):
    """groupBy(new).count() is the round's one action; the closure at
    most doubles per round, so the next round is sized for 2·|R|."""
    counts = {
        row["new"]: row["cnt"]
        for row in grown.groupBy("new").agg(F.count("*").alias("cnt"))
        .collect()
    }
    return 2 * sum(counts.values()), counts.get(1, 0)


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """→ all (src, dst) pairs with a directed path of length >= 1."""
    return fixpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct(),
        _delta_double,
        _count_new,
        lambda _, n_new: n_new == 0,
    ).select("src", "dst")


def reachable_from(
    edges: DataFrame,
    targets: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Nodes with a path (length >= 0) into `targets` — the
    ``p/q* <target>`` shape: closure restricted to target sinks plus the
    targets themselves."""
    clos = transitive_closure(edges, src, dst)
    hits = clos.join(
        targets.withColumnRenamed(targets.columns[0], "dst"), "dst"
    ).select("src")
    selfs = targets.withColumnRenamed(targets.columns[0], "src")
    return hits.unionByName(selfs).distinct()
