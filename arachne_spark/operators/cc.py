"""Iterative connected components — large-star / small-star on DataFrames.

This is the "penelope" re-stitcher capability (empty in the reference —
/root/reference/include/penelope.hpp:29; persona readme.md:23-26): merge
co-referent entities (sameAs edges) into canonical clusters.  Algorithm
follows the alternating large-star/small-star construction of Kiveris et
al., "Connected Components in MapReduce and Beyond" (SoCC'14): O(log n)
rounds, each round two aggregate+join passes, no collect_set (so a
10^9-node star never materializes a neighborhood list on one executor).

Node ordering is the *deterministic QID priority* (prefix, then numeric
part ascending; ids that are not ``<letter><digits>`` after every QID, in
string order) — not raw string order — so the component representative
is stable across runs and parallelism levels.  Nodes are keyed by an
injective struct that carries the id itself, so distinct ids never
share a key and the output is read straight off the key.

The rounds run in ``fixpoint.fixpoint``.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arachne_spark.operators.fixpoint import fixpoint

_NUM_RE = r"^([A-Z])([0-9]+)$"


def _qid_key(col):
    """'Q5' → (False, 'Q', 1, '5', 'Q5'): orders by (prefix, numeric)."""
    digits = F.regexp_extract(col, _NUM_RE, 2)
    return F.struct(
        (digits == "").alias("other"),
        F.regexp_extract(col, _NUM_RE, 1).alias("prefix"),
        F.length(digits).alias("width"),
        digits.alias("digits"),
        col.alias("id"),
    )


def _undirect(edges: DataFrame) -> DataFrame:
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return edges.unionByName(rev)


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m) for v ∈ Γ(u), v > u, where m = min(Γ(u) ∪ {u})."""
    nbrs = _undirect(edges)
    mins = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For v ≤ u neighborhoods: (v, m) ∪ (u, m), m = min(Γ≤(u) ∪ {u})."""
    # orient every edge small→large, group by the large end
    oriented = _undirect(edges).where(F.col("dst") < F.col("src"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    links = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_links = mins.select("src", F.col("m").alias("dst"))
    return links.unionByName(self_links).where(
        F.col("src") != F.col("dst")
    ).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    key_encode: bool = True,
) -> DataFrame:
    """→ (node, component) with component = min-priority member.

    `edges` is an undirected edge list over entity-ID strings (or any
    orderable column type if key_encode=False).  Isolated nodes are not
    emitted (callers coalesce missing nodes to themselves).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.where(F.col("src") != F.col("dst"))
    if key_encode:
        e = e.select(
            _qid_key(F.col("src")).alias("src"),
            _qid_key(F.col("dst")).alias("dst"),
        )

    # convergence: edge multiset unchanged (order-insensitive hash).
    # decimal accumulate: a raw long sum of xxhash64 overflows ANSI.
    def sig(d: DataFrame):
        s = d.select(
            F.count("*").alias("c"),
            F.sum(
                F.xxhash64("src", "dst").cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        return s["c"], s

    e = fixpoint(
        e.distinct(),
        lambda d: _small_star(_large_star(d)),
        sig,
        operator.eq,
        measure_start=True,
    )

    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = comp.select(F.col("component")).distinct().select(
        F.col("component").alias("node"), F.col("component")
    )
    out = comp.unionByName(roots).distinct()
    if key_encode:
        out = out.select(
            F.col("node.id").alias("node"),
            F.col("component.id").alias("component"),
        )
    return out


def representatives(ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """(id, rep_id, keep): each id of the one-column ``ids`` mapped to
    the minimum id of its component in the undirected two-column
    ``pairs``, in the id column's own type and order; an id in no pair
    is its own representative.  keep = (id == rep_id) — filtering on
    it IS the dedup."""
    (idc,) = ids.columns
    comp = connected_components(pairs, *pairs.columns, key_encode=False)
    return (
        ids.join(
            comp.select(
                F.col("node").alias(idc), F.col("component").alias("rep_id")
            ),
            idc,
            "left",
        )
        .select(idc, F.coalesce("rep_id", idc).alias("rep_id"))
        .withColumn("keep", F.col(idc) == F.col("rep_id"))
    )


def canonical_mapping(edges: DataFrame) -> DataFrame:
    """(qid, canonical_qid) from sameAs edges; identity rows omitted."""
    cc = connected_components(edges)
    return cc.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("qid"), F.col("component").alias("canonical_qid")
    )
