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

The rounds run in ``fixpoint.fixpoint``.  Once the edge frontier fits
one shuffle partition (at the start, or after any round) the loop
collects it and ``_min_key_roots`` finishes on the driver: a union-find
that always hangs the larger root under the smaller, so every node ends
under the minimum key of its component — the loop's own answer,
whatever the edge order.  Python compares the collected keys as Spark
does: struct keys field by field (as tuples), strings by code point
(Spark's UTF-8 binary order), numbers by value.  The converged edges go
back through ``session.local_df``, so no Python worker starts.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arachne_spark.operators.fixpoint import fixpoint
from arachne_spark.session import local_df

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


def _min_key_roots(pairs) -> dict:
    """{node: minimum node of its component} over undirected ``pairs``."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _star_edges(
    edges: DataFrame, src: str, dst: str, key_encode: bool
) -> DataFrame:
    """(node, component) for every node but the root of its component,
    component = the min-priority member: the converged star edges."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.where(F.col("src") != F.col("dst"))
    id_type = e.schema["src"].dataType.simpleString()

    def encode(d: DataFrame) -> DataFrame:
        if not key_encode:
            return d
        return d.select(
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

    def finish(rows) -> DataFrame:
        """The converged edges from the collected ones; keys travel to
        ``local_df`` as their ids and are encoded again."""
        star = [
            (n.id, r.id) if key_encode else (n, r)
            for n, r in _min_key_roots(rows).items()
            if n != r
        ]
        schema = f"src {id_type}, dst {id_type}"
        return encode(local_df(edges.sparkSession, star, schema))

    e = fixpoint(
        encode(e).distinct(),
        lambda d: _small_star(_large_star(d)),
        sig,
        operator.eq,
        measure_start=True,
        finish=finish,
    )
    if key_encode:
        return e.select(
            F.col("src.id").alias("node"), F.col("dst.id").alias("component")
        )
    return e.select(
        F.col("src").alias("node"), F.col("dst").alias("component")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """→ (node, component) with component = min-priority member.

    `edges` is an undirected edge list over entity-ID strings.  Isolated
    nodes are not emitted (callers coalesce missing nodes to themselves).
    """
    comp = _star_edges(edges, src, dst, key_encode=True)
    roots = comp.select("component").distinct().select(
        F.col("component").alias("node"), "component"
    )
    return comp.unionByName(roots)


def representatives(ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """(id, rep_id, keep): each id of the one-column ``ids`` mapped to
    the minimum id of its component in the undirected two-column
    ``pairs``, in the id column's own type and order; an id in no pair
    (a component's root among them) is its own representative.
    keep = (id == rep_id) — filtering on it IS the dedup."""
    (idc,) = ids.columns
    comp = _star_edges(pairs, *pairs.columns, key_encode=False)
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
    return _star_edges(edges, "src", "dst", key_encode=True).select(
        F.col("node").alias("qid"), F.col("component").alias("canonical_qid")
    )
