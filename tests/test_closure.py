"""Delta-doubling transitive closure must agree with a pure-Python BFS
oracle on shapes that stress it differently: a deep chain (many
rounds — the round-count proof), a shallow tree (the q17 / P31-P279
class-hierarchy shape), and a cyclic graph (fixpoint termination with
self-reachability)."""

from __future__ import annotations

from collections import deque

import pytest

from arachne_spark.operators.closure import reachable_from, transitive_closure


def _bfs_closure(edges: list[tuple[int, int]]) -> set[tuple[int, int]]:
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    out = set()
    for start in nodes:
        seen, dq = set(), deque(adj.get(start, []))
        while dq:
            v = dq.popleft()
            if v in seen:
                continue
            seen.add(v)
            dq.extend(adj.get(v, []))
        out |= {(start, v) for v in seen}
    return out


# depth 39: the most rounds (⌈log2 39⌉ + 1)
CHAIN = [(i, i + 1) for i in range(1, 40)]
TREE = [(i, i // 2) for i in range(2, 200)]  # q17 shape: log-depth
CYCLIC = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (6, 4), (7, 7)]


# "auto" names the delta-doubling strategy, the only one
@pytest.mark.parametrize(
    "edges",
    [CHAIN, TREE, CYCLIC],
    ids=["chain-auto", "tree-auto", "cyclic-auto"],
)
def test_closure_matches_bfs_oracle(spark, edges):
    want = _bfs_closure(edges)
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {(r["src"], r["dst"]) for r in transitive_closure(df).collect()}
    assert got == want


def test_reachable_from_targets(spark):
    """The ``p/q* <target>`` SPARQL shape: nodes with a path (length
    >= 0) into the target set — q44's operator."""
    edges = spark.createDataFrame(TREE, "src bigint, dst bigint")
    targets = spark.createDataFrame([(3,), (50,)], "node bigint")
    got = {
        r[0] for r in reachable_from(edges, targets).collect()
    }
    clos = _bfs_closure(TREE)
    want = {s for (s, d) in clos if d in (3, 50)} | {3, 50}
    assert got == want
