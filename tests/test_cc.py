"""Connected-components correctness at medium scale against an
independent union-find oracle, plus determinism of the representative
choice (the perpetual-stitcher semantics require byte-stable reruns).

Every input here fits one shuffle partition, so the plain tests run
the driver finish; ``test_loop_path`` reruns them with the finish
forced off, and a seeded differential compares the two paths."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from arachne_spark.operators import cc, fixpoint
from arachne_spark.operators.cc import (
    canonical_mapping,
    connected_components,
    representatives,
)

N_NODES = 20_000
N_EDGES = 30_000


def _edges():
    """Deterministic pseudo-random edge list over Q-ids (no RNG —
    multiplicative hashing keeps it reproducible everywhere), plus one
    P-id: P3 joins Q1's component and, prefix first, represents it."""
    out = []
    for i in range(N_EDGES):
        a = (i * 2654435761) % N_NODES
        b = (i * 40503 + 7) % N_NODES
        if a != b:
            out.append((f"Q{a + 1}", f"Q{b + 1}"))
    return out + [("P3", "Q1")]


def _oracle_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    for a, b in edges:
        union(a, b)
    # representative = min (prefix, numeric) member per component
    members = {}
    for node in parent:
        members.setdefault(find(node), []).append(node)
    want = {}
    for group in members.values():
        rep = min(group, key=lambda q: (q[0], int(q[1:])))
        for node in group:
            want[node] = rep
    return want


def test_cc_medium_scale_matches_union_find(spark):
    edges = _edges()
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(16)
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    want = _oracle_components(edges)
    assert got == want


def test_cc_deterministic_across_partitioning(spark):
    edges = _edges()[:5000]
    results = []
    for parts in (2, 16):
        df = spark.createDataFrame(edges, ["src", "dst"]).repartition(
            parts
        )
        results.append(
            sorted(
                (r["node"], r["component"])
                for r in connected_components(df).collect()
            )
        )
    assert results[0] == results[1]


def test_cc_handles_long_chain(spark):
    """A path graph is the worst case for star-contraction round
    count; 200 nodes must still converge and pick the chain head."""
    chain = [(f"Q{i}", f"Q{i + 1}") for i in range(1, 200)]
    df = spark.createDataFrame(chain, ["src", "dst"])
    rows = connected_components(df).collect()
    comps = {r["component"] for r in rows}
    assert comps == {"Q1"}
    assert len(rows) == 200


def test_canonical_mapping_key_is_injective(spark):
    """Forms, senses, leading zeros and ids past ten digits each keep
    their own key: no cluster merges and no invented id appears."""
    edges = [
        ("L1-F2", "Q5"),
        ("L7", "L7-S1"),
        ("Q05", "Q5"),
        ("Q12345678901", "Q9"),
        ("Q12345678902", "Q3"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["qid"]: r["canonical_qid"]
        for r in canonical_mapping(df).collect()
    }
    assert got == {
        "L1-F2": "Q5",
        "L7-S1": "L7",
        "Q05": "Q5",
        "Q12345678901": "Q9",
        "Q12345678902": "Q3",
    }


@pytest.mark.parametrize(
    "check",
    [
        test_cc_medium_scale_matches_union_find,
        test_cc_deterministic_across_partitioning,
        test_cc_handles_long_chain,
        test_canonical_mapping_key_is_injective,
    ],
    ids=lambda check: check.__name__,
)
def test_loop_path(spark, monkeypatch, check):
    """The same checks with the driver finish forced off: every state
    runs the distributed rounds to convergence."""
    monkeypatch.setattr(fixpoint, "FINISH_ROWS", 0)
    check(spark)


# ids the injective key orders as "other" (after every QID), by code
# point: U+FFFF sorts before U+1F600 in UTF-8 and in code points, but
# after it in UTF-16
_ODD_IDS = ["\u00e9", "\u00e91", "Q\u0663", "\uffff", "\U0001f600",
            "\u65e5\u672c", "q7", "Q", "QQ1", "A00"]


def _random_graph(seed: int):
    """(kind, edges): a seeded random multigraph of a few components,
    over ``[A-Z][0-9]{1,10}`` ids (with some ``_ODD_IDS``) or bigints.
    Graphs of one kind share no node (each string id ends in the seed's
    two digits, each bigint lies in the seed's own range), so all of a
    kind run as one input."""
    rng = random.Random(seed)
    kind = ("qid", "string", "bigint")[seed % 3]
    if kind == "bigint":
        lo = (seed - 12) * 2**58
        nodes = [rng.randrange(lo, lo + 2**58) for _ in range(40)]
    else:
        nodes = [
            rng.choice("ABLPQ")
            + "".join(rng.choice("0123456789")
                      for _ in range(rng.randint(0, 8)))
            for _ in range(36)
        ] + rng.sample(_ODD_IDS, 4)
        nodes = [f"{n}{seed:02d}" for n in nodes]
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(rng.randint(20, 60))]
    return kind, edges + edges[:5]


def _components(spark, kind, edges):
    t = "bigint" if kind == "bigint" else "string"
    df = spark.createDataFrame(edges, f"src {t}, dst {t}")
    if kind == "qid":
        return sorted(tuple(r) for r in canonical_mapping(df).collect())
    ids = df.select(F.col("src").alias("id")).union(
        df.select("dst")).distinct()
    return sorted(tuple(r) for r in representatives(ids, df).collect())


def test_finish_matches_loop_on_random_graphs(spark, monkeypatch):
    """24 seeded random graphs, 8 per id kind: the driver finish returns
    exactly the distributed loop's rows (struct QID keys, raw strings in
    Spark's binary order, bigints)."""
    graphs = {}
    for seed in range(24):
        kind, edges = _random_graph(seed)
        graphs.setdefault(kind, []).extend(edges)
    finished = {k: _components(spark, k, e) for k, e in graphs.items()}
    monkeypatch.setattr(fixpoint, "FINISH_ROWS", 0)
    for kind, edges in graphs.items():
        assert _components(spark, kind, edges) == finished[kind], kind


def test_finish_takes_over_mid_loop(spark, monkeypatch):
    """Three 12-node cliques hold 198 edges, above a lowered threshold
    of 100; one round contracts them to 33 star edges, which the driver
    finishes."""
    monkeypatch.setattr(fixpoint, "FINISH_ROWS", 100)
    calls = []
    real = cc.fixpoint

    def spy(start, step, measure, converged, measure_start, finish):
        def counted(df):
            rows, m = measure(df)
            calls.append(("measure", rows))
            return rows, m

        def finished(rows):
            calls.append(("finish", len(rows)))
            return finish(rows)

        return real(start, step, counted, converged, measure_start,
                    finished)

    monkeypatch.setattr(cc, "fixpoint", spy)
    edges = [
        (f"Q{base + i}", f"Q{base + j}")
        for base in (1, 101, 201)
        for i in range(12)
        for j in range(i + 1, 12)
    ]
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(edges, "src string, dst string")
        ).collect()
    }
    assert calls == [("measure", 198), ("measure", 33), ("finish", 33)]
    assert got == _oracle_components(edges)


def test_pipeline_force_rerun_idempotent(spark, tmp_path):
    """Penelope semantics: re-stitching over the same corpus must
    reproduce the identical triple set (force=True recomputes every
    stage on the same warehouse)."""
    from arachne_spark.pipeline import PipelineConfig, run_pipeline

    wh = str(tmp_path / "wh_idem")
    cfg1 = PipelineConfig(warehouse=wh, n_pages=120, run_id="a")
    run_pipeline(spark, cfg1)
    first = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(f"{wh}/triples").collect()
    }
    cfg2 = PipelineConfig(
        warehouse=wh, n_pages=120, run_id="b", force=True
    )
    run_pipeline(spark, cfg2)
    second = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(f"{wh}/triples").collect()
    }
    assert first == second and len(first) > 0
