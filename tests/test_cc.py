"""Connected-components correctness at medium scale against an
independent union-find oracle, plus determinism of the representative
choice (the perpetual-stitcher semantics require byte-stable reruns)."""

from __future__ import annotations

from pyspark.sql import functions as F

from arachne_spark.operators.cc import (
    canonical_mapping,
    connected_components,
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
