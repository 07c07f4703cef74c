"""ANN tests: the plan stays in the JVM, injected and trained
quantizers (IVF, k-means) and semantic dedup agree with their
definitions, and a zero vector never ranks first."""

from __future__ import annotations

import pyspark.sql.functions as F


def _synth_emb(spark, n: int, dim: int):
    """Deterministic float32 embeddings: md5-derived pseudo-randoms in
    [-0.5, 0.5) per (vec_id, component) — content-addressed, no RNG."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), j -> cast("
            "  (conv(substr(md5(concat(cast(id as string), ':',"
            "       cast(j as string))), 1, 6), 16, 10) / 16777216.0)"
            "  - 0.5 as float))"
        ).alias("embedding"),
    )


def test_engine_selection_plan(spark):
    """The ANN plan stays pure-JVM: no Python evaluation node."""
    from arachne_spark.operators.ann import brute_force_topk

    emb = _synth_emb(spark, 20, 64)
    q = emb.where(F.col("vec_id") < 2)
    plan = brute_force_topk(emb, q, k=2)._jdf.queryExecution()
    assert "EvalPython" not in plan.executedPlan().toString()


def test_ivf_external_centroids(spark):
    """The production path: inject externally-trained centroids
    (MLlib KMeans offline).  Passing the seeded pick explicitly must
    reproduce the default exactly; a different quantizer still returns
    a full top-k per query."""
    from arachne_spark.operators.ann import ivf_centroids, ivf_topk

    emb = _synth_emb(spark, 80, 64)
    pred = F.col("vec_id") < 5
    default = {
        tuple(r)
        for r in ivf_topk(emb, pred, n_centroids=6, k=3, nprobe=2)
        .collect()
    }
    seeded = ivf_centroids(emb, 6)
    explicit = {
        tuple(r)
        for r in ivf_topk(
            emb, pred, k=3, nprobe=2, centroids=seeded
        ).collect()
    }
    assert default == explicit and len(default) == 5 * 3

    # a quantizer without cnrm (the external-training shape) works too
    other = ivf_centroids(emb.where(F.col("vec_id") % 3 == 0), 4).select(
        "cid", "cvec"
    )
    alt = ivf_topk(emb, pred, k=3, nprobe=2, centroids=other)
    rows = alt.collect()
    assert len(rows) == 5 * 3
    assert all(r["rank"] <= 3 for r in rows)


def test_kmeans_fit_separated_blobs(spark):
    """3 well-separated deterministic blobs: kmeans_fit recovers one
    centroid per blob (every member's nearest fitted centroid is its
    blob-mates'), centroids are byte-identical across repartitionings
    (exact decimal means), and the result drops into ivf_topk."""
    from arachne_spark.operators.ann import ivf_assign, kmeans_fit

    dim = 16

    def blob(center, n0, n):
        # axis-aligned blob: center one-hot at `center`, small
        # deterministic jitter on the remaining axes
        rows = []
        for i in range(n0, n0 + n):
            v = [((i * 31 + j * 7) % 5) * 0.01 for j in range(dim)]
            v[center] += 1.0
            rows.append((i, [float(x) for x in v]))
        return rows

    rows = blob(0, 0, 40) + blob(5, 100, 40) + blob(11, 200, 40)
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    cents = kmeans_fit(df, k=3, n_iters=4)
    got = cents.collect()
    assert len(got) == 3
    # each fitted centroid is dominated by exactly one blob axis
    axes = sorted(
        max(range(dim), key=lambda j: r["cvec"][j]) for r in got
    )
    assert axes == [0, 5, 11]
    # assignments are pure: every blob lands in one cell
    a = ivf_assign(df, cents, nprobe=1).select("vec_id", "cid").collect()
    by_blob = {}
    for r in a:
        by_blob.setdefault(r["vec_id"] // 100, set()).add(r["cid"])
    assert all(len(cids) == 1 for cids in by_blob.values())
    assert len(set().union(*by_blob.values())) == 3
    # byte-identical across repartitionings
    again = kmeans_fit(df.repartition(13), k=3, n_iters=4).collect()
    assert sorted(map(str, again)) == sorted(map(str, got))


def test_kmeans_fit_empty_cell_keeps_centroid(spark):
    """k larger than the number of distinct points: starved cells
    keep their previous centroid instead of vanishing."""
    from arachne_spark.operators.ann import kmeans_fit

    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) if i < 5 else (i, [0.0, 1.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    cents = kmeans_fit(df, k=4, n_iters=3)
    assert cents.count() == 4


def _uf_neardup(vecs: dict, threshold: float):
    """Brute-force union-find twin: global all-pairs cosine >= tau,
    min-id representative."""
    import math

    ids = sorted(vecs)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in ids:
        for j in ids:
            if i >= j:
                continue
            na = math.sqrt(sum(v * v for v in vecs[i]))
            nb = math.sqrt(sum(v * v for v in vecs[j]))
            sim = round(
                sum(a * b for a, b in zip(vecs[i], vecs[j])) / (na * nb), 4
            )
            if sim >= threshold:
                ra, rb = find(i), find(j)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def test_semantic_dedup_exact_duplicates_default_kmeans(spark):
    """Exact duplicate vectors always share a cell (identical input ->
    identical assignment), so the default kmeans path must recover
    exactly the duplicate groups."""
    from arachne_spark.operators.ann import semantic_dedup

    base = {
        0: [1.0, 0.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 0.0], 3: [0.7, 0.7, 0.0, 0.0],
    }
    vecs = {}
    for vid in range(20):
        vecs[vid] = base[vid % 4]  # 4 groups of 5 exact duplicates
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id bigint, embedding array<float>",
    )
    got = {r["vec_id"]: r["rep_id"]
           for r in semantic_dedup(df, threshold=0.999,
                                   n_centroids=4).collect()}
    want = _uf_neardup(vecs, 0.999)
    assert got == want
    # exactly one keep per duplicate group
    assert sorted(set(got.values())) == [0, 1, 2, 3]


def test_semantic_dedup_injected_quantizer_matches_twin(spark):
    """Perturbed blobs with an injected (offline-trained) quantizer:
    one cell per blob, so within-cell linking equals the global
    brute-force union-find twin."""
    from arachne_spark.operators.ann import semantic_dedup

    def blob(axis, n0, n):
        out = {}
        for i in range(n):
            v = [0.0] * 8
            v[axis] = 1.0
            # tiny deterministic perturbation: pairs with the same
            # i % 2 parity are near-identical, across parity ~0.98
            v[(axis + 1) % 8] = 0.002 * (i % 2) + 0.0001 * (i % 3)
            out[n0 + i] = v
        return out

    vecs = {**blob(0, 0, 6), **blob(3, 100, 6), **blob(6, 200, 6)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id bigint, embedding array<float>",
    )
    def one_hot(axis):
        v = [0.0] * 8
        v[axis] = 1.0
        return v

    cents = spark.createDataFrame(
        [(0, one_hot(0)), (1, one_hot(3)), (2, one_hot(6))],
        "cid bigint, cvec array<float>",
    )
    for threshold in (0.9999, 0.5):
        got = {r["vec_id"]: r["rep_id"]
               for r in semantic_dedup(df, threshold=threshold,
                                       centroids=cents).collect()}
        assert got == _uf_neardup(vecs, threshold), threshold
    # determinism across partitionings
    a = semantic_dedup(df.repartition(7), threshold=0.9999,
                       centroids=cents).collect()
    b = semantic_dedup(df.repartition(2, "vec_id"), threshold=0.9999,
                       centroids=cents).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_semantic_dedup_negative_ids_numeric_min_rep(spark):
    """vec_id is caller-supplied bigint, so negative ids are legal.
    CC orders the bigint column itself: a string key that sorts '-5'
    above '10' would pick the wrong (non-minimum) representative."""
    from arachne_spark.operators.ann import semantic_dedup

    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(-5, v), (3, v), (10, v), (-20, w), (-1, w)],
        "vec_id bigint, embedding array<float>",
    )
    got = {r["vec_id"]: r["rep_id"]
           for r in semantic_dedup(df, threshold=0.999,
                                   n_centroids=2).collect()}
    assert got == {-5: -5, 3: -5, 10: -5, -20: -20, -1: -20}


def test_zero_vector_never_ranks_first(spark):
    """An all-zero embedding has no direction: its cosine with anything
    is NULL, so ann_topk ranks it after every real neighbour and
    ivf_assign never picks a zero centroid, instead of failing on the
    0/0 division or ranking it first."""
    from arachne_spark.operators.ann import ann_topk, ivf_assign, norm_expr

    emb = spark.createDataFrame(
        [(1, [-1.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0]),
         (3, [-1.0, -0.2, 0.0]), (4, [-0.5, -0.5, 0.0])],
        "vec_id long, embedding array<float>",
    )
    # no vector has a positive dot with either hyperplane: one bucket,
    # so the zero vector is a candidate of the query
    hyperplanes = [[1.0, 1.0, 1.0], [1.0, -1.0, 0.0]]
    ranked = {
        r["rank"]: (r["nvec"], r["sim"])
        for r in ann_topk(
            emb, hyperplanes, F.col("vec_id") == 1, k=3, radius=0
        ).collect()
    }
    assert [ranked[k][0] for k in (1, 2, 3)] == [3, 4, 2]
    assert ranked[3][1] is None

    cents = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0])],
        "cid long, cvec array<float>",
    ).withColumn("cnrm", norm_expr("cvec"))
    nearest = {
        r["vec_id"]: r["cid"]
        for r in ivf_assign(emb.where(F.col("vec_id") != 2), cents)
        .collect()
    }
    assert nearest == {1: 1, 3: 1, 4: 1}
