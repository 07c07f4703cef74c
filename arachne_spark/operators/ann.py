"""Approximate nearest neighbors over embedding columns.

The reference has no vector search; this is part of the
LLM-training-data operator set the brief requires (similarity search +
embedding near-dup dedup).  Two strategies, both deterministic:

* **Brute-force top-k** (the exact baseline): broadcast a *bounded*
  query set against the corpus — a BroadcastNestedLoopJoin, one linear
  corpus scan, no shuffle of the big side.  Right whenever
  |queries| is small (ad-hoc search, evaluation probes).  It is NOT a
  CartesianProduct: the corpus side never moves, so the plan survives a
  100x corpus scale-up as long as the query set stays bounded.

* **Hyperplane-LSH bucketed search** (the scale path): sign-pattern of
  ``n_bits`` fixed random-hyperplane dot products = bucket id; the
  candidate set is an *equi-join on bucket*, optionally widened to all
  Hamming-distance-1 buckets (multi-probe) for recall; exact cosine
  rescoring decides.  All-pairs work happens only within buckets, so
  cost is sum over buckets of |bucket|^2 — pick
  ``n_bits ~ log2(corpus / target_bucket_size)`` to bound it (the 4-bit
  hyperplanes in the oracle queries are fixture-sized; a 1e9-vector
  corpus wants 24+ bits, i.e. more hyperplanes, same code).  The
  bucket join is a plain shuffled equi-join: no broadcast of the
  corpus, no cartesian anything.

Dot products and norms are JVM expressions (``aggregate`` over
``zip_with``/``transform``): interpreted, not codegen'd (~us/element),
but free of any Python round-trip, which keeps the whole search in the
JVM.  An Arrow-batched numpy einsum measured at par up to 256 dims
(table in BASELINE.md "ANN dot engine crossover"); the embeddings here
are 8 or 64 dims wide.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def norm_expr(vec_col: str) -> Column:
    """L2 norm of a float-array column, as double."""
    return F.sqrt(
        F.expr(
            f"aggregate(transform({vec_col}, x -> cast(x as double)"
            " * cast(x as double)), cast(0 as double), (a, v) -> a + v)"
        )
    )


def dot_expr(a_col: str, b_col: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a_col}, {b_col}, (x, y) ->"
        " cast(x as double) * cast(y as double)),"
        " cast(0 as double), (acc, v) -> acc + v)"
    )


def cosine(dot: Column, n1: Column, n2: Column) -> Column:
    """dot / (n1 * n2), NULL when either norm is zero: an all-zero
    vector has no direction, and a bare division would fail (ANSI) or
    rank it with a non-number.  Descending sorts put NULL last, so a
    zero vector never outranks a real neighbour."""
    return dot / F.nullif(n1 * n2, F.lit(0.0))


def _pair_sim() -> Column:
    """Rounded cosine of a candidate pair row (qe, qn, ne, nn)."""
    return F.round(
        cosine(dot_expr("qe", "ne"), F.col("qn"), F.col("nn")), 4
    )


def _topk(sims: DataFrame, k: int) -> DataFrame:
    """The ``k`` best (sim desc, nvec) rows per qvec, ranked 1..k."""
    w = Window.partitionBy("qvec").orderBy(F.col("sim").desc(), F.col("nvec"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def _with_cnrm(centroids: DataFrame) -> DataFrame:
    """An injected quantizer (cid, cvec[, cnrm]) with its norms."""
    if "cnrm" in centroids.columns:
        return centroids
    return centroids.select("cid", "cvec", norm_expr("cvec").alias("cnrm"))


def bucket_expr(vec_col: str, hyperplanes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit j set iff <vec, hyperplane_j> > 0."""
    bucket = F.lit(0)
    for j, hp in enumerate(hyperplanes):
        arr = "array(" + ", ".join(f"cast({v!r} as double)" for v in hp) + ")"
        dot = F.expr(
            f"aggregate(zip_with({vec_col}, {arr}, (x, y) ->"
            " cast(x as double) * y), cast(0 as double), (a, v) -> a + v)"
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket.cast("bigint")


def probe_expr(bucket_col: str, n_bits: int, radius: int = 1) -> Column:
    """Multi-probe bucket array: the bucket itself plus every bucket at
    Hamming distance 1 (radius=1; radius=0 disables probing).  Bit
    flips are symmetric, so probing is symmetric: b' in probes(b) iff
    b in probes(b') — one-sided probing finds every cross-bucket pair.
    """
    probes = [F.col(bucket_col)]
    if radius >= 1:
        probes += [
            F.col(bucket_col).bitwiseXOR(F.lit(1 << j))
            for j in range(n_bits)
        ]
    return F.array(*probes)


def with_buckets(
    emb: DataFrame,
    hyperplanes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, nrm, bucket): the indexed side of every ANN join."""
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        norm_expr(vec_col).alias("nrm"),
        bucket_expr(vec_col, hyperplanes).alias("bucket"),
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qvec, nvec, sim, rank): exact cosine top-k, query side
    broadcast — linear in the corpus, never a CartesianProduct."""
    ns = emb.select(
        F.col(id_col).alias("nvec"),
        F.col(vec_col).alias("ne"),
        norm_expr(vec_col).alias("nn"),
    )
    qs = queries.select(
        F.col(id_col).alias("qvec"),
        F.col(vec_col).alias("qe"),
        norm_expr(vec_col).alias("qn"),
    )
    pairs = ns.crossJoin(F.broadcast(qs)).where(
        F.col("qvec") != F.col("nvec")
    )
    return _topk(pairs.select("qvec", "nvec", _pair_sim().alias("sim")), k)


def _candidate_pairs(
    indexed: DataFrame,
    probing: DataFrame,
    n_bits: int,
    radius: int,
    pair_filter: Column,
) -> DataFrame:
    """Equi-join probe buckets of `probing` against bucket of `indexed`;
    one row per (qvec, nvec) pair with both vectors + norms."""
    q = probing.select(
        F.col("vec_id").alias("qvec"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
        F.explode(probe_expr("bucket", n_bits, radius)).alias("pb"),
    )
    n = indexed.select(
        F.col("vec_id").alias("nvec"),
        F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn"),
        F.col("bucket").alias("nb"),
    )
    return (
        q.join(n, q["pb"] == n["nb"], "inner")
        .where(pair_filter)
        # radius-1 probes of adjacent buckets can surface a pair twice;
        # rows for the same pair are identical, so the dedup is
        # content-deterministic.
        .dropDuplicates(["qvec", "nvec"])
    )


def ann_topk(
    emb: DataFrame,
    hyperplanes: list[list[float]],
    query_pred: Column,
    k: int = 5,
    radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qvec, nvec, sim, rank): LSH-bucketed approximate top-k for the
    rows matching ``query_pred`` — q28's hyperplane buckets composed
    with the search: candidates share a probe bucket, exact cosine
    rescoring ranks them."""
    e = with_buckets(emb, hyperplanes, id_col, vec_col)
    cand = _candidate_pairs(
        e, e.where(query_pred), len(hyperplanes), radius,
        F.col("qvec") != F.col("nvec"),
    )
    return _topk(cand.select("qvec", "nvec", _pair_sim().alias("sim")), k)


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, cvec, cnrm): the coarse-quantizer centroid set — here the
    embeddings of the ``n_centroids`` smallest ids, a deterministic
    seeded pick.  A real deployment trains centroids offline (MLlib
    KMeans over a sample) and feeds them to the same index/search
    machinery; the seeded pick is used because float-mean reductions
    are reduction-order-nondeterministic, which would break the
    bit-reproducibility every operator here guarantees (and the
    value-hash oracle gate with it)."""
    return (
        emb.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cvec"),
            norm_expr(vec_col).alias("cnrm"),
        )
    )


def kmeans_fit(
    emb: DataFrame,
    k: int,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """In-engine deterministic Lloyd's k-means → (cid, cvec, cnrm),
    drop-in for the ``centroids=`` input of ``ivf_assign``/``ivf_topk``
    (upgrading the seeded-pick default) and the clustering stage of
    SemDeDup-style semantic dedup (cluster, then near-dup within
    cells via ``embedding_neardup``).

    Determinism is the hard part: float SUMS are reduction-order-
    nondeterministic under Spark's partition-order-free aggregation,
    which would break the repo's bit-reproducibility invariant.  The
    mean step therefore sums components as ``decimal(30,9)`` — exact,
    associative, commutative — and divides by the exact count before
    casting back to float: byte-identical centroids at any
    parallelism (test-pinned across repartitionings).

    Scale shape per iteration: one broadcast-assignment scan (the k×d
    centroid table is bounded), one posexplode to (row × dim)
    component rows with map-side partial decimal sums — linear, no
    pairwise anything.  Centroids (k×d floats, bounded) come to the
    driver between iterations, the same bounded-scalar collect the CC
    convergence loop uses.  Init: the k hash-order-first vectors (a
    deterministic pseudorandom sample).  A cell that loses every
    member keeps its previous centroid."""
    if k <= 0 or n_iters < 0:
        raise ValueError(f"bad k={k} / n_iters={n_iters}")
    spark = emb.sparkSession
    base = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    cent_rows = [
        (i, r["embedding"])
        for i, r in enumerate(
            base.orderBy(
                F.xxhash64(F.col("vec_id"), F.lit("kmeans_init")),
                "vec_id",
            )
            .limit(k)
            .collect()
        )
    ]

    def as_df(rows):
        return spark.createDataFrame(
            rows, "cid long, cvec array<float>"
        ).withColumn("cnrm", norm_expr("cvec"))

    for _ in range(n_iters):
        assigned = ivf_assign(base, as_df(cent_rows), nprobe=1).select(
            "cid", "embedding"
        )
        comp = assigned.select(
            "cid", F.posexplode("embedding").alias("pos", "v")
        )
        means = (
            comp.groupBy("cid", "pos")
            .agg(
                (
                    F.sum(F.col("v").cast("decimal(30,9)"))
                    / F.count(F.lit(1))
                ).alias("m")
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "m"))
                    ),
                    lambda s: s["m"].cast("float"),
                ).alias("cvec")
            )
        )
        new = {r["cid"]: r["cvec"] for r in means.collect()}
        cent_rows = [
            (cid, new.get(cid, old)) for cid, old in cent_rows
        ]
    return as_df(cent_rows)


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, embedding, nrm, cid, crank): each vector's ``nprobe``
    nearest centroids by cosine (crank 1 = nearest; ties break to the
    smaller cid).  The centroid set is broadcast — it is bounded by
    construction, so the assignment is one linear corpus scan times K
    (the BroadcastNestedLoopJoin here is by design, exactly like the
    bounded query broadcast of brute_force_topk — the corpus never
    moves)."""
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        norm_expr(vec_col).alias("nrm"),
    )
    pairs = e.crossJoin(F.broadcast(centroids))
    sims = pairs.withColumn(
        "csim",
        cosine(dot_expr("embedding", "cvec"), F.col("nrm"), F.col("cnrm")),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("cid")
    )
    return (
        sims.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= nprobe)
        .select("vec_id", "embedding", "nrm", "cid", "crank")
    )


def ivf_topk(
    emb: DataFrame,
    query_pred: Column,
    n_centroids: int = 8,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(qvec, nvec, sim, rank): IVF approximate top-k — the second
    scale path next to the hyperplane-LSH index (``ann_topk``).  The
    corpus is partitioned into centroid cells (one cell per vector);
    each query probes its ``nprobe`` nearest cells; candidates meet in
    an equi-join on cell id and exact cosine rescoring ranks them.
    Cost: one linear assignment pass + sum over probed cells of
    |cell| — never all-pairs.  At 10^9 vectors: thousands of centroids
    (cells of ~10^5-10^6), nprobe 8-32; same code, bigger centroid
    table.

    ``centroids`` injects an externally-trained coarse quantizer
    (cid, cvec[, cnrm]) — the production path: MLlib KMeans offline
    over a corpus sample, this operator for index + search.  Omitted,
    the deterministic seeded pick (``ivf_centroids``) is used."""
    if centroids is not None:
        cents = _with_cnrm(centroids)
    else:
        cents = ivf_centroids(emb, n_centroids, id_col, vec_col)
    indexed = ivf_assign(emb, cents, nprobe=1, id_col=id_col,
                         vec_col=vec_col)
    probing = ivf_assign(
        emb.where(query_pred), cents, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    )
    cand = (
        probing.select(
            F.col("vec_id").alias("qvec"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qn"),
            "cid",
        )
        .join(
            indexed.select(
                F.col("vec_id").alias("nvec"),
                F.col("embedding").alias("ne"),
                F.col("nrm").alias("nn"),
                "cid",
            ),
            "cid",
        )
        .where(F.col("qvec") != F.col("nvec"))
        .dropDuplicates(["qvec", "nvec"])
    )
    return _topk(cand.select("qvec", "nvec", _pair_sim().alias("sim")), k)


def embedding_neardup(
    emb: DataFrame,
    hyperplanes: list[list[float]],
    threshold: float = 0.30,
    radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qvec, nvec, sim), qvec < nvec: near-duplicate pairs by cosine >=
    threshold, blocked by LSH bucket (+ Hamming-1 multi-probe).
    All-pairs comparison happens only inside buckets — the scale-safe
    form of the embedding-cosine dedup sweep."""
    e = with_buckets(emb, hyperplanes, id_col, vec_col)
    cand = _candidate_pairs(
        e, e, len(hyperplanes), radius, F.col("qvec") < F.col("nvec")
    )
    sims = cand.select("qvec", "nvec", _pair_sim().alias("sim"))
    return sims.where(F.col("sim") >= threshold)


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 8,
    centroids: DataFrame | None = None,
    kmeans_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, rep_id, keep): SemDeDup-style semantic deduplication
    (Abbas et al. 2023) — cluster the embedding space, compare cosine
    only WITHIN a cell, link pairs >= ``threshold``, keep one
    representative per linked cluster.  Same output contract as
    ``minhash_doc_dedup``: every input id maps to the minimum-id
    representative of its duplicate set (singletons to themselves),
    ``keep`` = (vec_id == rep_id).

    Scale shape: one k-means fit (or an injected offline quantizer via
    ``centroids``), one broadcast assignment scan, then pairwise work
    bounded by sum over cells of |cell|^2 — never corpus-all-pairs.
    Size ``n_centroids ~ n / target_cell`` so cells stay ~10^4-10^5 at
    10^9 vectors; the CC stage sees only above-threshold pairs (near
    duplicates are rare by definition, so that relation is small).
    Deterministic end-to-end: kmeans_fit's decimal-exact centroids,
    tie-broken assignment, rounded sims, min-id representative."""
    from .cc import representatives

    if centroids is not None:
        cents = _with_cnrm(centroids)
    else:
        cents = kmeans_fit(emb, n_centroids, kmeans_iters, id_col, vec_col)
    a = ivf_assign(
        emb, cents, nprobe=1, id_col=id_col, vec_col=vec_col
    ).select("vec_id", "embedding", "nrm", "cid")
    pairs = (
        a.select(
            "cid", F.col("vec_id").alias("qvec"),
            F.col("embedding").alias("qe"), F.col("nrm").alias("qn"),
        )
        .join(
            a.select(
                "cid", F.col("vec_id").alias("nvec"),
                F.col("embedding").alias("ne"), F.col("nrm").alias("nn"),
            ),
            "cid",
        )
        .where(F.col("qvec") < F.col("nvec"))
    )
    dup = pairs.where(_pair_sim() >= threshold).select("qvec", "nvec")
    return representatives(emb.select(F.col(id_col).alias("vec_id")), dup)
