"""MinHash-LSH, defined once: blocking + exact-Jaccard verify for
long-tail fuzzy entity linking, for the batch near-duplicate page
dedup (``dedup.minhash_doc_dedup``) and for the streaming dedup's
committed-band probe (``streaming.incremental.run_incremental_dedup``).

The reference links mentions to entities only by exact alias lookup
(the batched ``wbgetentities`` dictionary fetch,
/root/reference/src/pheidippides.cpp:29-82).  The north_star requires a
long-tail path: surface forms that miss the exact dictionary (typos,
variant spellings) still get candidate QIDs.  A brute-force
surface × alias similarity join is quadratic; MinHash-LSH blocking makes
it linear in (surfaces + aliases + true near-pairs):

  1. shingles are rows ``(ids…, s)``: char k-grams (k=3) here
     (``char_shingles``, explode + substr), token k-grams in dedup;
  2. ``minhash``: one aggregation per id gives the sorted shingle set
     and the per-seed minimum of md5(seed || shingle) — md5 (not
     xxhash64) so a DuckDB oracle can reproduce the exact signatures —
     grouped into bands; band hash = md5 of the band's concatenated
     minima;
  3. ``lsh_join``: candidate pairs = equi-join on (band_idx,
     band_hash) — with the dictionary side broadcast this is a map-side
     join, zero shuffle of the (huge) surface side; exact Jaccard over
     the full shingle sets rescores candidates and pairs under
     ``threshold`` are dropped (LSH only *blocks*, the score decides).

No step runs a higher-order function: ``transform``/``aggregate``
lambdas are interpreted, not code-generated.

At 10^12 documents the surface side shuffles only in the per-surface
signature aggregation, and the band join broadcasts the dictionary.
The pair dedup and the best-candidate aggregation move candidate
*pairs* (≈ a few per rare surface), never token data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

K_SHINGLE = 3
N_HASHES = 8
N_BANDS = 2
MAX_BAND_DF = 1000
# lowest surface-to-alias Jaccard a fuzzy link keeps
FUZZY_THRESHOLD = 0.5

_SIG = ("shset", "band_idx", "band_hash")


def char_shingles(df: DataFrame, col: str) -> DataFrame:
    """``df`` plus ``s``, one row per char k-gram of ``col``; a string
    shorter than k is its own single shingle."""
    n = F.greatest(F.length(col) - (K_SHINGLE - 1), F.lit(1))
    return df.select(
        "*", F.explode(F.sequence(F.lit(1), n)).alias("_i")
    ).select(
        *df.columns,
        F.col(col).substr(F.col("_i"), F.lit(K_SHINGLE)).alias("s"),
    )


def minhash(sh: DataFrame, *ids: str) -> DataFrame:
    """(ids…, shset, band_idx, band_hash), one row per band: the
    MinHash-LSH signature of each id's shingle rows ``(ids…, s)``, from
    one aggregation — the sorted shingle set (the verify input) and the
    ``N_HASHES`` per-seed minima, banded ``N_BANDS`` ways."""
    rows = N_HASHES // N_BANDS
    sig = sh.groupBy(*ids).agg(
        F.sort_array(F.collect_set("s")).alias("shset"),
        *[
            F.min(F.md5(F.concat(F.lit(f"{p}:"), F.col("s")))).alias(f"_m{p}")
            for p in range(N_HASHES)
        ],
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.md5(
                    F.concat(
                        *[F.col(f"_m{j * rows + i}") for i in range(rows)]
                    )
                ).alias("band_hash"),
            )
            for j in range(N_BANDS)
        ]
    )
    return sig.select(*ids, "shset", F.explode(bands).alias("_b")).select(
        *ids, "shset", "_b.band_idx", "_b.band_hash"
    )


def jaccard_expr(a_col: str, b_col: str):
    """|A∩B| / (|A| + |B| - |A∩B|) over distinct-element arrays."""
    inter = F.size(F.array_intersect(F.col(a_col), F.col(b_col)))
    return inter / (
        F.size(F.col(a_col)) + F.size(F.col(b_col)) - inter
    )


def lsh_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    max_band_df: int | None = None,
    where: Column | None = None,
) -> DataFrame:
    """(left ids…, right ids…, jaccard): each pair of ``minhash`` rows
    that share >= 1 band, once, scored by the exact Jaccard of their
    shingle sets (rounded to 4 places) and kept at >= ``threshold``.

    The two sides' id columns (all but shset/band_idx/band_hash) must
    be disjoint, and a side's ids must determine its shingle set.
    ``where`` restricts the pairs before they are verified (a self-join
    passes ``da < db``).

    ``max_band_df`` drops right-side bands held by more than that many
    rows: a band shared by B rows fans every matching left row out into
    B candidates, so one degenerate hot band (near-identical
    boilerplate strings) makes the blocking quadratic.  True near-pairs
    in a dropped band almost always share their other band(s), so a
    pathological input degrades recall, not the cluster.  In a
    self-join a pair shares its band on both sides, so the right-side
    cap drops exactly the pairs a cap on both sides would.  The cap is
    a window, not a join, so a broadcast hint on ``right`` reaches the
    band join.
    """
    lids = [c for c in left.columns if c not in _SIG]
    rids = [c for c in right.columns if c not in _SIG]
    if max_band_df is not None:
        band = Window.partitionBy("band_idx", "band_hash")
        right = (
            right.withColumn("_bdf", F.count(F.lit(1)).over(band))
            .where(F.col("_bdf") <= max_band_df)
            .drop("_bdf")
        )
    pairs = left.withColumnRenamed("shset", "_sa").join(
        right.withColumnRenamed("shset", "_sb"), ["band_idx", "band_hash"]
    )
    if where is not None:
        pairs = pairs.where(where)
    return (
        # a pair can collide in several bands — keep one copy
        pairs.dropDuplicates(lids + rids)
        .select(
            *lids,
            *rids,
            F.round(jaccard_expr("_sa", "_sb"), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def lsh_candidates(
    surfaces: DataFrame,
    dictionary: DataFrame,
    threshold: float,
    max_band_df: int | None = MAX_BAND_DF,
) -> DataFrame:
    """(surface, qid, jaccard): all dictionary candidates sharing >= 1
    LSH band with the surface form, rescored by exact char-shingle
    Jaccard and filtered to >= threshold.

    ``surfaces`` must carry ``surface`` and ``dictionary`` (alias,
    qid); extra columns are dropped.  ``max_band_df`` caps the
    dictionary-side frequency of a band hash (see ``lsh_join``); the
    default is far above any real alias dictionary's band skew.
    """
    q = minhash(
        char_shingles(surfaces.select("surface"), "surface"), "surface"
    )
    d = minhash(
        char_shingles(dictionary.select("alias", "qid"), "alias"),
        "alias", "qid",
    )
    return lsh_join(q, F.broadcast(d), threshold, max_band_df).select(
        "surface", "qid", "jaccard"
    )


def fuzzy_link_best(
    surfaces: DataFrame,
    dictionary: DataFrame,
    threshold: float,
) -> DataFrame:
    """(surface, qid, jaccard): single best candidate per surface by
    (jaccard desc, priority asc, qid asc) — the deterministic
    QID-priority rule of SURVEY.md §4.3 applied to fuzzy links.

    `surfaces` must carry ``surface`` and `dictionary` (alias, qid,
    priority).
    """
    # min-priority per qid: order-independent by construction (a
    # dropDuplicates here would keep a partition-order-dependent row if
    # a future dictionary carried per-alias priorities — violating the
    # hard determinism invariant)
    cands = lsh_candidates(surfaces, dictionary, threshold).join(
        F.broadcast(
            dictionary.groupBy("qid").agg(
                F.min("priority").alias("priority")
            )
        ),
        "qid",
    )
    pick = F.struct("qid", "jaccard")
    order = F.struct(
        (-F.col("jaccard")).alias("neg_j"), F.col("priority"), F.col("qid")
    )
    return (
        cands.groupBy("surface")
        .agg(F.min_by(pick, order).alias("b"))
        .select("surface", "b.qid", "b.jaccard")
    )


def fuzzy_mentions(pages, mentions, alias_df):
    """(url, surface, qid, jaccard): long-tail mention rows for surface
    forms that missed the exact dictionary, resolved to item entities
    via LSH blocking + best-candidate scoring.

    The linking runs once per distinct SURFACE (vocabulary-sized, tiny
    next to the corpus), then broadcast-joins back onto the
    (url, surface) occurrences — at 10^12 pages the per-page data never
    enters the similarity computation.
    """
    from arachne_spark.operators.mentions import unmatched_tokens

    um = unmatched_tokens(pages, mentions)
    best = fuzzy_link_best(
        um.select("surface").distinct(),
        alias_df.where(F.col("kind") == "item"),
        threshold=FUZZY_THRESHOLD,
    )
    # NOT a forced broadcast: on a real web corpus distinct tokens are
    # ~1e8+, past the 8 GB broadcast ceiling.  With AQE on (the
    # pipeline default) Spark broadcasts `best` automatically while it
    # fits and falls back to a shuffled join when it doesn't.
    return um.join(best, "surface").select(
        "url", "surface", "qid", "jaccard"
    )
