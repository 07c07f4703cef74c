"""Document-level near-duplicate dedup — the flagship LLM-training-data
operator: MinHash bands → candidate pairs → exact-Jaccard verify →
connected components → keep the min-id representative.

The reference has no document dedup (it ingests entity data, not web
text); this composes the engine's own primitives (``lsh_link.minhash``
and ``lsh_link.lsh_join``, the one MinHash-LSH that fuzzy linking and
the streaming dedup also run, and ``cc.representatives``) into the
end-to-end pipeline a 100 TB crawl actually needs.  Scale posture:

* **shingling** is a narrow per-doc projection (token k-grams,
  distinct) — embarrassingly parallel;
* **df-cap**: shingles appearing in more than ``MAX_SHINGLE_DF``
  documents are boilerplate (navigation chrome, license footers) and
  are dropped *before* any join — one hot shingle would otherwise make
  the inverted-index pair generation quadratic in its document
  frequency.  The cap costs one small aggregation over (shingle, df);
* **banding**: one aggregation per doc gives its sorted shingle set
  and 8 minhashes → 2 bands; a pair collides iff some band matches,
  so candidate generation is an equi-join on (band_idx, band_hash) —
  never all-pairs;
* **bucket-cap**: a band bucket with B docs yields B^2/2 candidate
  pairs; buckets larger than ``MAX_BAND_BUCKET`` are near-certainly
  boilerplate clusters (every template page hashing identically) and
  are dropped — dedup of *exact* template duplicates belongs to the
  cheaper exact-hash pass (q03/q22 fingerprints), not the quadratic
  verifier;
* **verify** scores the candidate pairs only, over the (sorted,
  deterministic) shingle sets that travel with the band rows — no
  document text shuffles;
* **clustering** uses the large-star/small-star CC operator (O(log n)
  rounds, no star materialization), and the representative is the
  minimum doc id — total order, no ties.

The MinHash scheme is md5-based, so a DuckDB oracle reproduces every
signature bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arachne_spark.operators.cc import representatives
from arachne_spark.operators.lsh_link import lsh_join, minhash

# boilerplate caps of the near-dup dedup (batch page_dupes, q38 and,
# for the band bucket only, the streaming dedup)
MAX_SHINGLE_DF = 50
MAX_BAND_BUCKET = 20


def doc_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """(doc_id, s): distinct token k-gram shingles per document.

    Documents with fewer than ``k`` tokens yield zero shingles (matching
    the DuckDB/python oracles).  The ``size >= k`` row filter is
    load-bearing: for a shorter document ``sequence(0, size - k)`` runs
    DESCENDING (e.g. ``sequence(0, -1) = [0, -1]``), which would index
    ``toks`` out of bounds and throw under ANSI mode.  The k-grams are
    element accesses on exploded start positions, not a ``transform``
    lambda, which Spark interprets instead of code-generating.
    """
    toks = F.col("toks")
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ", -1).alias("toks"),
        )
        .where(F.size(toks) >= k)
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), F.size(toks) - k)).alias("_i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[toks[F.col("_i") + j] for j in range(k)]
            ).alias("s"),
        )
        .dropDuplicates()
    )


def cap_shingle_df(sh: DataFrame) -> DataFrame:
    """Drop shingles whose document frequency exceeds
    ``MAX_SHINGLE_DF`` (hot boilerplate shingles are the skew-killer of
    every posting-list self-join: pair fanout is quadratic in df).  The
    streaming dedup does not cap: there a batch-local df would make the
    same document hash differently depending on what it shares a
    micro-batch with."""
    df = sh.groupBy("s").agg(F.count("*").alias("_df"))
    return (
        sh.join(df.where(F.col("_df") <= MAX_SHINGLE_DF), "s")
        .select("doc_id", "s")
    )


def minhash_doc_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """(doc_id, rep_id, keep): every input document mapped to the
    minimum-id representative of its near-duplicate cluster; singleton
    docs map to themselves.  keep = (doc_id == rep_id) — filtering on
    it IS the dedup."""
    sh = cap_shingle_df(doc_shingles(docs, id_col, text_col))
    return near_dup_clusters(
        docs.select(F.col(id_col).alias("doc_id")),
        minhash(sh, "doc_id"),
        threshold,
    )


def near_dup_clusters(
    ids: DataFrame, sig: DataFrame, threshold: float
) -> DataFrame:
    """The clustering half of ``minhash_doc_dedup``: (doc_id, rep_id,
    keep) from the documents' ids and their ``minhash`` rows, for a
    caller that already holds them."""
    pairs = lsh_join(
        sig.withColumnRenamed("doc_id", "da"),
        sig.withColumnRenamed("doc_id", "db"),
        threshold,
        MAX_BAND_BUCKET,
        F.col("da") < F.col("db"),
    )
    return representatives(ids, pairs.select("da", "db"))


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    k: int = 13,
    min_overlap: int = 1,
) -> DataFrame:
    """(doc_id, bench_id, n_overlap, n_shingles, overlap_frac):
    training-corpus decontamination — corpus documents sharing at
    least ``min_overlap`` token ``k``-gram shingles with a benchmark
    item (the published GPT-3/PaLM-style decontamination used 13-gram
    overlap, hence the default).

    Scale posture: the benchmark side is bounded by construction
    (eval suites are tiny next to a crawl), so the probe is a plain
    equi-join of corpus shingles against a benchmark-sized relation —
    AQE broadcasts it while it fits; the corpus never self-joins and
    corpus-scale data never shuffles beyond its own shingle
    projection.  Composes ``doc_shingles`` (ANSI-safe short-doc
    guard) on both sides.

    The corpus shingle projection feeds two consumers (the hits join
    and the per-doc size aggregate), so it is persisted — one corpus
    scan per sweep, not two; the cache entry is evictable storage and
    is released with the session (or by the caller unpersisting
    after its action)."""
    ds = doc_shingles(docs, id_col, text_col, k).persist()
    bs = doc_shingles(
        benchmark.select(
            F.col(bench_id_col).alias("doc_id"),
            F.col(bench_text_col).alias("text"),
        ),
        "doc_id",
        "text",
        k,
    ).select(F.col("doc_id").alias("bench_id"), "s")
    sizes = ds.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        ds.join(bs, "s")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "bench_id",
        "n_overlap",
        "n_shingles",
        F.round(F.col("n_overlap") / F.col("n_shingles"), 4).alias(
            "overlap_frac"
        ),
    )


def exact_substring_dedup(
    docs: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-substring removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    token span of ``k``+ tokens whose exact text occurs more than once
    corpus-wide is removed from ALL occurrences except the globally
    first — min (doc_id, position), a total order — and the surviving
    tokens are reassembled in place.  Complements minhash_doc_dedup
    (whole-document near-dups) by cutting copied PASSAGES out of
    otherwise-distinct documents; rows are preserved (a fully-copied
    doc comes back with empty text — filtering is the caller's call).

    The reference tool builds a corpus-wide suffix array on one giant
    machine; this is the shuffle-native restatement:

    * rolling ``k``-token shingles per doc as one per-row transform
      (pos is the 0-based start token) — a duplicated span of L >= k
      tokens is exactly a run of duplicated shingles, so span-level
      dedup reduces to shingle-hash equality;
    * shingles keyed by md5 of the gram text (128 bits: at 10^12
      shingles a 64-bit key would already collide by birthday bound);
    * per-hash count + min-occurrence in ONE partial-aggregatable pass
      (count and struct-min both combine map-side — boilerplate-hot
      hashes never funnel one reducer);
    * non-first occurrences merge into maximal covered intervals via
      gaps-and-islands (doc-partitioned window over marked starts:
      coverage [pos, pos+k-1] chains while successive starts are <= k
      apart), so the covered-index explode is proportional to the
      covered TEXT length, not (span length x k);
    * only touched documents are re-tokenized and reassembled — clean
      documents (the vast majority) pass through untouched, and the
      reassembly sorts (idx, token) structs so no per-group ordering
      assumption is made (same discipline as strip_boilerplate).

    Tokenization is single-space split/join, which is lossless
    (consecutive spaces round-trip as empty tokens), so untouched text
    is byte-identical and surviving spans keep their exact bytes.

    Batch-only by design: "first occurrence corpus-wide" is a global
    property, so a streaming variant would make every doc's output
    depend on batch boundaries — the exact batch-local-aggregate trap
    the streaming dedup path avoids (see streaming/incremental.py and
    the CLAUDE.md invariant).  Streams dedup near-duplicates
    incrementally; span-level cutting runs on the committed corpus.
    """
    other = [c for c in docs.columns if c != text_col]
    toks = docs.select(
        *other, F.split(F.col(text_col), " ", -1).alias("__toks")
    )
    occ = toks.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.expr(
                f"transform("
                f" if(size(__toks) >= {k},"
                f"    sequence(1, size(__toks) - {k - 1}), array()),"
                f" i -> md5(concat_ws(' ', slice(__toks, i, {k}))))"
            )
        ).alias("pos", "h"),
    )
    dup = (
        occ.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct("__id", "pos")).alias("m"),
        )
        .where(F.col("c") > 1)
        .select("h", "m")
    )
    marked = (
        occ.join(dup, "h")
        .where(
            ~(
                (F.col("__id") == F.col("m.__id"))
                & (F.col("pos") == F.col("m.pos"))
            )
        )
        .select("__id", "pos")
        .distinct()
    )
    w = Window.partitionBy("__id").orderBy("pos")
    islands = (
        marked.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | (F.col("pos") - F.col("__prev") > k),
                1,
            ).otherwise(0),
        )
        .withColumn("__isl", F.sum("__new").over(w))
    )
    covered = (
        islands.groupBy("__id", "__isl")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + k - 1).alias("e"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.explode(F.sequence("s", "e")).alias("__idx"),
        )
    )
    touched_ids = covered.select(id_col).distinct()
    untouched = docs.join(touched_ids, id_col, "left_anti")
    tokens = (
        toks.join(touched_ids, id_col, "left_semi")
        .select(*other, F.posexplode("__toks").alias("__idx", "__tok"))
    )
    kept = tokens.join(covered, [id_col, "__idx"], "left_anti")
    rebuilt = kept.groupBy(*other).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__idx", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias(text_col)
    )
    # fully-covered docs lose every token and drop out of the groupBy;
    # restore them with empty text so the operator is row-preserving.
    # The anti-joins key on id_col ONLY: keying on every passthrough
    # column would silently duplicate any doc with a NULL column (NULL
    # join keys never match, so anti-join keeps the row)
    empties = (
        docs.select(*other)
        .join(untouched.select(id_col), id_col, "left_anti")
        .join(rebuilt.select(id_col), id_col, "left_anti")
        .withColumn(text_col, F.lit(""))
    )
    return (
        rebuilt.unionByName(empties)
        .unionByName(untouched.select(*rebuilt.columns))
        .select(*docs.columns)
    )
