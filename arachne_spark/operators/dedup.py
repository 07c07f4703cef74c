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
  frequency.  The cap is one window count over the shingles
  (``lsh_link.cap_hot``, the bucket-cap's rule too), not a join back;
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

from collections.abc import Iterable
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arachne_spark.operators.cc import representatives
from arachne_spark.operators.lsh_link import cap_hot, lsh_join, minhash

# boilerplate caps of the near-dup dedup (batch page_dupes, q38 and,
# for the band bucket only, the streaming dedup)
MAX_SHINGLE_DF = 50
MAX_BAND_BUCKET = 20


def token_ngrams(
    docs: DataFrame, text_col: str, ns: Iterable[int]
) -> DataFrame:
    """(docs' other columns…, n, pos, gram): every run of ``n``
    consecutive tokens of the single-space split of ``text_col``, for
    each n in ``ns`` — ``pos`` is the 0-based start token and ``gram``
    the tokens joined by one space.  The one token n-gram builder of
    the shingle, span-dedup, repetition and classifier operators.

    Documents with fewer than ``n`` tokens yield no ``n``-grams.  The
    ``size >= n`` row filter is load-bearing: for a shorter document
    ``sequence(0, size - n)`` runs DESCENDING (e.g. ``sequence(0, -1)
    = [0, -1]``), and a ``slice`` starting at index 0 raises.  Each
    gram is ``concat_ws`` over a ``slice`` at
    an exploded start position, both code-generated, not a
    ``transform`` lambda, which Spark interprets; the expression stays
    one ``slice`` whatever ``n`` (``n`` element accesses grew the
    generated code with ``n`` and measured slower at n = 3, 8 and 50).
    Several ``n`` are union branches of plain strings, not one explode
    of per-element structs."""
    keep = [c for c in docs.columns if c != text_col]
    toks, pos = F.col("__toks"), F.col("pos")
    base = docs.select(
        *keep, F.split(F.col(text_col), " ", -1).alias("__toks")
    )
    branches = [
        base.where(F.size(toks) >= n)
        .select(
            *keep,
            toks,
            F.explode(F.sequence(F.lit(0), F.size(toks) - n)).alias("pos"),
        )
        .select(
            *keep,
            F.lit(n).alias("n"),
            pos,
            F.concat_ws(" ", F.slice(toks, pos + 1, F.lit(n))).alias("gram"),
        )
        for n in ns
    ]
    return reduce(DataFrame.unionByName, branches)


def rebuild_text(
    pieces: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    sep: str,
) -> DataFrame:
    """``docs`` with ``text_col`` rebuilt from ``pieces`` — rows of
    docs' other columns plus (``__idx``, ``__piece``): each doc's
    pieces joined by ``sep`` in ``__idx`` order.  The order comes
    from sorting the collected (idx, piece) structs, so no window or
    per-group ordering assumption is made.

    Row-preserving: a doc left with no piece drops out of the groupBy
    and is restored with empty text (filtering empties is the
    caller's policy call).  The restoring anti-join keys on ``id_col``
    ONLY, null-safe: an equi-join key never matches NULL, so keying on
    a passthrough column, or on a NULL id, would restore a rebuilt doc
    a second time, empty."""
    other = [c for c in docs.columns if c != text_col]
    rebuilt = pieces.groupBy(*other).agg(
        F.array_join(
            F.sort_array(F.collect_list(F.struct("__idx", "__piece")))[
                "__piece"
            ],
            sep,
        ).alias(text_col)
    )
    done = rebuilt.select(F.col(id_col).alias("__done"))
    empties = (
        docs.select(*other)
        .join(done, F.col(id_col).eqNullSafe(done["__done"]), "left_anti")
        .withColumn(text_col, F.lit(""))
    )
    return rebuilt.unionByName(empties).select(*docs.columns)


def doc_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """(doc_id, s): distinct token k-gram shingles per document
    (``token_ngrams``); documents with fewer than ``k`` tokens yield
    zero shingles (matching the DuckDB/python oracles)."""
    return (
        token_ngrams(
            docs.select(F.col(id_col).alias("doc_id"), text_col),
            text_col,
            (k,),
        )
        .select("doc_id", F.col("gram").alias("s"))
        .dropDuplicates()
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
    sh = cap_hot(
        doc_shingles(docs, id_col, text_col), ["s"], MAX_SHINGLE_DF
    )
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
    caller that already holds them.  The band buckets are capped once,
    before the self-join, so both sides read one signature
    aggregation."""
    sig = cap_hot(sig, ["band_idx", "band_hash"], MAX_BAND_BUCKET)
    pairs = lsh_join(
        sig.withColumnRenamed("doc_id", "da"),
        sig.withColumnRenamed("doc_id", "db"),
        threshold,
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

    * rolling ``k``-token shingles per doc from ``token_ngrams`` (pos
      is the 0-based start token) — a duplicated span of L >= k
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
    * only touched documents are re-tokenized and reassembled
      (``rebuild_text``, which strip_boilerplate runs too) — clean
      documents (the vast majority) pass through untouched.

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
    occ = token_ngrams(
        docs.select(F.col(id_col).alias("__id"), text_col), text_col, (k,)
    ).select("__id", "pos", F.md5("gram").alias("h"))
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
            # null-safe: a NULL-id first occurrence must not spare
            # the span everywhere else
            ~(
                F.col("__id").eqNullSafe(F.col("m.__id"))
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
    touched = docs.join(touched_ids, id_col, "left_semi")
    pieces = touched.select(
        *[c for c in docs.columns if c != text_col],
        F.posexplode(F.split(F.col(text_col), " ", -1)).alias(
            "__idx", "__piece"
        ),
    )
    kept = pieces.join(covered, [id_col, "__idx"], "left_anti")
    return rebuild_text(kept, touched, id_col, text_col, " ").unionByName(
        docs.join(touched_ids, id_col, "left_anti")
    )
