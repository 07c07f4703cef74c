"""Structured Streaming surface: the "perpetual stitcher" run mode.

The reference aspires to perpetual operation (readme.md:20-26 — Arachne
"stitches entities perpetually"; Penelope re-stitches what "slips away
overnight") but is a single-shot CLI.  Here the same batch operators
run incrementally over an unbounded page feed:

* ``stream_pages``          — file-source stream of page parquet drops
  (on a cluster: Iceberg/Kafka source, same downstream code).
* ``streaming_mention_counts`` — the touch-counter (O8,
  /root/reference/src/arachne.cpp:224-233) as a watermarked windowed
  aggregation: per (window, qid) mention counts with late-data bounds.
  Tokenization and the broadcast alias probe are the batch path's own
  ``probe_aliases`` — stream/batch parity by construction.
* ``run_incremental_pipeline`` — ``foreachBatch`` driving the full
  batch extraction core per micro-batch into the triples table; with
  ``availableNow`` this is the catch-up/backfill mode, with the
  default trigger it is the perpetual mode.  foreachBatch is
  at-least-once, so the write is made idempotent per batch_id
  (dynamic partition overwrite of ``batch_id=<n>``) and de-duplicated
  across batches (anti-join vs the committed table) — the streaming
  analog of the warehouse snapshot-resume in plans/storage.py.

Mention *dominance* (the anti-join in detect_mentions) is a
stream-to-stream self-join Structured Streaming cannot express
directly, which is exactly why the foreachBatch path reuses the batch
operator unchanged — each micro-batch is a bounded DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arachne_spark.operators.extract import (
    clean_pages,
    latest_snapshot,
    with_text,
)
from arachne_spark.operators.mentions import (
    detect_mentions,
    link_triples,
    probe_aliases,
)
from arachne_spark.pipeline import DEDUP_THRESHOLD, curate_pages
from arachne_spark.plans.storage import hadoop_fs, restore, swap_in

PAGE_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)
# two-tier state shape (TwoTierState): compact after this many delta
# partitions, into this many base files
COMPACT_EVERY = 4
STATE_FILES = 8
# streaming dedup: band-bucket cap
MAX_BAND_BUCKET = 20


def _try_read_parquet(spark: SparkSession, path: str) -> DataFrame | None:
    """Read ``path``, or None while it holds no readable parquet."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        df.schema  # force resolution now, not at first action
        return df
    except AnalysisException:
        return None


def write_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as the ``batch_id=<n>`` partition of the parquet
    table at ``path`` with dynamic partition overwrite: a retried
    micro-batch (foreachBatch is at-least-once) replaces its own
    partial files and leaves every other partition alone.  The
    session's overwrite mode is restored afterwards, also when the
    write raises."""
    sp = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = sp.conf.get(key)
    sp.conf.set(key, "dynamic")
    try:
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(path)
        )
    finally:
        sp.conf.set(key, prev)


class TwoTierState:
    """Compacted two-tier parquet state relation shared by the
    streaming operators: per-batch read cost stays bounded regardless
    of stream history.

    * ``<state_dir>/base`` — the compacted relation in ``STATE_FILES``
      files, beside a ``_``-prefixed file (parquet readers skip it)
      holding the watermark W: the batch whose commit compacted;
    * the delta tier — ``batch_id=<n>`` partitions in ``delta_dir``:
      ``<state_dir>/delta``, owned by the state and filled by
      ``write_delta``, or the pipeline's committed output table.

    Batch b reads the base rows of other batches (a retry after a
    compaction absorbed it must not probe its own rows) ∪ partitions
    W < n < b, or 0 ≤ n < b when b ≤ W (ids restarted after a lost
    checkpoint), by path with the state's schema; the consumers absorb
    duplicate rows.  A commit that leaves ``COMPACT_EVERY`` partitions
    there folds them into a fresh base (full-row ``dropDuplicates``)
    with W = b.  Base and W commit in one ``storage.swap_in`` rename,
    ``storage.restore`` brings the pair back after a crash mid-swap,
    and absorbed partitions are then deleted if the state owns them.
    So a batch reads at most ``STATE_FILES`` base files plus fewer
    than ``COMPACT_EVERY`` partitions.  An Iceberg deployment replaces
    the swap with a MERGE / rewrite_data_files action.
    """

    _WATERMARK = "_batch_watermark"

    def __init__(self, state_dir: str, delta_dir: str | None = None):
        self.state_dir = state_dir
        self.base_dir = state_dir + "/base"
        self.owns_delta = delta_dir is None
        self.delta_dir = delta_dir or state_dir + "/delta"
        self.batch_id = -1  # the running commit's, set by read_committed
        self._schema = None

    def watermark(self, sp: SparkSession) -> int | None:
        """W, or None before the first compaction and after a seed."""
        fs, glob = hadoop_fs(sp, f"{self.base_dir}/{self._WATERMARK}.*")
        found = fs.globStatus(glob)
        if not found:
            return None
        return int(found[0].getPath().getName().rsplit(".", 1)[1])

    def _deltas(self, sp: SparkSession, last: int) -> list[str]:
        """The existing partitions above W (class doc) up to ``last``."""
        w = self.watermark(sp)
        lo = w if w is not None and self.batch_id > w else -1
        paths = (
            hadoop_fs(sp, f"{self.delta_dir}/batch_id={n}")
            for n in range(lo + 1, last + 1)
        )
        return [p.toString() for fs, p in paths if fs.exists(p)]

    def _read(self, sp: SparkSession, deltas: list[str]) -> DataFrame | None:
        """Base ∪ the ``deltas`` partitions, or None if both are empty."""
        fs, base = hadoop_fs(sp, self.base_dir)
        comm = None
        for paths, reader in (
            ([self.base_dir] if fs.exists(base) else [], sp.read),
            (deltas, sp.read.option("basePath", self.delta_dir)),
        ):
            if paths:
                if self._schema is not None:
                    reader = reader.schema(self._schema)
                df = reader.parquet(*paths)
                self._schema = df.schema
                comm = df if comm is None else comm.unionByName(df)
        return comm

    def read_committed(
        self, sp: SparkSession, batch_id: int
    ) -> DataFrame | None:
        """The probe of batch ``batch_id`` (class doc), or None while the
        state holds nothing; makes the state directory."""
        restore(sp, self.base_dir)
        self.batch_id = batch_id
        fs, path = hadoop_fs(sp, self.state_dir)
        fs.mkdirs(path)
        comm = self._read(sp, self._deltas(sp, batch_id - 1))
        return None if comm is None else comm.where(
            F.col("batch_id") != batch_id
        )

    def seed_base(self, df: DataFrame) -> None:
        """One-time bootstrap: write ``df`` as the compacted base
        through the swap, so a crash mid-seed never leaves a partial
        base that would silently shrink the probe.  Caller ensures the
        state does not already exist."""
        swap_in(
            df.sparkSession,
            self.base_dir,
            df.repartition(STATE_FILES).write.mode("overwrite").parquet,
        )

    def write_delta(self, df: DataFrame, batch_id: int) -> None:
        """Write ``df`` as the batch's partition of an owned delta dir."""
        write_batch_partition(df, self.delta_dir, batch_id)

    def compact(self, sp: SparkSession) -> None:
        restore(sp, self.base_dir)
        deltas = self._deltas(sp, self.batch_id)
        if len(deltas) < COMPACT_EVERY:
            return
        merged = self._read(sp, deltas).dropDuplicates()
        fs, _ = hadoop_fs(sp, self.base_dir)

        def write(tmp: str) -> None:
            merged.repartition(STATE_FILES).write.parquet(tmp)
            mark = f"{tmp}/{self._WATERMARK}.{self.batch_id}"
            fs.create(hadoop_fs(sp, mark)[1]).close()

        # a failed swap raises before any partition is deleted, and
        # restore brings the old base and W back
        swap_in(sp, self.base_dir, write)
        if self.owns_delta:
            for p in deltas:
                fs.delete(hadoop_fs(sp, p)[1], True)


def stream_pages(spark: SparkSession, src_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(src_dir)
    )


def streaming_mention_counts(
    pages: DataFrame,
    alias_df: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """(window_start, qid, cnt) with late-data handling.

    Reuses the batch tokenizer + first-token broadcast probe; no
    dominance (see module docstring), so counts are per candidate
    match — the touch-counter semantics, which also ignores spans
    (src/arachne.cpp:224-233 counts every touch).
    """
    matched = probe_aliases(with_text(pages), alias_df, ["url", "warc_ts"])
    # group by the *window struct*, not window(...).start: projecting
    # .start inside the groupBy severs the event-time column from the
    # watermark, so append-mode refuses the plan and update-mode state
    # is never evicted.  Grouping on the struct keeps the linkage;
    # .start is projected after the aggregation.
    return (
        matched.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "qid")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"), "qid", "cnt"
        )
    )


def _run_micro_batches(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    state: TwoTierState,
    available_now: bool,
    step,
):
    """Start the foreachBatch stream both drivers share: the one
    per-batch commit.  ``step(batch_df, committed, cache)`` plans the
    batch against ``committed`` (``state.read_committed``: the probe
    without this batch's own rows) and returns ``(out, delta)``;
    ``cache(df)`` persists a frame the two writes share.  ``out`` is
    the ``batch_id=<n>`` partition of ``out_dir``, ``delta`` (None when
    ``out_dir`` is the state's delta tier) the state's own; persisted
    frames are released also when a write raises, and only a committed
    batch compacts the state.  The state calls go through the instance:
    the benchmark instruments them on the class."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cached: list[DataFrame] = []

        def cache(df: DataFrame) -> DataFrame:
            cached.append(df.persist())
            return df

        try:
            out, delta = step(
                batch_df, state.read_committed(sp, batch_id), cache
            )
            write_batch_partition(out, out_dir, batch_id)
            if delta is not None:
                state.write_delta(delta, batch_id)
        finally:
            for df in cached:
                df.unpersist()
        state.compact(sp)

    writer = (
        stream_pages(spark, src_dir)
        .writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_incremental_dedup(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    state_dir: str | None = None,
):
    """Streaming near-duplicate page dedup with stable representatives.

    Per micro-batch:

    1. cluster the batch's pages intra-batch with the batch operator's
       clustering (``near_dup_clusters``);
    2. probe each page's MinHash bands against the *committed* band
       index (all pages seen in earlier batches) with the same
       ``lsh_join``, which verifies candidates by exact Jaccard over
       the stored shingle sets, and adopt the minimum committed
       representative for the whole intra-batch cluster;
    3. emit (url, rep_url, keep, batch_id) to ``out_dir`` — ``keep``
       only for pages that start a brand-new cluster — and append the
       batch's signature rows and reps to the committed state.

    Semantics: **first-seen representative stability** — a committed
    page's rep never changes.  If one new page bridges two previously
    separate committed clusters, the new page adopts the smaller rep
    and the committed clusters stay distinct; the batch re-stitcher
    (``minhash_doc_dedup`` over the full corpus — the penelope role,
    /root/reference/include/penelope.hpp:29) reconciles bridges on its
    nightly pass.  This is the standard split between online dedup and
    offline re-clustering.

    **No df-cap** here, unlike the batch operator: the cap is computed
    over whatever shares the micro-batch, so a capped signature is NOT
    a pure function of the document — the same page would hash
    differently depending on batch composition, and a mirror arriving
    in a boilerplate-heavy batch would fail to collide with its
    committed original.  ``MAX_BAND_BUCKET`` bounds the intra-batch
    clustering's hot-band fan-out only: the committed-band probe is
    uncapped, so a band that B committed pages share fans each new page
    in it out into B candidates.  Precision is bounded by the
    exact-Jaccard verify; the nightly batch re-stitcher applies the
    globally-consistent df-cap.

    The committed band index ``(url, rep_url, shset, band_idx,
    band_hash, batch_id)`` — each page's ``minhash`` rows — is a
    ``TwoTierState`` at ``state_dir`` (default ``out_dir + "_state"``).
    """
    from arachne_spark.operators.dedup import doc_shingles, near_dup_clusters
    from arachne_spark.operators.lsh_link import lsh_join, minhash

    def process(batch_df: DataFrame, comm: DataFrame | None, cache):
        docs = with_text(latest_snapshot(batch_df)).select("url", "text")
        # sig and out (below) each feed both writes of the batch
        # (output partition + state rows): cached, so the signature,
        # the intra-batch dedup and the committed-band probe run once
        # per batch, not twice
        sig = cache(minhash(doc_shingles(docs, id_col="url"), "doc_id"))
        intra = near_dup_clusters(
            docs.select(F.col("url").alias("doc_id")), sig,
            DEDUP_THRESHOLD, MAX_BAND_BUCKET,
        ).select(
            F.col("doc_id").alias("url"),
            F.col("rep_id").alias("intra_rep"),
        )

        if comm is not None:
            # (url, batch) identifies a committed signature: a
            # recrawled url has one per batch it arrived in
            cand = (
                lsh_join(
                    sig,
                    comm.select(
                        F.col("url").alias("c_url"),
                        F.col("batch_id").alias("c_batch"),
                        F.col("rep_url").alias("c_rep"),
                        "shset", "band_idx", "band_hash",
                    ),
                    DEDUP_THRESHOLD,
                )
                .groupBy(F.col("doc_id").alias("url"))
                .agg(F.min("c_rep").alias("comm_rep"))
            )
            # the whole intra cluster adopts its minimum committed rep
            cluster_rep = (
                intra.join(cand, "url", "left")
                .groupBy(F.col("intra_rep").alias("cluster"))
                .agg(F.min("comm_rep").alias("cluster_comm_rep"))
            )
            resolved = intra.join(
                cluster_rep,
                intra["intra_rep"] == cluster_rep["cluster"],
            ).select(
                "url",
                F.coalesce("cluster_comm_rep", "intra_rep").alias(
                    "rep_url"
                ),
            )
        else:
            resolved = intra.select(
                "url", F.col("intra_rep").alias("rep_url")
            )

        out = cache(
            resolved.withColumn("keep", F.col("url") == F.col("rep_url"))
        )
        state_rows = out.select("url", "rep_url").join(
            sig.withColumnRenamed("doc_id", "url"), "url", "left"
        )
        return out, state_rows

    state = TwoTierState(
        state_dir if state_dir is not None else out_dir + "_state"
    )
    return _run_micro_batches(
        spark, src_dir, out_dir, checkpoint_dir, state, available_now,
        process,
    )


def run_incremental_pipeline(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    alias_df: DataFrame,
    predicate_df: DataFrame,
    available_now: bool = True,
    state_dir: str | None = None,
    scrub_pii: bool = False,
    c4_rules: bool = False,
    gopher_filter: bool = False,
    gopher_min_words: int = 50,
    classifier: tuple[dict[int, float], float, float] | None = None,
):
    """foreachBatch: full batch extraction core per micro-batch,
    written to ``out_dir`` with end-to-end idempotence:

    * **per-batch**: each micro-batch writes to its own
      ``batch_id=<n>`` partition directory with dynamic partition
      overwrite, so a retried batch (foreachBatch is at-least-once —
      the checkpoint replays a batch whose write half-finished)
      replaces its own files instead of appending duplicates;
    * **cross-batch**: a url re-crawled in a later micro-batch
      re-derives triples already committed by an earlier batch; an
      anti-join against the committed (subj, pred, obj) set drops
      them before the write, so the output table stays a set across
      the whole stream.  The anti-join's right side is NOT the full
      output table (re-reading every ``batch_id=*`` partition would
      make per-batch cost O(stream history)): it is a **compacted
      probe index**: a ``TwoTierState`` with its base at ``state_dir``
      (default ``out_dir + "_state"``) and the committed output
      partitions as its delta tier, so a batch writes its triples once.
      An Iceberg sink expresses the same upsert natively as MERGE; the
      probe index is the parquet-fallback statement of it.

    **Curation gates** (``scrub_pii`` / ``c4_rules`` /
    ``gopher_filter`` / ``classifier=(weights, bias, min_prob)``): the
    per-row steps of the batch's curation pass (``curate_pages``),
    applied per micro-batch in the same order.  Only these are offered
    on the stream — each is a pure function of row CONTENT (the
    CLAUDE.md streaming invariant), so batch boundaries cannot change
    any row's fate and streaming output equals the gated batch answer
    (test-pinned).  The CROSS-CORPUS passes (canonical-URL dedup, span
    dedup, boilerplate strip) stay batch-only by design: their output
    depends on the whole corpus, so a streaming variant would encode
    batch boundaries into results.
    """
    state = TwoTierState(
        state_dir if state_dir is not None else out_dir + "_state",
        out_dir,
    )
    # Bootstrap: a stream whose output was committed before the probe
    # index existed (or whose state dir was lost) must NOT run with an
    # empty probe, which would re-admit every committed triple.  Seed
    # the base once from the committed output's own rows.
    fs, path = hadoop_fs(spark, state.state_dir)
    if not fs.exists(path):
        committed = _try_read_parquet(spark, out_dir)
        if committed is not None:
            # Sentinel batch_id -1, NOT the historical values: after a
            # lost checkpoint the ids restart at 0, and read_committed
            # would exclude the seeded rows of a recycled id.
            state.seed_base(
                committed.select(
                    "subj",
                    "pred",
                    "obj",
                    F.lit(-1)
                    .cast(committed.schema["batch_id"].dataType)
                    .alias("batch_id"),
                )
            )

    def process(batch_df: DataFrame, committed: DataFrame | None, cache):
        pages = curate_pages(
            clean_pages(batch_df),
            scrub_pii=scrub_pii,
            c4_rules=c4_rules,
            gopher_filter=gopher_filter,
            gopher_min_words=gopher_min_words,
            classifier=classifier,
        )
        triples = link_triples(detect_mentions(pages, alias_df), predicate_df)
        # committed excludes THIS batch's rows: on an at-least-once
        # retry its partial rows exist, and anti-joining against them
        # before overwriting the same partition would drop the
        # partially-written triples.
        if committed is not None:
            triples = triples.join(
                committed.select("subj", "pred", "obj"),
                ["subj", "pred", "obj"],
                "left_anti",
            )
        # the output partition is the probe's delta: one consumer, so
        # nothing is persisted and the write coalesces to few files
        return triples, None

    return _run_micro_batches(
        spark, src_dir, out_dir, checkpoint_dir, state, available_now,
        process,
    )
