"""Structured Streaming parity tests: the incremental (perpetual)
mode must produce exactly what the batch pipeline core produces on the
same pages (SURVEY.md §2.2 streaming row; reference intent
readme.md:20-26)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from arachne_spark.operators.extract import latest_snapshot, with_text
from arachne_spark.operators.mentions import (
    detect_mentions,
    extract_relations,
    mention_triples,
)
from arachne_spark.sources.dictionary import alias_df, predicate_df
from arachne_spark.sources.pages import pages_df
from arachne_spark.streaming import incremental
from arachne_spark.streaming.incremental import (
    run_incremental_pipeline,
    stream_pages,
    streaming_mention_counts,
    write_batch_partition,
)

N_PAGES = 200


def _batch_triples(spark, pages):
    clean = with_text(latest_snapshot(pages).where(F.col("lang") == "en"))
    m = detect_mentions(clean, alias_df(spark))
    return mention_triples(m).unionByName(
        extract_relations(m, predicate_df(spark))
        .select("subj", "pred", "obj")
        .dropDuplicates()
    )


def test_streaming_mention_counts_match_batch(spark, tmp_path):
    src = str(tmp_path / "pages")
    pages_df(spark, N_PAGES, partitions=8).write.parquet(src)

    q = (
        streaming_mention_counts(
            stream_pages(spark, src), alias_df(spark)
        )
        .writeStream.format("memory")
        .queryName("mcounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window_start"], r["qid"]): r["cnt"]
        for r in spark.sql("select * from mcounts").collect()
    }

    # batch equivalent over the same files (no snapshot dedup in the
    # counting path: every touch counts, reference touch semantics)
    from arachne_spark.operators.mentions import (
        resolve_alias_dict,
        tokenize,
    )

    pages = spark.read.parquet(src)
    resolved = resolve_alias_dict(alias_df(spark))
    toks = tokenize(with_text(pages)).select(
        "warc_ts", "tokens", F.posexplode("tokens").alias("pos", "tok")
    )
    want_df = (
        toks.join(
            F.broadcast(resolved),
            toks["tok"] == resolved["first_tok"],
        )
        .where(
            F.expr("array_join(slice(tokens, pos + 1, n), ' ')")
            == F.col("alias")
        )
        .groupBy(
            F.window("warc_ts", "1 hour").start.alias("w"), "qid"
        )
        .agg(F.count("*").alias("cnt"))
    )
    want = {
        (r["w"], r["qid"]): r["cnt"] for r in want_df.collect()
    }
    assert got == want and len(got) > 0


def test_streaming_counts_append_mode_evicts_state(spark, tmp_path):
    """Append mode is the proof that the watermark is actually wired to
    the aggregation (grouping on window(...).start severs it and Spark
    rejects the plan outright).  Emitted rows must match the batch
    answer for every window old enough to have closed under the
    watermark; windows newer than (max event time - watermark) are
    legitimately withheld."""
    src = str(tmp_path / "pages_append")
    pages_df(spark, N_PAGES, partitions=8).write.parquet(src)

    q = (
        streaming_mention_counts(
            stream_pages(spark, src), alias_df(spark)
        )
        .writeStream.format("memory")
        .queryName("mcounts_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window_start"], r["qid"]): r["cnt"]
        for r in spark.sql("select * from mcounts_append").collect()
    }
    assert len(got) > 0

    from arachne_spark.operators.mentions import (
        resolve_alias_dict,
        tokenize,
    )

    pages = spark.read.parquet(src)
    resolved = resolve_alias_dict(alias_df(spark))
    toks = tokenize(with_text(pages)).select(
        "warc_ts", "tokens", F.posexplode("tokens").alias("pos", "tok")
    )
    want_df = (
        toks.join(
            F.broadcast(resolved),
            toks["tok"] == resolved["first_tok"],
        )
        .where(
            F.expr("array_join(slice(tokens, pos + 1, n), ' ')")
            == F.col("alias")
        )
        .groupBy(
            F.window("warc_ts", "1 hour").start.alias("w"), "qid"
        )
        .agg(F.count("*").alias("cnt"))
    )
    want = {(r["w"], r["qid"]): r["cnt"] for r in want_df.collect()}
    for key, cnt in got.items():
        assert want[key] == cnt
    # every window that closed under the final watermark was emitted
    max_ts = max(w for (w, _) in want)
    emitted_windows = {w for (w, _) in got}
    for (w, qid), cnt in want.items():
        if (max_ts - w).total_seconds() > 4 * 3600:  # safely closed
            assert (w, qid) in got


def test_foreachbatch_recrawl_no_duplicates(spark, tmp_path):
    """Cross-batch idempotence: a url re-crawled in a later micro-batch
    re-derives triples already committed by an earlier batch; the
    committed-table anti-join must keep the output a set."""
    src = str(tmp_path / "pages_recrawl")
    out = str(tmp_path / "triples_recrawl")
    ckpt = str(tmp_path / "ckpt_recrawl")
    pages = pages_df(spark, N_PAGES, partitions=8)
    # trigger 1: first snapshots only
    first = pages.groupBy("url").agg(
        F.min_by(
            F.struct("warc_ts", "html", "text", "lang"), "warc_ts"
        ).alias("s")
    ).select("url", "s.warc_ts", "s.html", "s.text", "s.lang")
    first.write.parquet(src)
    q = run_incremental_pipeline(
        spark, src, out, ckpt, alias_df(spark), predicate_df(spark)
    )
    q.awaitTermination(300)
    n_first = spark.read.parquet(out).count()

    # trigger 2: the re-crawl snapshots arrive (same urls, later ts,
    # text extended) — most of their triples duplicate batch 1's
    recrawls = pages.join(
        first.select("url", F.col("warc_ts").alias("first_ts")), "url"
    ).where(F.col("warc_ts") > F.col("first_ts")).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    assert recrawls.count() > 0
    recrawls.write.mode("append").parquet(src)
    q2 = run_incremental_pipeline(
        spark, src, out, ckpt, alias_df(spark), predicate_df(spark)
    )
    q2.awaitTermination(300)

    rows = spark.read.parquet(out).select("subj", "pred", "obj")
    total, distinct = rows.count(), rows.distinct().count()
    assert total == distinct  # no duplicate triples across batches
    assert total >= n_first
    # and the union equals the global batch answer over all snapshots
    want = _batch_triples(spark, spark.read.parquet(src))
    assert {tuple(r) for r in rows.collect()} == {
        tuple(r) for r in want.collect()
    }
    shutil.rmtree(ckpt, ignore_errors=True)


def test_write_batch_partition_idempotent(spark, tmp_path):
    """Rewriting a batch_id replaces that partition only, leaves the
    other partitions' files alone, and restores the session's
    partition-overwrite mode afterwards, also when the write raises."""
    key = "spark.sql.sources.partitionOverwriteMode"
    out = tmp_path / "parts"
    mode = spark.conf.get(key)

    def write(vals, batch_id):
        df = spark.createDataFrame([(v,) for v in vals], "v string")
        write_batch_partition(df, str(out), batch_id)

    def rows():
        return sorted(
            (r["batch_id"], r["v"])
            for r in spark.read.parquet(str(out)).collect()
        )

    def files(batch_id):
        return sorted(p.name for p in (out / f"batch_id={batch_id}").iterdir())

    write(["a", "b"], 0)
    write(["c"], 1)
    kept = files(1)
    write(["d"], 0)
    assert rows() == [(0, "d"), (1, "c")]
    assert files(1) == kept
    assert spark.conf.get(key) == mode

    # a frame with a duplicated column cannot be written: the write
    # raises, and the committed partitions and the session mode survive
    bad = spark.range(1).select(F.lit("e").alias("v"), F.lit("f").alias("v"))
    with pytest.raises(AnalysisException):
        write_batch_partition(bad, str(out), 1)
    assert spark.conf.get(key) == mode
    assert rows() == [(0, "d"), (1, "c")]
    assert files(1) == kept


def test_incremental_pipeline_state_bounded(spark, tmp_path, monkeypatch):
    """Round-3 VERDICT item: the pipeline's cross-batch anti-join must
    probe a COMPACTED index, not re-read the full committed table
    (O(history) per batch).  Across >= 8 micro-batches the probe state
    a batch reads is a compacted base (<= n_state_files files) plus at
    most compact_every delta partitions — the mirror of
    test_incremental_dedup_state_bounded_and_stable — while the output
    stays a set equal to the batch answer."""
    import os

    src = str(tmp_path / "pages_pbnd")
    out = str(tmp_path / "triples_pbnd")
    ckpt = str(tmp_path / "ckpt_pbnd")
    compact_every, n_state_files = 3, 4
    monkeypatch.setattr(incremental, "COMPACT_EVERY", compact_every)
    monkeypatch.setattr(incremental, "STATE_FILES", n_state_files)

    pages = pages_df(spark, N_PAGES, partitions=8)
    # 36 source files at maxFilesPerTrigger=4 → 9 micro-batches
    pages.repartition(36).write.parquet(src)
    q = run_incremental_pipeline(
        spark, src, out, ckpt, alias_df(spark), predicate_df(spark)
    )
    q.awaitTermination(600)
    assert (
        spark.read.parquet(out).select("batch_id").distinct().count() >= 8
    )

    state = out + "_state"
    base_files = [
        f for f in os.listdir(state + "/base") if f.endswith(".parquet")
    ]
    assert 0 < len(base_files) <= n_state_files
    delta_parts = (
        [
            d for d in os.listdir(state + "/delta")
            if d.startswith("batch_id=")
        ]
        if os.path.isdir(state + "/delta")
        else []
    )
    assert len(delta_parts) < compact_every

    rows = spark.read.parquet(out).select("subj", "pred", "obj")
    assert rows.count() == rows.distinct().count()
    want = _batch_triples(spark, spark.read.parquet(src))
    assert {tuple(r) for r in rows.collect()} == {
        tuple(r) for r in want.collect()
    }
    shutil.rmtree(ckpt, ignore_errors=True)


def test_incremental_pipeline_probe_bootstrap(spark, tmp_path):
    """Migration safety: an output committed BEFORE the probe index
    existed (or whose state dir was lost) must seed the probe from the
    committed rows instead of silently running with an empty one — a
    re-crawl after the state loss must still not duplicate triples."""
    import shutil as sh

    src = str(tmp_path / "pages_boot")
    out = str(tmp_path / "triples_boot")
    ckpt = str(tmp_path / "ckpt_boot")
    pages = pages_df(spark, 120, partitions=4)
    first = pages.groupBy("url").agg(
        F.min_by(
            F.struct("warc_ts", "html", "text", "lang"), "warc_ts"
        ).alias("s")
    ).select("url", "s.warc_ts", "s.html", "s.text", "s.lang")
    first.write.parquet(src)
    q = run_incremental_pipeline(
        spark, src, out, ckpt, alias_df(spark), predicate_df(spark)
    )
    q.awaitTermination(300)

    # simulate the legacy / state-lost stream
    sh.rmtree(out + "_state")

    recrawls = pages.join(
        first.select("url", F.col("warc_ts").alias("first_ts")), "url"
    ).where(F.col("warc_ts") > F.col("first_ts")).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    recrawls.write.mode("append").parquet(src)
    q2 = run_incremental_pipeline(
        spark, src, out, ckpt, alias_df(spark), predicate_df(spark)
    )
    q2.awaitTermination(300)

    rows = spark.read.parquet(out).select("subj", "pred", "obj")
    assert rows.count() == rows.distinct().count()

    # checkpoint ALSO lost: the re-run's batch ids restart at 0.  The
    # probe is seeded with a sentinel batch_id (-1), never the
    # committed rows' historical ids — otherwise read_committed's
    # `batch_id != current` filter would exclude seeded rows whose
    # recycled id matches the current batch and re-admit their triples.
    before = {tuple(r) for r in rows.collect()}
    sh.rmtree(out + "_state")
    sh.rmtree(ckpt)
    q3 = run_incremental_pipeline(
        spark, src, out, ckpt, alias_df(spark), predicate_df(spark)
    )
    q3.awaitTermination(300)
    rows3 = spark.read.parquet(out).select("subj", "pred", "obj")
    assert rows3.count() == rows3.distinct().count()
    assert {tuple(r) for r in rows3.collect()} == before
    shutil.rmtree(ckpt, ignore_errors=True)


def test_incremental_pipeline_curation_gates_match_batch(
    spark, tmp_path, monkeypatch
):
    """Round-4 verdict item 6: the per-row curation gates (PII scrub,
    C4 rules, Gopher filter, classifier score) are offered on the
    stream — each is a pure function of row content, so batch
    boundaries cannot change any row's fate.  Streaming output with
    gates on must equal the gated BATCH answer exactly, and the gates
    must do real work on this corpus (strictly fewer triples than the
    ungated run)."""
    from arachne_spark.operators.classify import quality_classifier_filter
    from arachne_spark.operators.quality import (
        c4_clean,
        gopher_quality_filter,
    )
    from arachne_spark.operators.scrub import scrub_expr

    src = str(tmp_path / "pages_gates")
    out = str(tmp_path / "triples_gates")
    ckpt = str(tmp_path / "ckpt_gates")
    pii = F.concat(
        F.col("text"),
        F.lit(" reach me at bob@example.com or 192.168.0.1"),
    )
    pages = pages_df(spark, N_PAGES, partitions=8).withColumn(
        "text",
        F.when(
            F.col("text").isNotNull() & (F.xxhash64("url") % 3 == 0),
            pii,
        ).otherwise(F.col("text")),
    )
    pages.repartition(8).write.parquet(src)

    w, bias, min_prob = {1: 0.2, 7: -0.1}, 0.3, 0.4
    monkeypatch.setattr(
        "arachne_spark.operators.quality.GOPHER_MIN_WORDS", 5
    )
    q = run_incremental_pipeline(
        spark, src, out, ckpt, alias_df(spark), predicate_df(spark),
        scrub_pii=True, c4_rules=True, gopher_filter=True,
        classifier=(w, bias, min_prob),
    )
    q.awaitTermination(600)
    got = {
        tuple(r)
        for r in spark.read.parquet(out)
        .select("subj", "pred", "obj").collect()
    }

    # batch twin: same gates, same order as the streaming curate()
    clean = with_text(
        latest_snapshot(spark.read.parquet(src)).where(
            F.col("lang") == "en"
        )
    )
    gated = clean.withColumn("text", scrub_expr(F.col("text")))
    gated = c4_clean(gated, id_col="url", text_col="text")
    gated = gopher_quality_filter(gated, id_col="url", text_col="text")
    gated = quality_classifier_filter(
        gated, w, bias, min_prob, id_col="url", text_col="text"
    )
    m = detect_mentions(gated, alias_df(spark))
    want = {
        tuple(r)
        for r in mention_triples(m)
        .unionByName(
            extract_relations(m, predicate_df(spark))
            .select("subj", "pred", "obj")
            .dropDuplicates()
        )
        .collect()
    }
    assert got == want
    ungated = {
        tuple(r)
        for r in _batch_triples(
            spark, spark.read.parquet(src)
        ).collect()
    }
    assert len(got) < len(ungated)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_incremental_dedup_stable_reps(spark, tmp_path):
    """Streaming near-dup dedup: pages arriving in a later micro-batch
    that duplicate committed pages adopt the committed representative
    (keep=False); committed rows never change (first-seen stability)."""
    from arachne_spark.streaming.incremental import run_incremental_dedup

    src = str(tmp_path / "pages_dd")
    out = str(tmp_path / "dedup_state")
    ckpt = str(tmp_path / "ckpt_dd")
    pages = pages_df(spark, 60, partitions=4)
    first = pages.groupBy("url").agg(
        F.min_by(
            F.struct("warc_ts", "html", "text", "lang"), "warc_ts"
        ).alias("s")
    ).select("url", "s.warc_ts", "s.html", "s.text", "s.lang")
    first.write.parquet(src)

    q = run_incremental_dedup(spark, src, out, ckpt)
    q.awaitTermination(300)
    state1 = {
        r["url"]: (r["rep_url"], r["keep"])
        for r in spark.read.parquet(out)
        .select("url", "rep_url", "keep").dropDuplicates().collect()
    }
    assert set(state1) == {r["url"] for r in first.select("url").collect()}

    # trigger 2: exact mirrors of every page under new urls
    mirrors = first.withColumn(
        "url", F.concat(F.col("url"), F.lit("-mirror"))
    ).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")
    )
    mirrors.write.mode("append").parquet(src)
    q2 = run_incremental_dedup(spark, src, out, ckpt)
    q2.awaitTermination(300)

    state2 = {
        r["url"]: (r["rep_url"], r["keep"])
        for r in spark.read.parquet(out)
        .select("url", "rep_url", "keep").dropDuplicates().collect()
    }
    # committed rows unchanged
    for u, v in state1.items():
        assert state2[u] == v
    # every mirror adopts its original's committed rep and is dropped
    for u, (rep, _) in state1.items():
        assert state2[u + "-mirror"] == (rep, False)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_incremental_dedup_state_bounded_and_stable(
    spark, tmp_path, monkeypatch
):
    """Many micro-batches: the band-index state a batch must read is a
    compacted base (≤ n_state_files files) plus at most compact_every
    delta partitions — bounded regardless of stream history (round-2
    VERDICT item: the old layout re-read every batch_id=* partition,
    O(history) per batch).  Representatives must stay first-seen-stable
    across the compaction boundary: mirrors arriving after compaction
    probe the base, not fresh deltas."""
    import os

    from arachne_spark.streaming.incremental import run_incremental_dedup

    src = str(tmp_path / "pages_bnd")
    out = str(tmp_path / "dedup_bnd")
    ckpt = str(tmp_path / "ckpt_bnd")
    compact_every, n_state_files = 3, 4
    monkeypatch.setattr(incremental, "COMPACT_EVERY", compact_every)
    monkeypatch.setattr(incremental, "STATE_FILES", n_state_files)

    pages = pages_df(spark, 120, partitions=8)
    first = pages.groupBy("url").agg(
        F.min_by(
            F.struct("warc_ts", "html", "text", "lang"), "warc_ts"
        ).alias("s")
    ).select("url", "s.warc_ts", "s.html", "s.text", "s.lang")
    # 20 source files at maxFilesPerTrigger=4 → 5 micro-batches
    first.repartition(20).write.parquet(src)

    q = run_incremental_dedup(spark, src, out, ckpt)
    q.awaitTermination(600)
    assert (
        spark.read.parquet(out).select("batch_id").distinct().count() >= 5
    )

    state = out + "_state"
    base_files = [
        f for f in os.listdir(state + "/base") if f.endswith(".parquet")
    ]
    assert 0 < len(base_files) <= n_state_files
    delta_parts = (
        [
            d for d in os.listdir(state + "/delta")
            if d.startswith("batch_id=")
        ]
        if os.path.isdir(state + "/delta")
        else []
    )
    assert len(delta_parts) < compact_every

    state1 = {
        r["url"]: (r["rep_url"], r["keep"])
        for r in spark.read.parquet(out)
        .select("url", "rep_url", "keep").dropDuplicates().collect()
    }
    assert set(state1) == {r["url"] for r in first.select("url").collect()}

    # mirrors arrive AFTER the base was compacted: the committed-rep
    # probe must find the originals in the base tier
    mirrors = first.withColumn(
        "url", F.concat(F.col("url"), F.lit("-m"))
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))
    mirrors.repartition(4).write.mode("append").parquet(src)
    q2 = run_incremental_dedup(spark, src, out, ckpt)
    q2.awaitTermination(600)

    state2 = {
        r["url"]: (r["rep_url"], r["keep"])
        for r in spark.read.parquet(out)
        .select("url", "rep_url", "keep").dropDuplicates().collect()
    }
    for u, v in state1.items():
        assert state2[u] == v  # committed rows never change
    for u, (rep, _) in state1.items():
        assert state2[u + "-m"] == (rep, False)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_session_windows_match_batch(spark, tmp_path):
    """Sessionization must work in the streaming engine too (stateful
    session merging across micro-batches), and the complete-mode
    result must equal the batch session_window answer on the same
    rows."""
    src = str(tmp_path / "events_sessions")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rows = ev.select("user_id", "ts").where(F.col("user_id") < 30)
    rows.repartition(6).write.parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    # no watermark: complete mode keeps all session state, so files
    # arriving in arbitrary time order still merge correctly (events
    # span weeks — any realistic watermark would drop "late" files and
    # split sessions; a production append-mode run feeds time-ordered
    # batches and sets the watermark to its real lateness bound)
    q = (
        stream
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("s"),
                F.col("w.end").alias("e"), "n")
        .writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["s"], r["e"], r["n"])
        for r in spark.sql("select * from sessions_stream").collect()
    }
    want = {
        (r["user_id"], r["s"], r["e"], r["n"])
        for r in spark.read.parquet(src)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("s"),
                F.col("w.end").alias("e"), "n")
        .collect()
    }
    assert got == want and len(got) > 0


def test_stateful_touch_promotion(spark, tmp_path):
    """Cross-batch stateful promotion: each QID whose cumulative
    mention count reaches the threshold is emitted exactly once, and
    the promoted set equals the batch groupBy-count answer."""
    from arachne_spark.operators.mentions import (
        resolve_alias_dict,
        tokenize,
    )
    from arachne_spark.streaming.stateful import streaming_touch_promotion

    src = str(tmp_path / "pages_state")
    pages_df(spark, N_PAGES, partitions=8).write.parquet(src)
    threshold = 20

    resolved = resolve_alias_dict(alias_df(spark))

    def matched(pages):
        toks = tokenize(with_text(pages)).select(
            "tokens", F.posexplode("tokens").alias("pos", "tok")
        )
        return toks.join(
            F.broadcast(resolved),
            toks["tok"] == resolved["first_tok"],
        ).where(
            F.expr("array_join(slice(tokens, pos + 1, n), ' ')")
            == F.col("alias")
        ).select("qid")

    q = (
        streaming_touch_promotion(
            matched(stream_pages(spark, src)), threshold=threshold
        )
        .writeStream.format("memory")
        .queryName("promoted_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("select * from promoted_stream").collect()
    got = {r["qid"] for r in rows}
    assert len(rows) == len(got)  # exactly-once emission per qid

    want = {
        r["qid"]
        for r in matched(spark.read.parquet(src))
        .groupBy("qid")
        .count()
        .where(F.col("count") >= threshold)
        .collect()
    }
    assert got == want and len(want) > 0


def test_foreachbatch_incremental_matches_batch(spark, tmp_path):
    src = str(tmp_path / "pages2")
    out = str(tmp_path / "triples_out")
    ckpt = str(tmp_path / "ckpt")
    pages = pages_df(spark, N_PAGES, partitions=8)
    pages.write.parquet(src)

    q = run_incremental_pipeline(
        spark, src, out, ckpt, alias_df(spark), predicate_df(spark)
    )
    q.awaitTermination(300)

    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(out).collect()
    }
    # A url's two snapshots may land in different micro-batches, so the
    # per-batch latest_snapshot can process both.  Snapshot 0's text is
    # a strict prefix of snapshot 1's, so its triples are a subset —
    # the streamed union therefore equals the global-batch result:
    want = {
        (r["subj"], r["pred"], r["obj"])
        for r in _batch_triples(spark, spark.read.parquet(src)).collect()
    }
    assert got == want

    # restart with same checkpoint: no new batches, no duplicates
    q2 = run_incremental_pipeline(
        spark, src, out, ckpt, alias_df(spark), predicate_df(spark)
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == len(
        {
            (r["subj"], r["pred"], r["obj"], r["batch_id"])
            for r in spark.read.parquet(out).collect()
        }
    )
    shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_model_scoring_matches_batch(spark, tmp_path):
    """Model-based quality scoring (classifier prob + LM perplexity)
    is per-document and stateless given a trained model, so scoring a
    stream micro-batch-by-micro-batch must equal the batch run EXACTLY
    (the per-doc decimal sums make this bit-level, not approximate)."""
    import os as _os
    import sys

    sys.path.insert(0, _os.path.dirname(_os.path.abspath(__file__)))
    from test_classify import _corpus

    from arachne_spark.operators.classify import (
        hashed_ngram_features,
        lr_train,
        quality_score,
    )
    from arachne_spark.operators.lm import lm_perplexity, lm_train

    docs, labels = _corpus(spark)
    nf = 1 << 12
    w, b = lr_train(
        hashed_ngram_features(docs, n_features=nf), labels, n_iters=8
    )
    uni, bi = lm_train(docs)
    uni, bi = uni.localCheckpoint(), bi.localCheckpoint()

    src = str(tmp_path / "score_src")
    docs.repartition(4).write.parquet(src)  # several input files
    out: list = []

    def score_batch(batch_df, batch_id):
        scored = quality_score(batch_df, w, b, n_features=nf).join(
            lm_perplexity(batch_df, uni, bi), "doc_id"
        )
        out.extend(
            (r["doc_id"], r["prob"], r["perplexity"])
            for r in scored.collect()
        )

    q = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(score_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    batch = quality_score(
        spark.read.parquet(src), w, b, n_features=nf
    ).join(lm_perplexity(spark.read.parquet(src), uni, bi), "doc_id")
    want = sorted(
        (r["doc_id"], r["prob"], r["perplexity"])
        for r in batch.collect()
    )
    assert sorted(out) == want        # EXACT equality, many batches
    assert len(want) == docs.count()


def test_failed_micro_batch_releases_persisted_frames(
    spark, tmp_path, monkeypatch
):
    """A micro-batch whose output write raises fails the query, and
    every frame the batch persisted is released: the session's cache
    manager is empty afterwards, for both drivers."""
    from pyspark.errors import StreamingQueryException

    from arachne_spark.streaming.incremental import run_incremental_dedup

    src = str(tmp_path / "pages_fail")
    pages_df(spark, 40, partitions=2).write.parquet(src)

    def broken(df, path, batch_id):
        raise RuntimeError("write failed")

    monkeypatch.setattr(incremental, "write_batch_partition", broken)
    drivers = {
        "pipeline": lambda out, ckpt: run_incremental_pipeline(
            spark, src, out, ckpt, alias_df(spark), predicate_df(spark)
        ),
        "dedup": lambda out, ckpt: run_incremental_dedup(
            spark, src, out, ckpt
        ),
    }
    for name, start in drivers.items():
        spark.catalog.clearCache()
        q = start(str(tmp_path / f"out_{name}"), str(tmp_path / name))
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(300)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
            name
        )


def test_state_calls_once_per_micro_batch(spark, tmp_path, monkeypatch):
    """The benchmark instruments ``TwoTierState.read_committed``,
    ``write_delta`` and ``compact`` on the class and reads
    ``delta_dir``: on both drivers ``read_committed`` and ``compact``
    run once per non-empty micro-batch, on one instance.  The dedup
    writes its state rows once per batch with ``write_delta``; the
    pipeline's output partitions are its delta, so it never calls
    ``write_delta``."""
    import os

    from arachne_spark.streaming.incremental import (
        TwoTierState,
        run_incremental_dedup,
    )

    src = str(tmp_path / "pages_calls")
    # 8 source files at maxFilesPerTrigger=4 → 2 micro-batches
    pages_df(spark, 80, partitions=4).repartition(8).write.parquet(src)
    calls = {"read_committed": 0, "write_delta": 0, "compact": 0}
    seen = set()

    def counting(name):
        orig = getattr(TwoTierState, name)

        def wrapped(self, *args):
            calls[name] += 1
            seen.add(self)
            return orig(self, *args)

        return wrapped

    for name in calls:
        monkeypatch.setattr(TwoTierState, name, counting(name))
    drivers = {
        "pipeline": lambda out, ckpt: run_incremental_pipeline(
            spark, src, out, ckpt, alias_df(spark), predicate_df(spark)
        ),
        "dedup": lambda out, ckpt: run_incremental_dedup(
            spark, src, out, ckpt
        ),
    }
    for name, start in drivers.items():
        calls.update(dict.fromkeys(calls, 0))
        seen.clear()
        q = start(
            str(tmp_path / f"out_calls_{name}"),
            str(tmp_path / f"ckpt_calls_{name}"),
        )
        q.awaitTermination(300)
        batches = sum(p["numInputRows"] > 0 for p in q.recentProgress)
        assert batches == 2, name
        writes = batches if name == "dedup" else 0
        assert calls == {
            "read_committed": batches, "write_delta": writes,
            "compact": batches,
        }, name
        (state,) = seen
        if name == "dedup":
            assert os.path.isdir(state.delta_dir)


def _state_stream(spark, tmp_path, name, n_files):
    """(src, out, ckpt, start) of a pipeline stream over ``n_files``
    source files (4 per micro-batch) whose modification times increase
    with their names, so every run groups them into the same batches."""
    import os

    src = str(tmp_path / f"pages_{name}")
    out = str(tmp_path / f"triples_{name}")
    ckpt = str(tmp_path / f"ckpt_{name}")
    pages_df(spark, N_PAGES, partitions=8).repartition(n_files).write.parquet(
        src
    )
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    for i, f in enumerate(files):
        os.utime(os.path.join(src, f), (1_000_000 + i, 1_000_000 + i))

    def start():
        q = run_incremental_pipeline(
            spark, src, out, ckpt, alias_df(spark), predicate_df(spark)
        )
        q.awaitTermination(600)
        return q

    return src, out, ckpt, start


def _assert_output_is_batch_answer(spark, src, out):
    rows = spark.read.parquet(out).select("subj", "pred", "obj")
    assert rows.count() == rows.distinct().count()
    want = _batch_triples(spark, spark.read.parquet(src))
    assert {tuple(r) for r in rows.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_incremental_pipeline_probe_read_bounded(
    spark, tmp_path, monkeypatch
):
    """The pipeline's probe is its compacted base plus the output
    partitions above the watermark: across >= 8 micro-batches each
    batch reads at most n_state_files base files and fewer than
    compact_every output partitions, never its own."""
    import re

    from arachne_spark.streaming.incremental import TwoTierState

    compact_every, n_state_files = 3, 4
    monkeypatch.setattr(incremental, "COMPACT_EVERY", compact_every)
    monkeypatch.setattr(incremental, "STATE_FILES", n_state_files)
    src, out, _, start = _state_stream(spark, tmp_path, "rbnd", 36)
    reads = []
    orig = TwoTierState.read_committed

    def recording(self, sp, batch_id):
        df = orig(self, sp, batch_id)
        files = [] if df is None else df.inputFiles()
        reads.append((
            batch_id,
            sum("/base/" in f for f in files),
            {
                int(m.group(1)) for f in files
                if (m := re.search(r"/triples_rbnd/batch_id=(\d+)/", f))
            },
        ))
        return df

    monkeypatch.setattr(TwoTierState, "read_committed", recording)
    start()
    assert len(reads) >= 8
    for batch_id, base_files, parts in reads:
        assert base_files <= n_state_files, batch_id
        assert len(parts) < compact_every, batch_id
        assert batch_id not in parts
    # the base was read, and partitions were read beside it
    assert any(b for _, b, _ in reads) and any(p for *_, p in reads)
    _assert_output_is_batch_answer(spark, src, out)


def test_incremental_pipeline_retry_after_compaction(
    spark, tmp_path, monkeypatch
):
    """foreachBatch is at-least-once: a batch whose commit compacted the
    state and which is then run again (its checkpoint commit lost)
    probes without its own rows and rewrites the same rows."""
    import os

    monkeypatch.setattr(incremental, "COMPACT_EVERY", 2)
    src, out, ckpt, start = _state_stream(spark, tmp_path, "retry", 16)
    start()
    last = max(int(f) for f in os.listdir(ckpt + "/commits") if f.isdigit())
    state = incremental.TwoTierState(out + "_state", out)
    # the last batch's commit ran the compaction that absorbed it
    assert state.watermark(spark) == last

    def part():
        path = f"{out}/batch_id={last}"
        return sorted(os.listdir(path)), sorted(
            tuple(r) for r in spark.read.parquet(path).collect()
        )

    files, before = part()
    assert before
    for f in (str(last), f".{last}.crc"):
        os.remove(f"{ckpt}/commits/{f}")
    q = start()
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 1
    rewritten, after = part()
    assert rewritten != files and after == before
    _assert_output_is_batch_answer(spark, src, out)


def test_incremental_pipeline_lost_checkpoint_keeps_state(
    spark, tmp_path, monkeypatch
):
    """A checkpoint lost with the state kept: the rerun's batch ids
    restart at 0, below the state's watermark, and the output stays a
    set equal to the batch answer."""
    monkeypatch.setattr(incremental, "COMPACT_EVERY", 2)
    src, out, ckpt, start = _state_stream(spark, tmp_path, "lostck", 16)
    start()
    _assert_output_is_batch_answer(spark, src, out)
    shutil.rmtree(ckpt)
    q = start()
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 4
    _assert_output_is_batch_answer(spark, src, out)


def test_compaction_crash_restores_base_with_its_watermark(
    spark, tmp_path, monkeypatch
):
    """A crash between the compaction swap's two renames leaves the
    base missing; ``storage.restore`` brings back the pre-swap base
    together with its watermark."""
    from arachne_spark.plans import storage
    from arachne_spark.streaming.incremental import TwoTierState

    monkeypatch.setattr(incremental, "COMPACT_EVERY", 2)
    out = str(tmp_path / "crash_out")
    state = TwoTierState(str(tmp_path / "crash_state"), out)

    def commit(batch_id):
        rows = spark.createDataFrame(
            [(f"s{batch_id}", "p", "o")],
            "subj string, pred string, obj string",
        )
        write_batch_partition(rows, out, batch_id)
        state.read_committed(spark, batch_id)
        state.compact(spark)

    def base():
        return sorted(
            tuple(r) for r in spark.read.parquet(state.base_dir).collect()
        )

    commit(0)
    commit(1)
    assert state.watermark(spark) == 1
    pre = base()
    assert pre == [("s0", "p", "o", 0), ("s1", "p", "o", 1)]

    renames = []
    real = storage.checked_rename

    def crash_on_second(fs, src, dst):
        renames.append(dst)
        if len(renames) == 2:
            raise IOError("crash between the swap's renames")
        real(fs, src, dst)

    commit(2)
    monkeypatch.setattr(storage, "checked_rename", crash_on_second)
    with pytest.raises(IOError):
        commit(3)
    monkeypatch.setattr(storage, "checked_rename", real)
    assert not (tmp_path / "crash_state" / "base").exists()
    storage.restore(spark, state.base_dir)
    assert state.watermark(spark) == 1
    assert base() == pre
