"""Golden end-to-end pipeline tests against the independent oracle:
byte-identical extraction, triple P/R >= 0.95, determinism across
parallelism, and snapshot resume (SURVEY.md §5.2)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from arachne_spark.pipeline import (
    CANDIDATES_THRESHOLD,
    PipelineConfig,
    canonicalize_join,
    run_pipeline,
)
from arachne_spark.plans.lineage import StageRecorder
from arachne_spark.plans.storage import Warehouse
from arachne_spark.session import local_df
from arachne_spark.sources.dictionary import alias_df, labels_df, predicate_df
from arachne_spark.sources.pages import pages_df
from tests import oracle

N_PAGES = 300


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    cfg = PipelineConfig(warehouse=wh, n_pages=N_PAGES, run_id="t1")
    summary = run_pipeline(spark, cfg)
    return wh, cfg, summary


def _triples(spark, wh) -> set:
    rows = spark.read.parquet(f"{wh}/triples").collect()
    return {(r["subj"], r["pred"], r["obj"]) for r in rows}


def test_extraction_byte_identical(spark, pipeline_result):
    wh, _, _ = pipeline_result
    texts, _ = oracle.expected_output(N_PAGES)
    got = {
        r["url"]: r["text"]
        for r in spark.read.parquet(f"{wh}/pages_clean").collect()
    }
    assert set(got) == set(texts)
    mismatches = [u for u in texts if got[u] != texts[u]]
    assert not mismatches, (
        f"{len(mismatches)} texts differ, e.g. {mismatches[0]}: "
        f"{got[mismatches[0]]!r} vs {texts[mismatches[0]]!r}"
    )


def test_triple_precision_recall(spark, pipeline_result):
    wh, _, _ = pipeline_result
    _, want = oracle.expected_output(N_PAGES)
    got = _triples(spark, wh)
    p, r = oracle.precision_recall(got, want)
    assert p >= 0.95, f"precision {p:.4f} < 0.95; extra: {list(got - want)[:5]}"
    assert r >= 0.95, f"recall {r:.4f} < 0.95; missing: {list(want - got)[:5]}"


def test_no_sameas_survives_and_canonical_subjects(spark, pipeline_result):
    wh, _, _ = pipeline_result
    t = spark.read.parquet(f"{wh}/triples")
    assert t.where(F.col("pred") == "sameAs").count() == 0
    # co-referent duplicates must have been stitched to the min-QID rep
    assert t.where(
        F.col("subj").isin("Q990082", "Q999769")
        | F.col("obj").isin("Q990082", "Q999769")
    ).count() == 0
    # the committed triples are exactly the canonicalization join of
    # the committed inputs
    raw = spark.read.parquet(f"{wh}/triples_raw")
    m = spark.read.parquet(f"{wh}/canonical_map")
    want = canonicalize_join(raw.where(F.col("pred") != "sameAs"), m)
    assert _triples(spark, wh) == {tuple(r) for r in want.collect()}


def test_fuzzy_links_present(spark, pipeline_result):
    """Misspelled surface forms resolve through the MinHash-LSH
    long-tail path to the intended entities."""
    wh, _, _ = pipeline_result
    fm = spark.read.parquet(f"{wh}/fuzzy_mentions")
    got = {(r["surface"], r["qid"]) for r in fm.collect()}
    assert ("velazques", "Q297") in got
    assert ("pheidipides", "Q313728") in got
    # every fuzzy link clears the score gate
    assert fm.where(F.col("jaccard") < 0.5).count() == 0


def test_promotion_threshold(spark, pipeline_result):
    wh, _, _ = pipeline_result
    promoted = spark.read.parquet(f"{wh}/promoted")
    mentions = spark.read.parquet(f"{wh}/mentions")
    true_counts = {
        r["qid"]: r["c"]
        for r in mentions.groupBy("qid").agg(F.count("*").alias("c")).collect()
    }
    got = {r["qid"]: r["cnt"] for r in promoted.collect()}
    want = {
        q: c for q, c in true_counts.items() if c >= CANDIDATES_THRESHOLD
    }
    assert got == want  # salted two-phase count == plain count


def test_lineage_and_metrics_tables(spark, pipeline_result):
    """Per-partition lineage + per-stage metrics (the north-rule
    observability requirement): every stage appears in both tables,
    and each stage's lineage partition counts sum to its metrics row
    count."""
    wh, cfg, summary = pipeline_result
    metrics = spark.read.parquet(f"{wh}/kg_metrics").where(
        F.col("run_id") == cfg.run_id
    )
    lineage = spark.read.parquet(f"{wh}/kg_lineage").where(
        F.col("run_id") == cfg.run_id
    )
    want_stages = {s["stage"] for s in summary["stages"]}
    assert want_stages == {
        r["stage"] for r in metrics.select("stage").distinct().collect()
    }
    assert want_stages == {
        r["stage"] for r in lineage.select("stage").distinct().collect()
    }
    lin_totals = {
        r["stage"]: r["t"]
        for r in lineage.groupBy("stage")
        .agg(F.sum("rows").alias("t"))
        .collect()
    }
    for s in summary["stages"]:
        assert lin_totals[s["stage"]] == s["rows"], s["stage"]
    # partition ids are real (non-negative) for non-empty stages
    nonneg = lineage.where(
        (F.col("rows") > 0) & (F.col("partition_id") < 0)
    ).count()
    assert nonneg == 0
    # independent of the parquet footers: a scan of each committed
    # table, rows grouped by the part-NNNNN task number of their file
    # (triples is pred-partitioned: one task writes several files)
    assert "triples" in want_stages
    for stage in want_stages:
        scanned = {
            (r["p"], r["n"])
            for r in spark.read.parquet(f"{wh}/{stage}")
            .groupBy(
                F.regexp_extract(F.input_file_name(), r"part-(\d+)-", 1)
                .cast("int")
                .alias("p")
            )
            .agg(F.count("*").alias("n"))
            .collect()
        } or {(-1, 0)}
        recorded = {
            (r["partition_id"], r["rows"])
            for r in lineage.where(F.col("stage") == stage).collect()
        }
        assert recorded == scanned, stage


def _jobs_in_group(sc, group: str, fn) -> int:
    """Spark jobs ``fn`` launches, counted in the status store."""
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    groups = (jobs.apply(i).jobGroup() for i in range(jobs.size()))
    return sum(1 for g in groups if g.isDefined() and g.get() == group)


def test_recorder_launches_no_jobs(spark, tmp_path):
    """Recording a stage costs no Spark job: on the resume path
    run_stage launches exactly the jobs of the bare resume_or_compute
    of the same stage (row counts come from the parquet footers, the
    rows are committed once per run by flush)."""
    wh = Warehouse(spark, str(tmp_path / "jobs_wh"))
    rec = StageRecorder(wh, "jobs")
    df = spark.range(100).selectExpr("id", "id % 3 as k")
    wh.resume_or_compute("stage", lambda: df, partition_by=["k"])
    sc = spark.sparkContext
    bare = _jobs_in_group(
        sc, "recorder-bare", lambda: wh.resume_or_compute("stage", None)
    )
    recorded = _jobs_in_group(
        sc, "recorder-run-stage", lambda: rec.run_stage("stage", None)
    )
    assert recorded == bare
    assert rec.records[-1]["rows"] == 100 and rec.records[-1]["resumed"]


def test_local_inputs_need_no_python_worker(spark):
    """Driver-side rows (dictionaries, the recorder's flush) become
    JVM-only DataFrames: exact round trip, and no plan scans a Python
    RDD, which would start a Python worker pool on every run."""
    schema = "s string, n long, b boolean, i int"
    rows = [
        ("\u00e9 \u2028 \"q\" \\ \U0001f600", 2**53 + 1, True, None),
        ("", -(2**63), False, 0),
    ]
    df = local_df(spark, rows, schema)
    assert df.schema.simpleString() == (
        "struct<s:string,n:bigint,b:boolean,i:int>"
    )
    assert [tuple(r) for r in df.collect()] == rows
    assert local_df(spark, [], schema).count() == 0
    for make in (alias_df, labels_df, predicate_df):
        plan = make(spark)._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan


def test_failing_run_still_flushes(spark, tmp_path, monkeypatch):
    """A run that raises still commits the metrics and lineage rows of
    every stage it finished, and no others."""
    import arachne_spark.pipeline as pipeline

    def fail(*_args, **_kwargs):
        raise RuntimeError("canonical_mapping failed")

    monkeypatch.setattr(pipeline, "canonical_mapping", fail)
    wh = str(tmp_path / "fail_wh")
    with pytest.raises(RuntimeError, match="canonical_mapping failed"):
        run_pipeline(
            spark, PipelineConfig(warehouse=wh, n_pages=60, run_id="fail")
        )
    finished = [
        "pages_clean", "page_dupes", "mentions", "fuzzy_mentions",
        "promoted", "fetch_queue", "entities", "triples_raw",
    ]
    metrics = spark.read.parquet(f"{wh}/kg_metrics").collect()
    assert sorted((r["run_id"], r["stage"]) for r in metrics) == sorted(
        ("fail", s) for s in finished
    )
    lineage = spark.read.parquet(f"{wh}/kg_lineage").collect()
    assert {r["run_id"] for r in lineage} == {"fail"}
    assert {r["stage"] for r in lineage} == set(finished)


def test_determinism_across_parallelism(spark, tmp_path):
    """Same triples at different parallelism (SURVEY.md §5.2)."""
    results = []
    for par, tag in [(2, "p2"), (8, "p8")]:
        wh = str(tmp_path / tag)
        pages = pages_df(spark, 120, partitions=par)
        cfg = PipelineConfig(warehouse=wh, n_pages=120, run_id=tag)
        run_pipeline(spark, cfg, pages=pages)
        results.append(_triples(spark, wh))
        shutil.rmtree(wh, ignore_errors=True)
    assert results[0] == results[1]


def test_page_dedup_gate(spark, tmp_path):
    """cfg.dedup_pages: near-duplicate pages collapse to the min-url
    representative; only representatives feed mention detection."""
    wh = str(tmp_path / "dedup_wh")
    pages = pages_df(spark, 60, partitions=4)
    originals = ["https://example.org/p/3", "https://example.org/p/5"]
    clones = pages.where(F.col("url").isin(originals)).withColumn(
        "url", F.concat(F.col("url"), F.lit("-mirror"))
    )
    cfg = PipelineConfig(
        warehouse=wh, n_pages=60, run_id="dd",
        dedup_pages=True,
    )
    run_pipeline(spark, cfg, pages=pages.unionByName(clones))
    dupes = {
        r["url"]: (r["rep_url"], r["keep"])
        for r in spark.read.parquet(f"{wh}/page_dupes").collect()
    }
    for u in originals:
        assert dupes[u] == (u, True)
        assert dupes[u + "-mirror"] == (u, False)
    mentions = spark.read.parquet(f"{wh}/mentions")
    assert mentions.where(F.col("url").endswith("-mirror")).count() == 0
    assert mentions.where(F.col("url").isin(originals)).count() > 0


def test_resume_skips_committed_stages(spark, tmp_path):
    wh = str(tmp_path / "resume")
    cfg = PipelineConfig(warehouse=wh, n_pages=120, run_id="r1")
    first = run_pipeline(spark, cfg)
    assert all(not s["resumed"] for s in first["stages"])
    # simulate crash after commit of the mentions stage: drop later stages
    for stage in [
        "fuzzy_mentions", "promoted", "fetch_queue", "entities",
        "triples_raw", "canonical_map", "triples",
    ]:
        shutil.rmtree(f"{wh}/{stage}", ignore_errors=True)
    second = run_pipeline(spark, PipelineConfig(
        warehouse=wh, n_pages=120, run_id="r2"
    ))
    by_stage = {s["stage"]: s for s in second["stages"]}
    assert by_stage["pages_clean"]["resumed"]
    assert by_stage["mentions"]["resumed"]
    assert not by_stage["triples"]["resumed"]
    assert second["triples"] == first["triples"]


def test_fetch_state_two_runs_one_write(spark, tmp_path):
    """A second run over the same warehouse rewrites fetch_state in
    place: the result is the previous state merged with this run's
    queue at its logical now (latest timestamp per qid), and no
    side table is left behind."""
    wh = str(tmp_path / "state")
    pages = pages_df(spark, 120, partitions=4)
    run_pipeline(spark, PipelineConfig(warehouse=wh, run_id="s1"),
                 pages=pages)
    state1 = {
        r["qid"]: r["last_fetched_ts"]
        for r in spark.read.parquet(f"{wh}/fetch_state").collect()
    }
    # two days later, half of the pages recrawled: every entity they
    # mention is stale again, the rest keep their first fetch time
    uid = F.element_at(F.split("url", "/"), -1).cast("int")
    later = pages.where(uid >= 60).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 2 DAYS")
    )
    run_pipeline(spark, PipelineConfig(warehouse=wh, run_id="s2",
                                       force=True), pages=later)
    now2 = spark.read.parquet(f"{wh}/pages_clean").agg(
        F.max("warc_ts")
    ).collect()[0][0]
    queue2 = [
        r["qid"] for r in spark.read.parquet(f"{wh}/fetch_queue").collect()
    ]
    want = dict(state1)
    for q in queue2:
        want[q] = max(want.get(q, now2), now2)
    got = {
        r["qid"]: r["last_fetched_ts"]
        for r in spark.read.parquet(f"{wh}/fetch_state").collect()
    }
    assert queue2 and set(state1) - set(queue2)
    assert got == want
    assert sorted(p.name for p in (tmp_path / "state").iterdir()
                  if p.name.startswith("fetch_state")) == ["fetch_state"]


def test_flush_any_round_robin(spark):
    """flush(any)'s documented round-robin (include/arachne.hpp:
    114-123): sorted by (rr_round, kind), every kind's batch #r
    dispatches before any kind's batch #r+1, and kinds alternate
    within a round."""
    from pyspark.sql import functions as F

    from arachne_spark.operators.routing import flush_order

    rows = (
        [("item", f"item:{i}") for i in range(4)]
        + [("property", f"property:{i}") for i in range(2)]
        + [("lexeme", f"lexeme:{i}") for i in range(3)]
    )
    batches = spark.createDataFrame(rows, "kind string, batch_id string")
    # duplicate rows must not produce duplicate dispatch entries
    ordered = (
        flush_order(batches.unionByName(batches))
        .orderBy("rr_round", "kind")
        .collect()
    )
    assert len(ordered) == 9
    seq = [(r["rr_round"], r["kind"], r["batch_id"]) for r in ordered]
    # round 0 dispatches one batch of every kind before round 1 starts
    assert [s[1] for s in seq[:3]] == ["item", "lexeme", "property"]
    assert [s[0] for s in seq] == sorted(s[0] for s in seq)
    # a kind's batches dispatch in batch order across rounds
    item_batches = [s[2] for s in seq if s[1] == "item"]
    assert item_batches == [f"item:{i}" for i in range(4)]
    # exhausted kinds drop out of later rounds (property has 2 batches)
    assert [s[1] for s in seq if s[0] == 2] == ["item", "lexeme"]
    assert [s[1] for s in seq if s[0] == 3] == ["item"]
    # past 9 batches the NUMERIC ordinal governs: raw string order
    # would dispatch 'item:10' before 'item:2'
    many = spark.createDataFrame(
        [("item", f"item:{i}") for i in range(12)],
        "kind string, batch_id string",
    )
    seq12 = [
        r["batch_id"]
        for r in flush_order(many).orderBy("rr_round").collect()
    ]
    assert seq12 == [f"item:{i}" for i in range(12)]


def test_corpus_curation_stages(spark, tmp_path):
    """cfg.{canonical_url_dedup, scrub_pii, quality_filter}: the
    optional hygiene pre-stages fold a tracking-param URL mirror,
    redact PII before dedup (so contact-detail-only variants become
    exact dups), and drop a repetition-degenerate page — while the
    bulk of the clean corpus passes untouched."""
    import datetime as dt

    wh = str(tmp_path / "curate_wh")
    pages = pages_df(spark, 60, partitions=4)
    # same page under a tracking-tagged URL spelling
    mirror = pages.where(
        F.col("url") == "https://example.org/p/3"
    ).withColumn(
        "url", F.concat(F.col("url"), F.lit("?utm_source=feed"))
    )
    ts = dt.datetime(2024, 1, 1)
    prose = (
        "the committee reviewed the annual report and approved the "
        "new budget for infrastructure spending next year"
    )
    extra = [
        # PII pair: identical text except the email address
        ("https://example.org/pii/a", ts, None,
         f"contact alice@example.com today\n{prose}", "en"),
        ("https://example.org/pii/b", ts, None,
         f"contact bob@example.net today\n{prose}", "en"),
        # repetition-degenerate page
        ("https://example.org/spam", ts, None,
         "buy cheap now " * 40, "en"),
    ]
    extra_df = spark.createDataFrame(
        extra, "url string, warc_ts timestamp, html binary, "
               "text string, lang string"
    )
    cfg = PipelineConfig(
        warehouse=wh, n_pages=60, run_id="cur",
        canonical_url_dedup=True, scrub_pii=True, quality_filter=True,
        dedup_pages=True,
    )
    run_pipeline(
        spark, cfg, pages=pages.unionByName(mirror).unionByName(extra_df)
    )
    curated = spark.read.parquet(f"{wh}/pages_curated")
    urls = {r["url"] for r in curated.select("url").collect()}
    # exactly one spelling of the mirrored page survives
    assert len(
        urls & {"https://example.org/p/3",
                "https://example.org/p/3?utm_source=feed"}
    ) == 1
    # the degenerate page is gone; the bulk of the corpus survives
    # (the synthetic fixture is TEMPLATED text, so a handful of pages
    # legitimately trip the published Gopher thresholds — ~90% pass)
    assert "https://example.org/spam" not in urls
    assert curated.count() >= 50
    # PII is redacted corpus-wide...
    assert curated.where(F.col("text").contains("@example")).count() == 0
    assert curated.where(
        F.col("text").contains("<EMAIL>")
    ).count() == 2
    # ...and the two contact variants now dedup to one representative
    dupes = {
        r["url"]: r["keep"]
        for r in spark.read.parquet(f"{wh}/page_dupes")
        .where(F.col("url").startswith("https://example.org/pii/"))
        .collect()
    }
    assert sorted(dupes.values()) == [False, True]
    shutil.rmtree(wh, ignore_errors=True)


def test_rank_entities_stage(spark, tmp_path):
    """rank_entities=True materializes entity_rank: full rank mass
    (sums to 1), url+entity vertices, recorded stage metrics."""
    wh = str(tmp_path / "pr")
    cfg = PipelineConfig(
        warehouse=wh, n_pages=60, run_id="pr", rank_entities=True
    )
    res = run_pipeline(spark, cfg)
    assert any(s["stage"] == "entity_rank" for s in res["stages"])
    ranks = spark.read.parquet(f"{wh}/entity_rank")
    rows = ranks.collect()
    assert len(rows) > 0
    assert set(ranks.columns) == {"v", "rank"}
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-6
    # triple objects (link targets) must outrank pure-source urls
    top = max(rows, key=lambda r: (r["rank"], r["v"]))
    assert not top["v"].startswith("https://")


def test_strip_dup_spans_stage(spark, tmp_path):
    """cfg.strip_dup_spans cuts a copied passage out of the
    lexicographically-later document while the first occurrence and
    the rest of the corpus pass through row-preserving."""
    import datetime as dt

    wh = str(tmp_path / "spans_wh")
    pages = pages_df(spark, 40, partitions=4)
    passage = " ".join(f"tok{i}" for i in range(40))
    ts = dt.datetime(2024, 1, 1)
    extra_df = spark.createDataFrame(
        [("https://example.org/a-first", ts, None,
          f"original context {passage} closing words", "en"),
         ("https://example.org/z-copy", ts, None,
          f"unrelated opening {passage} different ending", "en")],
        "url string, warc_ts timestamp, html binary, "
        "text string, lang string",
    )
    cfg = PipelineConfig(
        warehouse=wh, n_pages=40, run_id="spans",
        strip_dup_spans=True, dup_span_tokens=20,
    )
    run_pipeline(spark, cfg, pages=pages.unionByName(extra_df))
    clean = spark.read.parquet(f"{wh}/pages_clean")
    curated = spark.read.parquet(f"{wh}/pages_curated")
    assert curated.count() == clean.count()  # row-preserving
    texts = {
        r["url"]: r["text"]
        for r in curated.where(
            F.col("url").startswith("https://example.org/")
        ).collect()
    }
    assert texts["https://example.org/a-first"] == \
        f"original context {passage} closing words"
    assert texts["https://example.org/z-copy"] == \
        "unrelated opening different ending"
    shutil.rmtree(wh, ignore_errors=True)


def test_all_gates_compose(spark, tmp_path):
    """Every optional pipeline feature ON in one run: curation gates,
    near-dup page dedup, entity ranking and RDF materialization
    compose without interfering."""
    import os

    wh = str(tmp_path / "all_wh")
    cfg = PipelineConfig(
        warehouse=wh, n_pages=60, run_id="all",
        canonical_url_dedup=True, scrub_pii=True,
        strip_dup_spans=True, dup_span_tokens=30,
        quality_filter=True, dedup_pages=True,
        rank_entities=True, materialize_rdf=True,
    )
    res = run_pipeline(spark, cfg)
    stages = {s["stage"] for s in res["stages"]}
    assert {"pages_clean", "pages_curated", "page_dupes", "mentions",
            "triples", "entity_rank"} <= stages
    assert res["triples"] > 0
    ranks = spark.read.parquet(f"{wh}/entity_rank")
    assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-6
    assert os.path.exists(f"{wh}/triples_nt/_SUCCESS")
    # resume: a second run reuses every committed stage
    second = run_pipeline(spark, cfg)
    assert all(s["resumed"] for s in second["stages"])
    assert second["triples"] == res["triples"]
    shutil.rmtree(wh, ignore_errors=True)


def test_c4_and_gopher_gates(spark, tmp_path):
    """cfg.{c4_rules, gopher_filter} on a hand-made realistic corpus:
    C4 strips unterminated/javascript lines and kills the code page;
    Gopher drops the stopword-free spam page; real prose survives to
    the mention stage."""
    import datetime as dt

    wh = str(tmp_path / "c4g_wh")
    ts = dt.datetime(2024, 1, 1)
    prose_lines = [
        "The committee met to review the annual report in detail.",
        "Members agreed that the budget should be approved this year.",
        "They also decided to have the plan reviewed with experts.",
        "A final vote will be held when the council convenes again.",
    ]
    pages = [
        # good page: survives both gates intact
        ("https://example.org/good", ts, None,
         "\n".join(prose_lines), "en"),
        # page with junk lines: C4 keeps only the terminated prose
        ("https://example.org/mixed", ts, None,
         "Click here\nPlease enable javascript now.\n"
         + "\n".join(prose_lines), "en"),
        # code page: C4 blanks it (brace), Gopher then drops it
        ("https://example.org/code", ts, None,
         "function f() { return 1; }\n" + "\n".join(prose_lines), "en"),
        # stopword-free spam: passes C4 lines but fails Gopher
        ("https://example.org/spam", ts, None,
         " ".join("buy cheap pills online today." for _ in range(20)),
         "en"),
    ]
    df = spark.createDataFrame(
        pages, "url string, warc_ts timestamp, html binary, "
               "text string, lang string",
    )
    cfg = PipelineConfig(
        warehouse=wh, n_pages=4, run_id="c4g",
        c4_rules=True, gopher_filter=True, gopher_min_words=20,
    )
    run_pipeline(spark, cfg, pages=df)
    curated = {
        r["url"]: r["text"]
        for r in spark.read.parquet(f"{wh}/pages_curated").collect()
    }
    assert set(curated) == {
        "https://example.org/good", "https://example.org/mixed"
    }
    assert curated["https://example.org/good"] == "\n".join(prose_lines)
    assert curated["https://example.org/mixed"] == "\n".join(prose_lines)
    shutil.rmtree(wh, ignore_errors=True)
