"""End-to-end KG-construction pipeline (the `arachne` ingest path E1,
SURVEY.md §3, restated Spark-first).

Stage graph (each stage = committed snapshot table, resumable):

  pages ─ latest_snapshot ─ lang filter ─ extract text   → pages_clean
  pages_clean ─ MinHash bands ─ verify ─ CC clusters     → page_dupes
        (url → rep_url near-dup map; filters the corpus when
         cfg.dedup_pages — the training-data dedup gate)
        └ detect_mentions (broadcast alias dict)         → mentions
  unmatched long tokens ─ MinHash-LSH block ─ Jaccard    → fuzzy_mentions
  mentions ─ salted touch-count ≥ 50                     → promoted
  mentions ∪ promoted ─ entity_root ─ staleness anti-join
           ─ batch-id assignment                         → fetch_queue
  fetch_queue ⋈ broadcast labels (enrichment)            → entities
  mentions → (url,'mentions',qid) ∪ relation extraction  → triples_raw
  triples_raw[sameAs] → large-star/small-star CC         → canonical_map
  triples_raw ⋈ canonical_map (broadcast)                → triples

Reference behaviors realized (citations into /root/reference):
* add_entity/enqueue staleness gate  src/arachne.cpp:201-222,235-251
* touch promotion at >= 50           src/arachne.cpp:224-233
* batch chunking <= 50 per batch     include/arachne.hpp:283-284,
                                     src/pheidippides.cpp:56
* dictionary enrichment join         src/pheidippides.cpp:29-82
* deterministic merge priority       replaces hash-order merge_patch,
                                     src/pheidippides.cpp:79
* groups/stitching via CC            include/penelope.hpp:29 (intent)
"""

from __future__ import annotations

import argparse
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arachne_spark.functions.ids import entity_root, identify
from arachne_spark.operators.cc import canonical_mapping
from arachne_spark.operators.classify import quality_classifier_filter
from arachne_spark.operators.dedup import (
    exact_substring_dedup,
    minhash_doc_dedup,
)
from arachne_spark.operators.extract import clean_pages
from arachne_spark.operators.lsh_link import fuzzy_mentions
from arachne_spark.operators.mentions import detect_mentions, link_triples
from arachne_spark.operators.quality import (
    c4_clean,
    gopher_quality_filter,
    repetition_filter,
)
from arachne_spark.operators.sampling import hash_unit
from arachne_spark.operators.scrub import scrub_expr
from arachne_spark.operators.skew import promote_candidates
from arachne_spark.operators.urls import with_canonical
from arachne_spark.plans.lineage import StageRecorder
from arachne_spark.plans.storage import Warehouse
from arachne_spark.sources.dictionary import alias_df, labels_df, predicate_df
from arachne_spark.sources.pages import pages_df

# reference thresholds (include/arachne.hpp:283-291)
BATCH_THRESHOLD = 50
CANDIDATES_THRESHOLD = 50
STALENESS_HOURS = 24
# near-dup page dedup (batch page_dupes stage and streaming dedup):
# exact-Jaccard verify threshold
DEDUP_THRESHOLD = 0.9
# parallel window groups per kind for batch-id assignment
BATCH_BUCKETS = 256


@dataclass
class PipelineConfig:
    """Declarative job config — the `call_preview` analog
    (src/pheidippides.cpp:143-184): everything resolved up front,
    inspectable before execution."""

    warehouse: str
    n_pages: int = 2000
    run_id: str = "r0"
    force: bool = False  # ignore committed snapshots (full recompute)
    # near-dup page dedup gate: the map is always computed (page_dupes
    # stage); when True, only cluster representatives flow downstream
    dedup_pages: bool = False
    # graph materialization: also serialize the final triples table as
    # RDF N-Triples under <warehouse>/triples_nt (sources/ntriples.py)
    materialize_rdf: bool = False
    # corpus-curation pre-stages (operators/{urls,scrub,quality}.py),
    # applied between snapshot cleaning and page dedup; each is the
    # standard pre-training hygiene pass, off by default so the KG
    # outputs stay byte-identical unless a deployment opts in:
    # collapse recrawl URL spellings to one page per canonical URL
    canonical_url_dedup: bool = False
    # redact email/IP/phone BEFORE dedup so pages differing only in
    # injected contact details dedup together
    scrub_pii: bool = False
    # drop Gopher-rule repetition-degenerate pages
    quality_filter: bool = False
    # cut duplicated >= dup_span_tokens token passages out of every
    # occurrence but the corpus-first one (exact_substring_dedup) —
    # runs after PII scrub so redacted copies merge, before the
    # repetition filter so cut docs are judged on what remains
    strip_dup_spans: bool = False
    dup_span_tokens: int = 50
    # C4 line/page rules (terminal punctuation, javascript lines,
    # lorem ipsum / brace pages) — line-level, so it runs BEFORE the
    # document-level gates judge what remains
    c4_rules: bool = False
    # full Gopher A1.1 heuristic gate (word count window, mean word
    # length, symbol/bullet/ellipsis caps, alpha floor, stopwords)
    gopher_filter: bool = False
    gopher_min_words: int = 50
    # entity-importance ranking: materialize deterministic PageRank
    # over the canonical triples (operators/pagerank.py) as an
    # `entity_rank` stage — how a consumer finds the hot entities the
    # skew handling already protects, without a hand-curated list
    rank_entities: bool = False


FETCH_STATE = "fetch_state"


def enrich_entities(fetch_queue: DataFrame, labels: DataFrame) -> DataFrame:
    """The fetch_json dictionary lookup (src/pheidippides.cpp:29-82).

    No broadcast hint: a real Wikidata labels table is ~10^8 rows —
    far past the 8 GB broadcast ceiling.  AQE broadcasts the filtered
    side while it fits and falls back to a shuffled join otherwise
    (measured both ways in BASELINE.md); the kind filter inside chunks
    (:59-61) holds by construction (qid grammar ↔ kind column).
    """
    return fetch_queue.join(
        labels.where(F.col("lang") == "en"),
        ["qid", "kind"],
        "left",
    ).select("qid", "kind", "batch_id", "label")


def assign_batches(queue: DataFrame) -> DataFrame:
    """Chunk the fetch queue into batches of <= BATCH_THRESHOLD per kind.

    The reference chunks with std::views::chunk(50) in one thread
    (src/pheidippides.cpp:56); a single global row_number would serialize
    at scale, so the window is partitioned by (kind, hash bucket) —
    BATCH_BUCKETS independent windows per kind, each emitting bounded
    batches.
    """
    bucket = F.pmod(F.xxhash64("qid"), F.lit(BATCH_BUCKETS))
    w = Window.partitionBy("kind", "bucket").orderBy("qid")
    return (
        queue.withColumn("bucket", bucket)
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "batch_id",
            F.concat_ws(
                ":",
                "kind",
                F.col("bucket").cast("string"),
                F.floor((F.col("rn") - 1) / BATCH_THRESHOLD).cast("string"),
            ),
        )
        .drop("rn")
    )


def canonicalize_join(t: DataFrame, m: DataFrame) -> DataFrame:
    """triples ⋈ canonical_map on subj, then on obj, coalescing to the
    canonical qid.  No broadcast hint: sameAs clusters grow with the
    corpus; AQE chooses broadcast vs shuffle at runtime."""
    t = (
        t.join(
            m.withColumnRenamed("qid", "subj").withColumnRenamed(
                "canonical_qid", "subj_c"
            ),
            "subj",
            "left",
        )
        .join(
            m.withColumnRenamed("qid", "obj").withColumnRenamed(
                "canonical_qid", "obj_c"
            ),
            "obj",
            "left",
        )
        .select(
            F.coalesce("subj_c", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_c", "obj").alias("obj"),
        )
        .dropDuplicates()
    )
    return t


def curate_pages(
    pages: DataFrame,
    canonical_url_dedup: bool = False,
    scrub_pii: bool = False,
    c4_rules: bool = False,
    strip_dup_spans: bool = False,
    dup_span_tokens: int = 50,
    quality_filter: bool = False,
    gopher_filter: bool = False,
    gopher_min_words: int = 50,
    classifier: tuple[dict[int, float], float, float] | None = None,
) -> DataFrame:
    """The one curation pass of batch and stream, in the order a
    pre-training pipeline runs it: URL-canonical dedup first (cheapest
    key, folds recrawl spellings before any text work), then PII scrub
    (so the near-dup stage sees redacted text and contact-detail-only
    variants collapse), C4 line rules, span strip, the repetition and
    Gopher filters, the classifier ``(weights, bias, min_prob)``.
    Preserves the pages schema; returns ``pages`` itself when no step
    is on.  The stream turns on only the per-row steps."""
    out = pages
    if canonical_url_dedup:
        key = F.coalesce(F.col("canonical_url"), F.col("url"))
        w = Window.partitionBy(key).orderBy(
            hash_unit(F.col("url"), "canon_rep"), "url"
        )
        out = (
            with_canonical(out)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(*pages.columns)
        )
    if scrub_pii:
        out = out.withColumn("text", scrub_expr(F.col("text")))
    if c4_rules:
        out = c4_clean(out, id_col="url", text_col="text")
    if strip_dup_spans:
        out = exact_substring_dedup(
            out, k=dup_span_tokens, id_col="url", text_col="text"
        )
    if quality_filter:
        out = repetition_filter(out, id_col="url", text_col="text")
    if gopher_filter:
        out = gopher_quality_filter(
            out, id_col="url", text_col="text", min_words=gopher_min_words
        )
    if classifier is not None:
        out = quality_classifier_filter(
            out, *classifier, id_col="url", text_col="text"
        )
    return out


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    pages: DataFrame | None = None,
) -> dict:
    wh = Warehouse(spark, cfg.warehouse)
    rec = StageRecorder(wh, cfg.run_id)
    try:
        _run_stage_graph(spark, cfg, pages, wh, rec)
    finally:
        # one kg_lineage / kg_metrics commit per run; a run that raises
        # still records the stages it finished
        rec.flush()
    # stage totals come from the recorder (parquet footers), so the
    # summary costs no count job
    rows = {r["stage"]: r["rows"] for r in rec.records}
    return {
        "stages": rec.records,
        "triples": rows["triples"],
        "entities": rows["entities"],
    }


def _run_stage_graph(
    spark: SparkSession,
    cfg: PipelineConfig,
    pages: DataFrame | None,
    wh: Warehouse,
    rec: StageRecorder,
) -> None:
    aliases = alias_df(spark)
    labels = labels_df(spark)
    preds = predicate_df(spark)

    if pages is None:
        pages = pages_df(spark, cfg.n_pages)

    pages_clean = rec.run_stage(
        "pages_clean",
        lambda: clean_pages(pages),
        force=cfg.force,
    )

    curated = curate_pages(
        pages_clean, canonical_url_dedup=cfg.canonical_url_dedup,
        scrub_pii=cfg.scrub_pii, c4_rules=cfg.c4_rules,
        strip_dup_spans=cfg.strip_dup_spans,
        dup_span_tokens=cfg.dup_span_tokens,
        quality_filter=cfg.quality_filter, gopher_filter=cfg.gopher_filter,
        gopher_min_words=cfg.gopher_min_words,
    )
    if curated is not pages_clean:
        pages_clean = rec.run_stage(
            "pages_curated", lambda: curated, force=cfg.force
        )

    # near-duplicate page map (url → min-url representative): the
    # LLM-training-data dedup pass, composed from MinHash bands +
    # Jaccard verify + connected components (operators/dedup.py)
    page_dupes = rec.run_stage(
        "page_dupes",
        lambda: minhash_doc_dedup(
            pages_clean.select("url", "text"),
            id_col="url",
            threshold=DEDUP_THRESHOLD,
        ).select(
            F.col("doc_id").alias("url"),
            F.col("rep_id").alias("rep_url"),
            "keep",
        ),
        force=cfg.force,
    )
    if cfg.dedup_pages:
        pages_clean = pages_clean.join(
            page_dupes.where(F.col("keep")).select("url"),
            "url",
            "left_semi",
        )

    mentions = rec.run_stage(
        "mentions",
        lambda: detect_mentions(pages_clean, aliases),
        force=cfg.force,
    )

    # long-tail fuzzy linking (north_star: MinHash-LSH blocking for
    # candidates the exact broadcast lookup misses)
    fuzzy = rec.run_stage(
        "fuzzy_mentions",
        lambda: fuzzy_mentions(pages_clean, mentions, aliases),
        force=cfg.force,
    )

    promoted = rec.run_stage(
        "promoted",
        lambda: promote_candidates(
            mentions, key="qid", threshold=CANDIDATES_THRESHOLD,
            salt_from="url",
        ),
        force=cfg.force,
    )

    # "logical now" = max crawl timestamp: one 1-row scalar over the
    # committed pages_clean snapshot, computed once and reused by both
    # the staleness gate and the fetch_state update
    logical_now = pages_clean.agg(F.max("warc_ts")).collect()[0][0]

    def build_queue() -> DataFrame:
        # every mentioned entity enters the queue (add_entity path);
        # promoted candidates are the extra_batches analog — same join
        # downstream, exactly as SURVEY.md §2 O8 prescribes.
        seen = (
            mentions.select(entity_root(F.col("qid")).alias("qid"))
            .unionByName(promoted.select("qid"))
            .where(F.col("qid").isNotNull())
            .distinct()
            .withColumn("kind", identify(F.col("qid")))
        )
        # staleness gate (enqueue, src/arachne.cpp:201-222): skip
        # entities fetched < STALENESS_HOURS before logical now.
        # No broadcast hint: fetch_state grows with the entity
        # universe — AQE picks broadcast while it's small and falls
        # back to a shuffled anti-join once it isn't.
        if wh.is_committed(FETCH_STATE):
            fresh = wh.read(FETCH_STATE).where(
                F.col("last_fetched_ts")
                >= F.lit(logical_now).cast("timestamp")
                - F.expr(f"INTERVAL {STALENESS_HOURS} HOURS")
            )
            seen = seen.join(fresh, "qid", "left_anti")
        return assign_batches(seen)

    fetch_queue = rec.run_stage("fetch_queue", build_queue, force=cfg.force)

    rec.run_stage(
        "entities",
        lambda: enrich_entities(fetch_queue, labels),
        force=cfg.force,
    )

    # update fetch_state (ariadne.store analog, src/arachne.cpp:103).
    # The cast keeps the column a real timestamp even when pages_clean
    # is empty (logical_now is None → F.lit alone would be NullType,
    # which parquet cannot write).
    new_state = fetch_queue.select(
        "qid", F.lit(logical_now).cast("timestamp").alias("last_fetched_ts")
    )
    if wh.is_committed(FETCH_STATE):
        prev = wh.read(FETCH_STATE)
        new_state = (
            prev.unionByName(new_state)
            .groupBy("qid")
            .agg(F.max("last_fetched_ts").alias("last_fetched_ts"))
        )
    # safe although new_state reads FETCH_STATE: Warehouse.write
    # commits by writing a temp copy and renaming it into place
    wh.write(new_state, FETCH_STATE)

    triples_raw = rec.run_stage(
        "triples_raw",
        lambda: link_triples(mentions, preds, fuzzy),
        force=cfg.force,
    )

    canonical_map = rec.run_stage(
        "canonical_map",
        lambda: canonical_mapping(
            triples_raw.where(F.col("pred") == "sameAs").select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
        ),
        force=cfg.force,
    )

    triples = rec.run_stage(
        "triples",
        lambda: canonicalize_join(
            triples_raw.where(F.col("pred") != "sameAs"), canonical_map
        ),
        force=cfg.force,
        partition_by=["pred"],
    )

    if cfg.rank_entities:
        from arachne_spark.operators.pagerank import entity_pagerank

        rec.run_stage(
            "entity_rank",
            lambda: entity_pagerank(triples),
            force=cfg.force,
        )

    if cfg.materialize_rdf:
        # the graph-materialize step of the north_star: the interchange
        # serialization inherits the triples table's pred partitioning
        from arachne_spark.sources.ntriples import write_ntriples

        write_ntriples(triples, cfg.warehouse + "/triples_nt")


def main() -> None:
    from arachne_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument("--warehouse", default="/tmp/arachne_warehouse")
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--run-id", default="cli")
    args = ap.parse_args()

    spark = get_spark("arachne-pipeline")
    cfg = PipelineConfig(
        warehouse=args.warehouse,
        n_pages=args.pages,
        force=args.force,
        run_id=args.run_id,
    )
    out = run_pipeline(spark, cfg)
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
