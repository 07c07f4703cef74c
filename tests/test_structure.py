"""Structural guards over the engine sources (``arachne_spark/``,
``bench.py``, ``tools/``): each piece of the KG link core is defined
once, batch and stream call that one definition, and the bench times
the shipped stage graph (``run_pipeline``), not a copy of it; each
media format's structure is walked once, behind one never-raise
boundary, every JPEG scan runs one block loop into one
coefficient store, and BMP, ICO and AVI share one DIB header parse
and gate; connected components and transitive closure share one
round loop, and components finish small frontiers through one driver
union-find; fuzzy linking, page dedup and streaming dedup share one
MinHash-LSH and one hot-key cap; batch and stream share one alias
probe, and the canonicalization step has one plan over plain
warehouse files; no
option selects a second warehouse backend, ANN dot engine or
mention-probe join; the warehouse commits one (unpartitioned) layout,
and the thresholds and caps the KG stage graph's callers all set
alike are module constants, not parameters; the stage graph runs on
one executor, and no engine source writes the session's conf; the
text-curation operators share one token n-gram builder and one
ordered text rebuild, with no interpreted lambda."""

from __future__ import annotations

import ast
import inspect
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [
    *sorted((ROOT / "arachne_spark").rglob("*.py")),
    ROOT / "bench.py",
    *sorted((ROOT / "tools").glob("*.py")),
]


def _holders(match) -> set[str]:
    """``file:function`` of every innermost function definition that
    holds a node for which ``match`` is true (``<module>`` outside any
    function; nested functions as ``outer.inner``)."""
    found = set()

    def walk(node, rel, fn):
        for child in ast.iter_child_nodes(node):
            if match(child):
                found.add(f"{rel}:{'.'.join(fn) or '<module>'}")
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, rel, (*fn, child.name))
            else:
                walk(child, rel, fn)

    for src in SOURCES:
        walk(ast.parse(src.read_text()), src.relative_to(ROOT).as_posix(), ())
    return found


def _calls(name: str):
    def match(node) -> bool:
        if not isinstance(node, ast.Call):
            return False
        f = node.func
        return getattr(f, "id", getattr(f, "attr", None)) == name

    return match


def test_link_core_defined_once():
    link = {"arachne_spark/operators/mentions.py:link_triples"}
    assert _holders(_calls("mention_triples")) == link
    assert _holders(_calls("extract_relations")) == link
    assert _holders(
        lambda n: isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "partitionOverwriteMode" in n.value
    ) == {"arachne_spark/streaming/incremental.py:write_batch_partition"}
    # the lang-filtered snapshot chain lives in clean_pages; the
    # streaming dedup keeps its own, deliberately unfiltered, snapshot
    assert _holders(_calls("latest_snapshot")) == {
        "arachne_spark/operators/extract.py:clean_pages",
        "arachne_spark/streaming/incremental.py:run_incremental_dedup.process",
    }


def test_bench_times_the_shipped_stage_graph():
    def in_bench(name: str) -> set[str]:
        return {
            h for h in _holders(_calls(name)) if h.startswith("bench.py:")
        }

    # the scaling bench chains no KG operator and its KG pair persists
    # nothing of its own: it times run_pipeline, the call kgbench times
    for name in ("clean_pages", "detect_mentions", "fuzzy_mentions",
                 "link_triples"):
        assert not in_bench(name), name
    kg = "bench.py:kg_core_run"
    for name in ("persist", "cache"):
        assert not {h for h in in_bench(name) if h.startswith(kg)}, name
    runs = in_bench("run_pipeline")
    assert runs and all(h.startswith(kg) for h in runs)


def test_stage_bookkeeping_launches_no_jobs():
    lineage = "arachne_spark/plans/lineage.py"
    # lineage row counts come from parquet footers, not a rescan of
    # the committed table
    assert not {
        h for h in _holders(_calls("spark_partition_id"))
        if h.startswith(lineage + ":")
    }
    # kg_metrics / kg_lineage are named once and written only by the
    # once-per-run StageRecorder.flush
    assert _holders(
        lambda n: isinstance(n, ast.Constant)
        and n.value in ("kg_metrics", "kg_lineage")
    ) == {f"{lineage}:<module>"}
    assert _holders(
        lambda n: isinstance(n, ast.Name)
        and isinstance(n.ctx, ast.Load)
        and n.id in ("METRICS_TABLE", "LINEAGE_TABLE")
    ) == {f"{lineage}:flush"}


def test_media_structure_parsed_once():
    media = "arachne_spark/operators/multimodal.py"
    tree = ast.parse((ROOT / media).read_text())
    # one never-raise boundary: every handler names an exception
    # (no hand-written tuple, no bare except), only the boundary
    # catches the hostile-input set, and that set leaves MemoryError
    # and bare Exception to propagate
    handlers = [n for n in ast.walk(tree) if isinstance(n, ast.ExceptHandler)]
    assert {getattr(h.type, "id", None) for h in handlers} <= {
        "_HOSTILE", "Malformed"}
    assert {
        h for h in _holders(lambda n: isinstance(n, ast.ExceptHandler)
                            and getattr(n.type, "id", None) == "_HOSTILE")
        if h.startswith(media + ":")
    } == {f"{media}:_never_raise.guarded"}
    hostile = next(
        n.value for n in tree.body if isinstance(n, ast.Assign)
        and getattr(n.targets[0], "id", None) == "_HOSTILE")
    caught = {ast.unparse(e) for e in hostile.elts}
    assert not caught & {"Exception", "BaseException", "MemoryError"}
    # each structure walker and layout function is defined once, no
    # per-format walker sits beside the reader's, and the live
    # metadata helper is payload_meta (fake_decode named it a stub)
    defs = [n.name for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.ClassDef))]
    for name in ("_Reader", "boxes", "chunks", "ebml_elements",
                 "_png_layout", "_netpbm_layout", "_gif_layout",
                 "_tiff_layout", "_bmp_layout", "_ico_layout",
                 "_wav_layout", "_aiff_layout", "_flac_layout",
                 "_avi_scan", "_mp4_layout", "_mkv_layout",
                 "_jpeg_segments", "_jpeg_blocks", "_jpeg_finish",
                 "_dib_header", "_dib_palette", "_dib_ok",
                 "_never_raise", "_map_payloads", "payload_meta"):
        assert defs.count(name) == 1, name
    for gone in ("fake_decode", "_mp4_boxes", "_riff_chunks",
                 "_ebml_elements", "_skip_subblocks", "_wav_resolve_tag",
                 "_jpeg_pixels", "_ico_entries", "_jpeg_scan",
                 "_jpeg_next_marker", "_jpeg_prog_sos", "_jpeg_assemble"):
        assert gone not in defs, gone

    def callers(name: str) -> set[str]:
        return {h.split(":")[1] for h in _holders(_calls(name))
                if h.startswith(media + ":")}

    # JPEG: the header decode and the T.81 decoder share one marker
    # walk; every scan, sequential or progressive, runs the one block
    # loop into the coefficient store and ends in the one IDCT pass
    assert callers("_jpeg_segments") == {"_decode_jpeg",
                                         "decode_jpeg_pixels"}
    assert callers("_jpeg_blocks") == {"_jpeg_decode_scan"}
    assert callers("_jpeg_decode_scan") == {"decode_jpeg_pixels"}
    assert callers("_jpeg_finish") == {"decode_jpeg_pixels"}
    # BMP files, ICO DIB entries and the AVI video strf share one
    # BITMAPINFOHEADER parse and one palette read, and the FLAC, MP3
    # and OGG walks read through the bounded reader: none of these
    # decodes an integer from the payload by hand
    assert callers("_dib_header") == {"_bmp_layout", "_ico_entry_dims",
                                      "_avi_video_frames", "_avi_compose"}
    assert callers("_dib_palette") == {"decode_bmp_pixels", "_avi_compose"}
    # ...and one structural header gate, so an AVI frame composes only
    # if its standalone re-wrap decodes
    assert callers("_dib_ok") == {"_bmp_layout", "_ico_entry_dims",
                                  "_avi_compose"}
    audio_walks = {"_flac_layout", "_decode_mp3", "_decode_ogg"}
    assert audio_walks <= callers("_Reader")
    dib_callers = {"_bmp_layout", "decode_bmp_pixels", "_ico_entry_dims",
                   "decode_ico_pixels", "_avi_video_frames", "_avi_compose"}
    by_hand = {h.split(".")[0] for h in callers("from_bytes")}
    assert not by_hand & (audio_walks | dib_callers)
    # every operator goes through the one mapInPandas wrapper
    assert {
        h for h in _holders(_calls("mapInPandas"))
        if h.startswith(media + ":")
    } == {f"{media}:_map_payloads"}


def test_fixpoint_loop_defined_once():
    from arachne_spark.operators.closure import transitive_closure

    loop = "arachne_spark/operators/fixpoint.py:fixpoint"
    defs = [
        src for src in SOURCES for n in ast.walk(ast.parse(src.read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "fixpoint"
    ]
    assert defs == [ROOT / "arachne_spark/operators/fixpoint.py"]
    # the session factory configures the setting; only the loop reads
    # it, to cap its rounds' input partitions (it writes no conf)
    assert _holders(
        lambda n: isinstance(n, ast.Constant)
        and n.value == "spark.sql.shuffle.partitions"
    ) == {loop, "arachne_spark/session.py:get_spark"}
    assert not {
        h for h in _holders(_calls("localCheckpoint"))
        if "/cc.py:" in h or "/closure.py:" in h
    }
    assert "method" not in inspect.signature(transitive_closure).parameters
    # one driver finish: the union-find is defined once, only the loop
    # collects a state (the measures collect one aggregate row), and
    # cc.py returns the driver's rows through local_df, never through a
    # Python RDD
    cc = "arachne_spark/operators/cc.py"
    assert _holders(
        lambda n: isinstance(n, ast.FunctionDef)
        and n.name in ("_min_key_roots", "find")
    ) == {f"{cc}:<module>", f"{cc}:_min_key_roots"}
    assert {
        h for h in _holders(_calls("collect"))
        if h.startswith(("arachne_spark/operators/fixpoint.py:", f"{cc}:",
                         "arachne_spark/operators/closure.py:"))
    } == {loop, f"{cc}:_star_edges.sig",
          "arachne_spark/operators/closure.py:_count_new"}
    assert not {
        h for h in _holders(_calls("createDataFrame"))
        if h.startswith(f"{cc}:")
    }
    assert {
        h for h in _holders(_calls("local_df")) if h.startswith(f"{cc}:")
    } == {f"{cc}:_star_edges.finish"}
    # connected components takes native id types: no string encoders
    for name in ("dedup.py", "ann.py"):
        src = (ROOT / "arachne_spark/operators" / name).read_text()
        assert "lpad" not in src and "_OFF" not in src


def test_stream_commit_swap_and_curation_defined_once():
    from arachne_spark.streaming.incremental import (
        TwoTierState,
        run_incremental_dedup,
        run_incremental_pipeline,
    )

    inc = "arachne_spark/streaming/incremental.py"
    storage = "arachne_spark/plans/storage.py"
    curate = "arachne_spark/pipeline.py:curate_pages"
    # one micro-batch driver builds the stream for both drivers
    assert _holders(
        lambda n: isinstance(n, ast.Attribute) and n.attr == "writeStream"
    ) == {f"{inc}:_run_micro_batches"}
    # one directory-swap protocol: every checked rename and the swap's
    # directory names are in storage
    assert _holders(_calls("checked_rename")) == {
        f"{storage}:swap_in", f"{storage}:restore"}
    assert _holders(
        lambda n: isinstance(n, ast.Constant) and isinstance(n.value, str)
        and (".__tmp" in n.value or ".__old" in n.value)
    ) == {f"{storage}:swap_in", f"{storage}:restore"}
    # one curation pass for batch and stream
    for name in ("c4_clean", "gopher_quality_filter",
                 "quality_classifier_filter"):
        assert _holders(_calls(name)) == {curate}, name
    assert _holders(_calls("scrub_expr")) == {
        curate, "arachne_spark/operators/scrub.py:scrub_pii"}
    # one write per pipeline micro-batch: its step persists nothing,
    # and only the commit and an owned delta directory's write emit
    # batch partitions
    assert not {
        h for name in ("cache", "persist", "checkpoint", "localCheckpoint")
        for h in _holders(_calls(name))
        if h.startswith(f"{inc}:run_incremental_pipeline")
    }
    assert _holders(_calls("write_batch_partition")) == {
        f"{inc}:_run_micro_batches.commit", f"{inc}:write_delta"}
    # the watermark file name is held by TwoTierState alone
    wm = TwoTierState._WATERMARK
    owners = set()

    def walk(node, rel, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Constant) and wm in str(child.value):
                owners.add(f"{rel}:{cls}")
            walk(child, rel,
                 child.name if isinstance(child, ast.ClassDef) else cls)

    for src in SOURCES:
        walk(ast.parse(src.read_text()), src.relative_to(ROOT).as_posix(),
             None)
    assert owners == {f"{inc}:TwoTierState"}
    # the stream's fixed shape is module constants, not options
    removed = {"compact_every", "n_state_files", "n_files", "threshold",
               "max_shingle_df", "max_band_bucket"}
    for fn in (run_incremental_dedup, run_incremental_pipeline,
               TwoTierState.__init__):
        assert not removed & set(inspect.signature(fn).parameters), fn
    # no wall-clock-derived names in the warehouse
    assert not {
        h for h in _holders(
            lambda n: isinstance(n, ast.Attribute) and n.attr == "time"
            and getattr(n.value, "id", None) == "time")
        if h.startswith(storage + ":")
    }


def test_minhash_defined_once():
    lsh = "arachne_spark/operators/lsh_link.py"

    def seeded_md5(node) -> bool:
        # md5 over a '<p>:'-prefixed shingle, as a Column call or
        # inside a SQL expression string
        if isinstance(node, ast.Call) and _calls("md5")(node):
            return any(
                isinstance(n, ast.JoinedStr)
                and ast.unparse(n).endswith(":'")
                for n in ast.walk(node)
            )
        return isinstance(node, (ast.Constant, ast.JoinedStr)) and (
            "md5(concat('" in ast.unparse(node)
        )

    assert _holders(seeded_md5) == {f"{lsh}:minhash"}
    for name in ("N_HASHES", "N_BANDS"):
        assigned = [
            src for src in SOURCES
            for n in ast.walk(ast.parse(src.read_text()))
            if isinstance(n, ast.Assign)
            and any(getattr(t, "id", None) == name for t in n.targets)
        ]
        assert assigned == [ROOT / lsh], name
    assert _holders(_calls("jaccard_expr")) == {f"{lsh}:lsh_join"}
    defs = {
        n.name for src in SOURCES for n in ast.walk(ast.parse(src.read_text()))
        if isinstance(n, ast.FunctionDef)
    }
    for gone in ("_with_signature", "shingle_expr", "minhash_bands",
                 "shingle_sets", "ngram_jaccard_pairs", "cap_shingle_df"):
        assert gone not in defs, gone
    # one pairs -> representative tail: representatives, beside
    # connected_components and canonical_mapping, runs the one star
    # contraction, and the dedups reach it only through representatives
    cc = "arachne_spark/operators/cc.py"
    assert _holders(_calls("_star_edges")) == {
        f"{cc}:connected_components", f"{cc}:representatives",
        f"{cc}:canonical_mapping"}
    assert not {
        h for h in _holders(_calls("connected_components"))
        if "/dedup.py:" in h or h.endswith("/ann.py:semantic_dedup")
    }


def test_one_alias_probe_and_one_canonicalization_plan():
    from arachne_spark.operators.cc import connected_components
    from arachne_spark.pipeline import PipelineConfig
    from arachne_spark.plans.storage import Warehouse

    mentions = "arachne_spark/operators/mentions.py"
    # the stream's touch counter and the batch mention detector probe
    # the dictionary through one helper
    assert _holders(_calls("resolve_alias_dict")) == {
        f"{mentions}:probe_aliases"}
    assert _holders(_calls("probe_aliases")) == {
        f"{mentions}:detect_mentions",
        "arachne_spark/streaming/incremental.py:streaming_mention_counts"}
    # no session-catalog tables: every stage is plain files under the
    # warehouse root, read back by path
    for name in ("bucketBy", "saveAsTable"):
        assert not _holders(_calls(name)), name
    fields = set(PipelineConfig.__dataclass_fields__)
    assert not fields & {"bucket_canonical", "n_buckets"}
    for gone in ("write_bucketed", "read_table", "_bucketed_name"):
        assert not hasattr(Warehouse, gone), gone
    assert "key_encode" not in inspect.signature(
        connected_components).parameters


def test_no_unselected_forks():
    """The warehouse has one (parquet) backend, ANN one (JVM
    expression) dot engine, and the mention probe leaves its join to
    the planner: none of them takes an option that selects a second
    code path."""
    from arachne_spark.operators import ann
    from arachne_spark.operators.mentions import (
        detect_mentions,
        probe_aliases,
    )
    from arachne_spark.pipeline import PipelineConfig
    from arachne_spark.plans.storage import Warehouse

    assert not hasattr(Warehouse, "drop")
    assert list(inspect.signature(Warehouse).parameters) == [
        "spark", "root"]
    for name, fn in inspect.getmembers(ann, inspect.isfunction):
        assert "vec_dim" not in inspect.signature(fn).parameters, name
    assert "pandas_udf" not in inspect.getsource(ann)
    for fn in (probe_aliases, detect_mentions):
        assert "broadcast_dict" not in inspect.signature(fn).parameters
    assert len(PipelineConfig.__dataclass_fields__) == 13


def test_stage_graph_takes_only_varied_options():
    """The stage graph's operators take no parameter for a value that
    every caller sets alike, and the warehouse writes one layout."""
    from arachne_spark.operators import dedup, lsh_link, quality, skew
    from arachne_spark.pipeline import PipelineConfig, curate_pages
    from arachne_spark.plans.lineage import StageRecorder
    from arachne_spark.plans.storage import Warehouse
    from arachne_spark.streaming.incremental import run_incremental_pipeline

    # removed parameters; no function passes keyword arguments through
    removed = {
        Warehouse.write: {"partition_by"},
        Warehouse.resume_or_compute: set(),
        StageRecorder.run_stage: set(),
        curate_pages: {"dup_span_tokens", "gopher_min_words"},
        run_incremental_pipeline: {"gopher_min_words"},
        dedup.minhash_doc_dedup: {"max_shingle_df", "max_band_bucket"},
        dedup.near_dup_clusters: {"max_band_bucket"},
        lsh_link.lsh_join: {"max_band_df"},
        lsh_link.lsh_candidates: {"max_band_df"},
        lsh_link.fuzzy_link_best: {"threshold"},
        skew.promote_candidates: {"threshold"},
        skew.salted_count: {"n_salt"},
        quality.repetition_filter: {
            "max_dup_line_frac", "max_top2_char_frac",
            "max_dup5_char_frac"},
        quality.c4_clean: {"min_line_words", "min_sentences"},
        quality.gopher_quality_filter: {
            "min_words", "max_words", "min_mean_word_len",
            "max_mean_word_len", "max_symbol_ratio", "max_bullet_frac",
            "max_ellipsis_frac", "min_alpha_frac", "min_stop_hits"},
    }
    for fn, gone in removed.items():
        params = inspect.signature(fn).parameters
        assert not gone & set(params), fn.__qualname__
        assert not any(
            p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()
        ), fn.__qualname__
    assert not hasattr(Warehouse, "_has_data_files")
    assert not set(PipelineConfig.__dataclass_fields__) & {
        "dup_span_tokens", "gopher_min_words"}
    # the dedup caps are defined once, in the dedup operator
    for name in ("MAX_SHINGLE_DF", "MAX_BAND_BUCKET"):
        assigned = [
            src for src in (*SOURCES, ROOT / "__spark_entry__.py")
            for n in ast.walk(ast.parse(src.read_text()))
            if isinstance(n, ast.Assign)
            and any(getattr(t, "id", None) == name for t in n.targets)
        ]
        assert assigned == [ROOT / "arachne_spark/operators/dedup.py"], name
    # ...and applied by one hot-key cap: page dedup's shingles and
    # buckets, and fuzzy linking's dictionary buckets
    ops = "arachne_spark/operators"
    assert _holders(_calls("cap_hot")) == {
        f"{ops}/dedup.py:minhash_doc_dedup",
        f"{ops}/dedup.py:near_dup_clusters",
        f"{ops}/lsh_link.py:lsh_candidates"}


def test_one_stage_executor_and_no_session_conf_writes():
    """The batch stage graph runs its stages on one thread pool, made
    in pipeline.py; stages that run side by side, and a stream beside
    them, share the session, so no engine source writes the session's
    conf: a write that needs a mode sets it as its own option."""
    pipeline = "arachne_spark/pipeline.py"
    assert _holders(_calls("ThreadPoolExecutor")) == {
        f"{pipeline}:run_graph"}
    for name in ("Thread", "InheritableThread", "ProcessPoolExecutor"):
        assert not _holders(_calls(name)), name

    def conf_set(node) -> bool:
        # <anything>.conf.set(...)
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "set"
            and getattr(node.func.value, "attr", None) == "conf"
        )

    assert not _holders(conf_set)


def test_one_token_ngram_builder_and_one_text_rebuild():
    """The text-curation operators build token n-grams through one
    builder and reassemble rewritten text through one ordered
    rebuild, and none of them runs a ``transform`` lambda (Spark
    interprets higher-order functions instead of code-generating)."""
    from arachne_spark.operators import classify, dedup, quality

    dd = "arachne_spark/operators/dedup.py"
    qa = "arachne_spark/operators/quality.py"
    assert not hasattr(quality, "_gram_expr")
    assert _holders(_calls("token_ngrams")) == {
        f"{dd}:doc_shingles", f"{dd}:exact_substring_dedup",
        f"{qa}:repetition_stats",
        "arachne_spark/operators/classify.py:hashed_ngram_features"}
    assert _holders(_calls("rebuild_text")) == {
        f"{dd}:exact_substring_dedup", f"{qa}:strip_boilerplate"}
    for fn in (dedup.token_ngrams, dedup.rebuild_text, dedup.doc_shingles,
               dedup.exact_substring_dedup, quality.repetition_stats,
               quality.strip_boilerplate, classify.hashed_ngram_features):
        node = ast.parse(inspect.getsource(fn)).body[0]
        if ast.get_docstring(node) is not None:
            node.body = node.body[1:]
        assert "transform" not in ast.unparse(node), fn.__name__
