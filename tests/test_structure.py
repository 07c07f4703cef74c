"""Structural guards over the engine sources (``arachne_spark/``,
``bench.py``, ``tools/``): each piece of the KG link core is defined
once, and batch, stream and bench call that one definition."""

from __future__ import annotations

import ast
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
