"""Metric names and the result line.

The last stdout line is one compact JSON object.  With tracing off it
holds the end-to-end metrics and stays within ``LINE_BUDGET``
characters, well inside a 2,000-character log tail; the full per-call
and per-layer record goes to the side file instead.  With tracing on it
must name every per-layer metric, which no such budget can hold.
"""

from __future__ import annotations

import json

LINE_BUDGET = 1500

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("triples_per_s", "triples/s", "higher"),
    ("microbatch_p50_s", "s", "lower"),
    ("triple_precision", "ratio", "higher"),
    ("triple_recall", "ratio", "higher"),
    ("peak_rss_mb", "MiB", "lower"),
]

# stage spans, named as in kg_metrics; fetch_state is the pipeline's
# staleness-state update, which has no recorder stage of its own
STAGES = [
    "pages_clean",
    "pages_curated",
    "page_dupes",
    "mentions",
    "fuzzy_mentions",
    "promoted",
    "fetch_queue",
    "entities",
    "fetch_state",
    "triples_raw",
    "canonical_map",
    "triples",
]
STAGE_METRICS = [
    ("wall_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("util", "ratio", "higher"),
    ("shuffle_mb", "MiB", "lower"),
    ("spill_mb", "MiB", "lower"),
    ("gc_s", "s", "lower"),
    ("skew", "ratio", "lower"),
    ("rows", "count", "higher"),
]
LAYER_EXTRA = [
    ("fuzzy_mentions.vocab", "count", "lower"),
    ("fuzzy_mentions.link_ratio", "ratio", "higher"),
    ("lineage.self_s", "s", "lower"),
    ("lineage.jobs", "count", "lower"),
    ("unspanned_s", "s", "lower"),
    ("state.read_s", "s", "lower"),
    ("state.delta_write_s", "s", "lower"),
    ("state.compact_s", "s", "lower"),
    ("state.compactions", "count", "lower"),
    ("state.probe_rows", "count", "lower"),
    ("stream.extract_write_s", "s", "lower"),
    ("stream.plan_s", "s", "lower"),
    ("stream.wal_s", "s", "lower"),
    ("stream.keep_ratio", "ratio", "higher"),
    ("spark.tasks_failed", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("tracing.overhead_s", "s", "lower"),
    ("host.probe_ms", "ms", "lower"),
    ("host.steal_pct", "%", "lower"),
]
PER_LAYER = [
    (f"{s}.{m}", u, b) for s in STAGES for m, u, b in STAGE_METRICS
] + LAYER_EXTRA


def result_line(
    correct: bool, attempted: int, failed: int, metrics: dict
) -> str:
    """``metrics`` maps name → (value, unit)."""
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        },
        separators=(",", ":"),
    )
