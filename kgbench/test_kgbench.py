"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest kgbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import reference as ref  # noqa: E402
import spans  # noqa: E402
from report import END_TO_END, LINE_BUDGET, PER_LAYER, result_line  # noqa: E402


def test_end_to_end_line_fits_budget_at_worst_case():
    # every value as long as a float prints, counts at their ceiling
    worst = {n: (-1.2345678901234567e-308, u) for n, u, _ in END_TO_END}
    line = result_line(False, 2**63 - 1, 2**63 - 1, worst)
    assert len(line) <= LINE_BUDGET
    assert json.loads(line)["metrics"].keys() == worst.keys()


def test_benchmark_json_matches_metric_lists():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in doc["end_to_end"]] \
        == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] \
        == PER_LAYER
    assert doc["paths"] == [BENCH.name]
    assert max(m["bound"] for m in doc["end_to_end"]) == next(
        m["bound"] for m in doc["end_to_end"] if m["name"] == "setup_s"
    )


def test_replay_matches_oracle_on_its_own_window():
    oracle = ref.load_oracle(ROOT)
    n = 300
    texts, want = oracle.expected_output(n)
    assert ref.latest_texts(oracle, range(n)) == texts
    assert ref.batch_triples(oracle, texts) == want


def test_stream_reference_keeps_every_snapshot_and_raw_sameas():
    oracle = ref.load_oracle(ROOT)
    ids = range(100_000, 100_300)
    snaps = ref.snapshot_texts(oracle, ids)
    latest = ref.latest_texts(oracle, ids)
    assert len(snaps) == len(latest) + sum(
        1 for u in ids if u % 10 == 0 and ref.english(u)
    )
    got = ref.stream_triples(oracle, snaps)
    # recrawls add the update sentence's mention ('sewing' → L327555)
    assert any(o == "L327555" for _s, _p, o in got)
    assert any(p == "sameAs" for _s, p, _o in got)


class _FakeContext:
    """The SparkContext calls Tracer makes, without a JVM."""

    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def setJobGroup(self, group_id, desc):
        self.props.update({spans.GROUP: group_id, spans.DESC: desc})


def test_spans_nest_restore_group_and_time_the_state_read():
    sc = _FakeContext()
    tracer = spans.Tracer(sc)
    with tracer.span("outer", "stage") as outer:
        with tracer.span("state.read", "state") as read:
            assert sc.props[spans.GROUP] == read.id
        read.attrs["aside_s"] = 2.0  # the count that materialises it
        assert sc.props[spans.GROUP] == outer.id
    assert sc.props[spans.GROUP] is None
    assert read.parent == outer.id and outer.parent is None
    assert 0 < tracer.own_s <= outer.wall
    (value, unit) = spans.state_metrics(tracer.spans)["state.read_s"]
    assert unit == "s" and value == read.wall + 2.0
