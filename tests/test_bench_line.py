"""The bench's last stdout line stays parseable from a short log tail:
headline fields only, within ``LINE_BUDGET`` chars, at worst-case
value widths."""

from __future__ import annotations

import json


def test_result_line_fits_budget_at_worst_case(monkeypatch):
    # bench.py defaults the driver heap at import; keep that out of
    # this process's environment
    monkeypatch.setenv("SPARK_DRIVER_MEM", "unset")
    import bench

    # every value as long as a float prints, counts at their ceiling
    worst = -1.2345678901234567e-308
    kg = {k: worst for k in bench.KG_LINE_FIELDS}
    kg.update(pages=2**63 - 1, triples=2**63 - 1, pairs=[{"x": worst}] * 99)
    result = {
        "metric": "headline queries total + KG triples/sec scaling",
        "value": worst,
        "unit": "sec",
        "sf": worst,
        "queries": dict.fromkeys(bench.HEADLINE, worst),
        "query_runs": {q: [worst] * 99 for q in bench.HEADLINE},
        "curation": {"x": "y" * 5000},
        "kg": kg,
    }
    line = bench.result_line(result)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    assert set(parsed) == {*bench.LINE_FIELDS, "kg"}
    assert parsed["queries"].keys() == set(bench.HEADLINE)
    assert set(parsed["kg"]) == set(bench.KG_LINE_FIELDS)
