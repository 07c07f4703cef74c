"""The scaling bench's KG pair runs the shipped stage graph end to end:
``bench.kg_core_run`` at a tiny size, in its own process (it stops the
active Spark session, so it cannot share this suite's)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

SCRIPT = """
import json, tempfile

made = []
mkdtemp = tempfile.mkdtemp


def recorded(*args, **kwargs):
    made.append(mkdtemp(*args, **kwargs))
    return made[-1]


tempfile.mkdtemp = recorded
import bench

wall, triples, stages = bench.kg_core_run(2, 300)
print(json.dumps(
    {"wall": wall, "triples": triples, "stages": stages, "made": made}
))
"""


def test_kg_core_run_times_the_default_stage_graph(tmp_path):
    env = {
        **os.environ,
        "SPARK_DRIVER_MEM": "1g",
        "BENCH_KG_WARMUPS": "0",
        "TMPDIR": str(tmp_path),
    }
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])

    # the ten recorded stages of the default graph, in declared order
    # (the graph's other nodes are unrecorded steps)
    stages = [r["stage"] for r in out["stages"]]
    assert stages == [
        "pages_clean", "page_dupes", "mentions", "fuzzy_mentions",
        "promoted", "fetch_queue", "entities", "triples_raw",
        "canonical_map", "triples",
    ]
    assert not any(r["resumed"] for r in out["stages"])
    assert out["triples"] > 0
    assert out["triples"] == out["stages"][-1]["rows"]
    assert out["wall"] > 0
    # every call's warehouse was a fresh directory under TMPDIR,
    # removed afterwards
    assert out["made"]
    assert not list(tmp_path.iterdir())
