"""The shared round loop: a capped loop raises instead of returning a
partial relation, and a tiny connected-components or closure run
launches no more Spark jobs than pinned here."""

from __future__ import annotations

import pytest

from arachne_spark.operators import fixpoint
from arachne_spark.operators.cc import (
    canonical_mapping,
    connected_components,
)
from arachne_spark.operators.closure import transitive_closure
from tests.test_closure import TREE
from tests.test_pipeline import _jobs_in_group

# status-store job counts under this suite's session (local[4],
# shuffle_partitions=8): the two-edge components finish on the driver,
# the closure as measured before cc.py and closure.py shared the loop
CC_TWO_EDGE_JOBS = 4
CLOSURE_TREE_JOBS = 36


def test_round_cap_raises(spark, monkeypatch):
    """The chain would finish on the driver before its first round, so
    the finish is forced off: the cap binds the distributed rounds."""
    monkeypatch.setattr(fixpoint, "MAX_ROUNDS", 1)
    monkeypatch.setattr(fixpoint, "FINISH_ROWS", 0)
    conf = spark.conf.get("spark.sql.shuffle.partitions")
    chain = [(i, i + 1) for i in range(1, 10)]
    ids = spark.createDataFrame(
        [(f"Q{s}", f"Q{d}") for s, d in chain], "src string, dst string"
    )
    nums = spark.createDataFrame(chain, "src bigint, dst bigint")
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds"):
        connected_components(ids).collect()
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds"):
        transitive_closure(nums).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == conf


def test_tiny_runs_launch_no_more_jobs(spark):
    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [("Q5", "Q1"), ("Q7", "Q5")], "src string, dst string"
    )
    tree = spark.createDataFrame(TREE, "src bigint, dst bigint")
    cc_jobs = _jobs_in_group(
        sc, "fixpoint-cc", lambda: canonical_mapping(edges).collect()
    )
    closure_jobs = _jobs_in_group(
        sc, "fixpoint-closure", lambda: transitive_closure(tree).collect()
    )
    assert cc_jobs <= CC_TWO_EDGE_JOBS
    assert closure_jobs <= CLOSURE_TREE_JOBS


def test_concurrent_loops_leave_session_conf_alone(spark, monkeypatch):
    """Two connected-components loops on two threads at once (page
    dedup's and canonicalization's run side by side in the stage
    graph): each returns its serial result, the session's shuffle
    partitions are unchanged afterwards, and every round sizes its
    input in its own plan."""
    import threading

    from pyspark.sql import functions as F
    from pyspark.util import inheritable_thread_target

    from arachne_spark.operators import cc
    from arachne_spark.operators.cc import representatives

    monkeypatch.setattr(fixpoint, "FINISH_ROWS", 0)
    conf = spark.conf.get("spark.sql.shuffle.partitions")
    inputs = []
    real = cc.fixpoint

    def spy(start, step, *args, **kwargs):
        def sized_step(df):
            inputs.append(df._jdf.queryExecution().executedPlan().toString())
            return step(df)

        return real(start, sized_step, *args, **kwargs)

    monkeypatch.setattr(cc, "fixpoint", spy)
    qids = spark.createDataFrame(
        [(f"Q{i}", f"Q{i + 1}") for i in range(1, 12)]
        + [(f"P{i}", f"P{2 * i}") for i in range(1, 9)],
        "src string, dst string",
    )
    nums = spark.createDataFrame(
        [(i, i + 3) for i in range(30)], "src bigint, dst bigint"
    )
    ids = nums.select(F.col("src").alias("id")).union(
        nums.select("dst")).distinct()
    runs = {
        "cc": lambda: sorted(
            tuple(r) for r in canonical_mapping(qids).collect()),
        "reps": lambda: sorted(
            tuple(r) for r in representatives(ids, nums).collect()),
    }
    serial = {name: run() for name, run in runs.items()}
    assert inputs and all("Coalesce 1" in p for p in inputs)
    got, errors = {}, []

    def target(name):
        try:
            got[name] = runs[name]()
        except Exception as e:  # re-raised on the test thread
            errors.append(e)

    threads = [
        threading.Thread(target=inheritable_thread_target(spark)(target),
                         args=(name,))
        for name in runs
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert got == serial
    assert spark.conf.get("spark.sql.shuffle.partitions") == conf
