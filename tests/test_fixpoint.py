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
