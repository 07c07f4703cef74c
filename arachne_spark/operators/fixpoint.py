"""The iterative round loop shared by connected components (cc.py) and
transitive closure (closure.py).

Each round applies the caller's step to the state and ``localCheckpoint``s
the result lazily — without the checkpoint the plan doubles per round and
the driver dies on iteration 20 long before the cluster breaks a sweat.
The caller's measure is the round's ONE action: it materializes that
checkpoint, decides convergence, and counts the rows the next round's
shuffles are sized for.

Shuffle sizing: at small frontiers a round's cost is task scheduling
(checkpointed RDDs bypass AQE's post-shuffle coalescing), so each round
runs at ``rows // ROWS_PER_SHUFFLE_PARTITION + 1`` partitions, capped at
the session's configured setting (which a web-scale relation keeps).
Measured at the sf0.1 closure fixture (247 k pairs, 5 rounds): 64 fixed
partitions 7.9 s → adaptive 2.9-5.0 s.  Per-round ``persist`` instead of
``localCheckpoint`` was also measured: 2-4x SLOWER (lineage re-growth
re-plans every earlier round into each action), so checkpointing stays.

Small-frontier finish: once a state fits one shuffle partition, every
further round is a few jobs of fixed scheduling cost over a handful of
rows.  A caller that can compute the fixpoint on the driver passes
``finish``; the loop then collects that state and returns
``finish(rows)`` instead of running more rounds.  The start is counted
by one single-task job that reads at most ``FINISH_ROWS`` rows (in
place of the start's measure, which is two jobs), every later state by
its round's measure, so a large input whose frontier shrinks finishes
on the driver too.  Connected components passes a finish (a min-key
union-find); transitive closure does not, since its output can be
quadratic in its input.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, Row

# Target rows per shuffle partition: a closure pair is two longs + a
# flag (~25 B/row), so 100 k rows is a ~2.5 MB partition — small enough
# to stay cache-resident, large enough that task-scheduling overhead
# does not dominate the round.
ROWS_PER_SHUFFLE_PARTITION = 100_000

# A state of fewer rows than this is collected and handed to
# the caller's ``finish``: the frontier fits one shuffle partition, the
# point where ``resize`` already drops to one partition.  Tests lower it
# to force the distributed loop.
FINISH_ROWS = ROWS_PER_SHUFFLE_PARTITION

# Both callers need O(log n) rounds (star contraction; delta doubling
# reaches depth 2^63 by round 64), so reaching the cap means a bug, not
# a big input.
MAX_ROUNDS = 64


def fixpoint(
    start: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    measure: Callable[[DataFrame], tuple[int, Any]],
    converged: Callable[[Any, Any], bool],
    measure_start: bool = False,
    finish: Callable[[list[Row]], DataFrame] | None = None,
) -> DataFrame:
    """Apply ``step`` to ``start`` until ``converged(prev, m)``; return
    the state of the converged round.

    ``measure(df)`` runs one action on ``df`` and returns ``(rows, m)``:
    ``rows`` sizes the next round's shuffles, ``m`` is what ``converged``
    compares with the previous round's (``None`` for round 1 unless
    ``measure_start``).  ``finish(rows)``, if given, returns the state
    the loop would converge to from the collected ``rows`` of the first
    state of fewer than ``FINISH_ROWS`` rows, the start or an
    unconverged round.  Raises ``RuntimeError`` after ``MAX_ROUNDS``.
    """
    sp = start.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    orig = sp.conf.get(conf_key)
    try:
        configured = int(orig)
    except (TypeError, ValueError):  # pragma: no cover — exotic conf
        configured = None

    def resize(rows: int) -> None:
        if configured is not None:
            target = min(configured, rows // ROWS_PER_SHUFFLE_PARTITION + 1)
            sp.conf.set(conf_key, str(max(1, target)))

    state = start.localCheckpoint(eager=False)
    try:
        if finish is not None and (
            state.coalesce(1).limit(FINISH_ROWS).count() < FINISH_ROWS
        ):
            return finish(state.collect())
        prev = None
        if measure_start:
            rows, prev = measure(state)
            resize(rows)
        for _ in range(MAX_ROUNDS):
            state = step(state).localCheckpoint(eager=False)
            rows, m = measure(state)
            if converged(prev, m):
                return state
            if finish is not None and rows < FINISH_ROWS:
                return finish(state.collect())
            prev = m
            resize(rows)
    finally:
        sp.conf.set(conf_key, orig)
    raise RuntimeError(f"no fixpoint after {MAX_ROUNDS} rounds")
