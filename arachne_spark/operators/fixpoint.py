"""The iterative round loop shared by connected components (cc.py) and
transitive closure (closure.py).

Each round applies the caller's step to the state and ``localCheckpoint``s
the result lazily — without the checkpoint the plan doubles per round and
the driver dies on iteration 20 long before the cluster breaks a sweat.
The caller's measure is the round's ONE action: it materializes that
checkpoint, decides convergence, and counts the rows the next round's
input is sized for.

Round sizing: at small frontiers a round's cost is task scheduling, so
each round reads its input state in ``rows // ROWS_PER_SHUFFLE_PARTITION
+ 1`` partitions, capped at the session's configured shuffle partitions
(which a web-scale relation keeps): an explicit ``coalesce`` in the
round's own plan, which moves no data.  The shuffles inside a round are
sized by AQE's partition coalescing.  The loop never writes the
session's conf: loops of stages that run side by side (page dedup's
and canonicalization's connected components) would resize each other's
shuffles, and every other concurrent plan's.  That costs larger inputs
some speed: at the sf0.1 closure fixture (247 k pairs, ``local[8]``, 64
partitions) the warm median went 4.33 s with a session-wide resize of
every round's shuffles → 4.84 s.  Per-round ``persist``
instead of ``localCheckpoint`` was measured: 2-4x SLOWER (lineage
re-growth re-plans every earlier round into each action), so
checkpointing stays.

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

# Target rows per partition of a round's input: a closure pair is two
# longs + a flag (~25 B/row), so 100 k rows is a ~2.5 MB partition —
# small enough to stay cache-resident, large enough that
# task-scheduling overhead does not dominate the round.
ROWS_PER_SHUFFLE_PARTITION = 100_000

# A state of fewer rows than this is collected and handed to
# the caller's ``finish``: the frontier fits one shuffle partition, the
# point where a round's input already drops to one partition.  Tests
# lower it to force the distributed loop.
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
    ``rows`` sizes the next round's input, ``m`` is what ``converged``
    compares with the previous round's (``None`` for round 1 unless
    ``measure_start``).  ``finish(rows)``, if given, returns the state
    the loop would converge to from the collected ``rows`` of the first
    state of fewer than ``FINISH_ROWS`` rows, the start or an
    unconverged round.  Raises ``RuntimeError`` after ``MAX_ROUNDS``.
    """
    try:
        configured = int(
            start.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):  # pragma: no cover — exotic conf
        configured = None

    def sized(state: DataFrame, rows: int | None) -> DataFrame:
        if configured is None or rows is None:
            return state
        return state.coalesce(
            max(1, min(configured, rows // ROWS_PER_SHUFFLE_PARTITION + 1))
        )

    state = start.localCheckpoint(eager=False)
    if finish is not None and (
        state.coalesce(1).limit(FINISH_ROWS).count() < FINISH_ROWS
    ):
        return finish(state.collect())
    prev = rows = None
    if measure_start:
        rows, prev = measure(state)
    for _ in range(MAX_ROUNDS):
        state = step(sized(state, rows)).localCheckpoint(eager=False)
        rows, m = measure(state)
        if converged(prev, m):
            return state
        if finish is not None and rows < FINISH_ROWS:
            return finish(state.collect())
        prev = m
    raise RuntimeError(f"no fixpoint after {MAX_ROUNDS} rounds")
