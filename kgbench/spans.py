"""Spans around the layers' public functions, with Spark task metrics.

``instrument`` wraps, for the duration of one traced call,
``StageRecorder.run_stage``, ``Warehouse.resume_or_compute``, the
``fetch_state`` writes of ``Warehouse.write`` and
``TwoTierState.read_committed`` / ``write_delta`` / ``compact``.  Every
span runs under its own Spark job group, so after the call the jobs in
the in-process status store (kept with the UI off) can be attributed to
the span that launched them.  Spans are kept in memory and written out
with the run's side file.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import time
from dataclasses import dataclass, field

from arachne_spark.pipeline import FETCH_STATE
from arachne_spark.plans.lineage import StageRecorder
from arachne_spark.plans.storage import Warehouse
from arachne_spark.streaming.incremental import TwoTierState
from report import STAGE_METRICS, STAGES

GROUP = "spark.jobGroup.id"
DESC = "spark.job.description"
ASIDE = "kgbench.aside"  # benchmark-side jobs, excluded from every span


@dataclass
class Span:
    id: str
    name: str
    kind: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; one job group per span.

    Spans nest on one stack: the traced call runs its stages on one
    thread at a time (the driver thread for batch, the stream's
    foreachBatch thread for the stream)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.own_s = 0.0  # spent opening and closing spans
        self._stack: list[Span] = []
        self._ids = itertools.count()

    def active(self) -> bool:
        return bool(self._stack)

    @contextlib.contextmanager
    def group(self, group_id: str, desc: str):
        """Run the body under ``group_id``; restore the caller's group."""
        prev = (self.sc.getLocalProperty(GROUP),
                self.sc.getLocalProperty(DESC))
        self.sc.setJobGroup(group_id, desc)
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP, prev[0])
            self.sc.setLocalProperty(DESC, prev[1])

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        sp = Span(
            id=f"kgbench.{next(self._ids)}.{name}",
            name=name,
            kind=kind,
            parent=self._stack[-1].id if self._stack else None,
            start=time.perf_counter(),
        )
        self._stack.append(sp)
        opened = closing = sp.start
        try:
            with self.group(sp.id, name):
                opened = time.perf_counter()
                try:
                    yield sp
                finally:
                    closing = time.perf_counter()
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            self.own_s += (opened - sp.start) + (sp.end - closing)


def _delta_exists(state: TwoTierState) -> bool:
    return os.path.isdir(state.delta_dir)


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Patch the layer entry points to record spans; undo on exit."""
    orig = {
        (StageRecorder, "run_stage"): StageRecorder.run_stage,
        (Warehouse, "resume_or_compute"): Warehouse.resume_or_compute,
        (Warehouse, "write"): Warehouse.write,
        (TwoTierState, "read_committed"): TwoTierState.read_committed,
        (TwoTierState, "write_delta"): TwoTierState.write_delta,
        (TwoTierState, "compact"): TwoTierState.compact,
    }

    def run_stage(self, name, compute, force=False, **kw):
        with tracer.span(name, "stage") as sp:
            df = orig[StageRecorder, "run_stage"](
                self, name, compute, force, **kw
            )
            sp.attrs["rows"] = self.records[-1]["rows"]
        return df

    def resume_or_compute(self, table, compute, force=False, **kw):
        with tracer.span(table + ".compute", "compute"):
            return orig[Warehouse, "resume_or_compute"](
                self, table, compute, force, **kw
            )

    def count_aside(span: Span, key: str, df) -> None:
        """Row count under the aside group, after ``span`` has closed,
        so no span pays for it; its time is kept to subtract later."""
        t0 = time.perf_counter()
        with tracer.group(ASIDE, key):
            span.attrs[key] = 0 if df is None else df.count()
        span.attrs["aside_s"] = time.perf_counter() - t0

    def write(self, df, table, *args, **kw):
        if tracer.active() or not table.startswith(FETCH_STATE):
            return orig[Warehouse, "write"](self, df, table, *args, **kw)
        with tracer.span(FETCH_STATE, "stage") as span:
            orig[Warehouse, "write"](self, df, table, *args, **kw)
        if table == FETCH_STATE:
            count_aside(span, "rows", self.read(table))

    def read_committed(self, sp, batch_id):
        # read_committed only plans the read of base ∪ delta; the count
        # aside runs it once (see state_metrics)
        with tracer.span("state.read", "state") as span:
            df = orig[TwoTierState, "read_committed"](self, sp, batch_id)
        count_aside(span, "probe_rows", df)
        return df

    def write_delta(self, df, batch_id):
        with tracer.span("state.delta_write", "state"):
            return orig[TwoTierState, "write_delta"](self, df, batch_id)

    def compact(self, sp):
        before = _delta_exists(self)
        with tracer.span("state.compact", "state") as span:
            orig[TwoTierState, "compact"](self, sp)
        span.attrs["compacted"] = before and not _delta_exists(self)

    patched = {
        "run_stage": run_stage,
        "resume_or_compute": resume_or_compute,
        "write": write,
        "read_committed": read_committed,
        "write_delta": write_delta,
        "compact": compact,
    }
    for (cls, name) in orig:
        setattr(cls, name, patched[name])
    try:
        yield tracer
    finally:
        for (cls, name), fn in orig.items():
            setattr(cls, name, fn)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class TaskStats:
    """Jobs, stages and task durations from the status store, read once
    after the listener bus has drained."""

    def __init__(self, sc, first_job: int):
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        self._store = jsc.statusStore()
        self.jobs = []  # (group or None, stage ids, failed tasks)
        for j in _seq(self._store.jobsList(None)):
            if j.jobId() < first_job:
                continue
            g = j.jobGroup()
            self.jobs.append((
                g.get() if g.isDefined() else None,
                [int(s) for s in _seq(j.stageIds())],
                j.numFailedTasks(),
            ))
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.stages: dict[int, list] = {}
        for s in _seq(
            self._store.stageList(None, False, False, no_quantiles, None)
        ):
            self.stages.setdefault(s.stageId(), []).append(s)

    @staticmethod
    def first_job(sc) -> int:
        """Id the next job will get (jobs so far, all retained)."""
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore().jobsList(None).size()

    def n_jobs(self, groups: set | None = None) -> int:
        return sum(1 for g, _, _ in self.jobs if groups is None or g in groups)

    def failed_tasks(self) -> int:
        return sum(f for _, _, f in self.jobs)

    def sums(self, groups: set) -> dict:
        stage_ids = {s for g, ids, _ in self.jobs if g in groups for s in ids}
        run_ms = cpu_ns = shuffle = spill = gc_ms = 0
        durations = []
        for sid in stage_ids:
            for st in self.stages.get(sid, ()):
                run_ms += st.executorRunTime()
                cpu_ns += st.executorCpuTime()
                shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled()
                gc_ms += st.jvmGcTime()
                if st.numTasks() and st.status().toString() != "SKIPPED":
                    for t in _seq(self._store.taskList(
                        sid, st.attemptId(), st.numTasks() + 64
                    )):
                        if t.duration().isDefined():
                            durations.append(t.duration().get())
        med = statistics.median(durations) if durations else 0
        return {
            "run_s": run_ms / 1e3,
            "cpu_s": cpu_ns / 1e9,
            "shuffle_mb": shuffle / (1 << 20),
            "spill_mb": spill / (1 << 20),
            "gc_s": gc_ms / 1e3,
            "skew": max(durations) / med if med else 0.0,
        }


def _subtree(spans: list[Span], root_ids: set) -> set:
    ids, grew = set(root_ids), True
    while grew:
        grew = False
        for s in spans:
            if s.parent in ids and s.id not in ids:
                ids.add(s.id)
                grew = True
    return ids


def stage_metrics(spans: list[Span], stats: TaskStats, slots: int) -> dict:
    """``S.<metric>`` for every stage of STAGES; 0 where S did not run."""
    out = {}
    for name in STAGES:
        own = [s for s in spans if s.kind == "stage" and s.name == name]
        wall = sum(s.wall for s in own)
        t = stats.sums(_subtree(spans, {s.id for s in own}))
        values = {
            "wall_s": wall,
            "cpu_s": t["cpu_s"],
            "util": t["run_s"] / (wall * slots) if wall else 0.0,
            "shuffle_mb": t["shuffle_mb"],
            "spill_mb": t["spill_mb"],
            "gc_s": t["gc_s"],
            "skew": t["skew"],
            "rows": sum(s.attrs.get("rows", 0) for s in own),
        }
        for metric, unit, _better in STAGE_METRICS:
            out[f"{name}.{metric}"] = (values[metric], unit)
    return out


def lineage_metrics(spans: list[Span], stats: TaskStats, wall: float) -> dict:
    """Recorder overhead (run_stage minus its resume_or_compute) and the
    share of the call no span covers."""
    recorded = [s for s in spans if s.kind == "stage" and s.name != FETCH_STATE]
    child = {s.parent: s.wall for s in spans if s.kind == "compute"}
    top = sum(s.wall for s in spans if s.parent is None)
    return {
        "lineage.self_s": (
            sum(s.wall - child.get(s.id, 0.0) for s in recorded), "s"
        ),
        "lineage.jobs": (stats.n_jobs({s.id for s in recorded}), "count"),
        "unspanned_s": (wall - top, "s"),
    }


def state_metrics(spans: list[Span]) -> dict:
    """``state.read_s`` is planning the read of the committed state plus
    the aside count that materialises it (base ∪ delta, deduplicated).
    The batch's own probe runs that read again, lazily, inside the
    anti-join of its output write, so the probe cost the stream pays is
    also inside ``stream.extract_write_s``; the aside count is not."""
    def total(name):
        return sum(s.wall for s in spans if s.name == name)

    read = [s for s in spans if s.name == "state.read"]
    return {
        "state.read_s": (
            sum(s.wall + s.attrs.get("aside_s", 0.0) for s in read), "s"
        ),
        "state.delta_write_s": (total("state.delta_write"), "s"),
        "state.compact_s": (total("state.compact"), "s"),
        "state.compactions": (
            sum(1 for s in spans if s.attrs.get("compacted")), "count"
        ),
        "state.probe_rows": (
            sum(s.attrs.get("probe_rows", 0) for s in spans), "count"
        ),
    }


def aside_seconds(spans: list[Span]) -> float:
    return sum(s.attrs.get("aside_s", 0.0) for s in spans)


def span_records(spans: list[Span], t0: float) -> list[dict]:
    """Spans in start order; self time is wall minus the children's."""
    children: dict[str, float] = {}
    for s in spans:
        if s.parent is not None:
            children[s.parent] = children.get(s.parent, 0.0) + s.wall
    return [
        {
            "id": s.id, "name": s.name, "parent": s.parent,
            "start_s": s.start - t0, "wall_s": s.wall,
            "self_s": s.wall - children.get(s.id, 0.0), **s.attrs,
        }
        for s in sorted(spans, key=lambda s: s.start)
    ]
