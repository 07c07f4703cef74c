"""Benchmark of the shipped KG stage graph on a 4-slot local Spark.

    python3 kgbench/run.py --workload batch_longtail --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  One process, ``local[4]``:

1. set-up, timed from process start (``setup_s``): interpreter,
   JVM, SparkSession and the alias, label and predicate dictionaries;
2. stage the seed's parquet drops (``inputs.py``);
3. timed calls of the public entry point (``run_pipeline`` or
   ``run_incremental_pipeline`` with ``availableNow``), each on fresh
   output directories, until ``--seconds`` have passed (at least one).
   The first call of the process pays the JIT warm-up of the stage
   graph, as a freshly submitted batch job does; a CPU micro-probe is
   timed before every call;
4. correctness checks against ``reference.py``, outside every timed
   call;
5. with ``--trace 1``, in place of 3 and 4: a first, cold call that
   warms the stage graph up, then a call with spans around the layers
   (``spans.py``), from which the per-layer metrics come.  On batch
   workloads the first call is traced too and runs the curation
   pre-stages (``CURATION``), for the quality layer's
   ``pages_curated.*``: the default config skips it.  Traced calls are
   checked like timed calls.

Prints a metric table on stderr, writes the full record to
``kgbench/_out/<workload>-seed<seed>-trace<t>.json`` and prints the
result as the last stdout line (``report.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SLOTS = 4
DRIVER_MEM = "1g"
STREAM_TIMEOUT_S = 120
FILES_PER_TRIGGER = 4  # stream_pages' maxFilesPerTrigger
PR_GATE = 0.95


# Every workload reads the same seeded drops.  Set-up and the first,
# cold call of the stage graph cost about 45 s a run whatever the size,
# so the corpus is small: the fixed per-stage cost is most of each call.
# At 4,800 pages the cold batch call took 40 s against 37.5 s here and
# fuzzy linking's share of it grew from 13% to 15%, so a faster linker
# shows in the per-layer figures, not past the end-to-end bounds.
N_PAGES = 1200
FIRST_DROPS = 12  # 3 micro-batches of four drops
RECRAWL_DROPS = 4  # 1 micro-batch


WORKLOADS = {
    # run_pipeline, default config: fuzzy link, page dedup and cc work
    "batch_longtail": "batch",
    # run_incremental_pipeline: cross-batch anti-join and two-tier state
    # work; fuzzy link, page dedup and cc do none
    "stream_recrawl": "stream",
}

# PipelineConfig fields of the traced curated call: the quality layer
# (pages_curated) runs only with one of them on
CURATION = dict(
    canonical_url_dedup=True,
    scrub_pii=True,
    c4_rules=True,
    strip_dup_spans=True,
    quality_filter=True,
)


def since_process_start() -> float:
    """Seconds since this process was created, from /proc."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(work: Path) -> None:
    """Environment the JVM and its Python workers inherit: the repo on
    PYTHONPATH (workers import arachne_spark inside UDFs) and every
    temporary file inside the work directory."""
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=str(ROOT) + (os.pathsep + path if path else ""),
        SPARK_GRAFT_CPUS=str(SLOTS),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "local"),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=str(work / "tmp"),
    )
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))


def start_session(work: Path):
    from arachne_spark.session import get_spark

    spark = get_spark(
        "kgbench",
        master=f"local[{SLOTS}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            # a fixed-size heap: how far the heap grows must not vary
            # from run to run (spark.driver.memory sets only -Xmx)
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def load_dictionaries(spark) -> None:
    from arachne_spark.sources.dictionary import (
        alias_df,
        labels_df,
        predicate_df,
    )

    for make in (alias_df, labels_df, predicate_df):
        make(spark).count()


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers) to exit; it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    # no gateway.close(): it blocks on the callback server a stream
    # leaves open; the JVM's exit ends those connections instead
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


@dataclass
class Call:
    wall_s: float
    triples: int
    batches_s: list  # non-empty micro-batch triggerExecution, seconds
    peak_rss_mb: float
    peak_jvm_rss_mb: float
    max_procs: int  # JVM plus Python workers
    probe_ms: float
    steal_pct: float
    out: str  # warehouse (batch) or output dir (stream)
    curated: bool  # batch: run with CURATION
    progress: list = field(default_factory=list)  # stream: per batch
    stages: list = field(default_factory=list)  # batch: kg_metrics rows


class Bench:
    def __init__(self, kind: str, seed: int, work: Path):
        self.kind, self.seed, self.work = kind, seed, work
        self.spark = None
        self.staged = None
        self.n_calls = 0
        self.attempted = self.failed = 0
        self.checks: dict[str, bool] = {}
        self.errors: list[str] = []

    # -- set-up ---------------------------------------------------------
    def setup(self) -> float:
        self.spark = start_session(self.work)
        load_dictionaries(self.spark)
        return since_process_start()

    def stage(self) -> None:
        from inputs import stage_drops

        self.staged = stage_drops(
            self.spark,
            str(self.work / "drops"),
            self.seed,
            N_PAGES,
            FIRST_DROPS,
            RECRAWL_DROPS,
        )

    # -- timed calls ----------------------------------------------------
    def call(self, curated: bool = False) -> Call:
        from host import PeakRss, cpu_probe_ms, cpu_ticks, steal_pct
        from pyspark import SparkContext

        probe = cpu_probe_ms()
        ticks = cpu_ticks()
        out = str(self.work / f"call{self.n_calls}")
        self.n_calls += 1
        jvm_pid = SparkContext._gateway.proc.pid
        with PeakRss(jvm_pid) as rss:
            if self.kind == "batch":
                wall, triples, stages = self._batch(out, curated)
                batches, progress = [wall], []
            else:
                wall, triples, batches, progress = self._stream(out)
                stages = []
        return Call(wall, triples, batches, rss.peak_mb, rss.peak_root_mb,
                    rss.max_procs, probe, steal_pct(ticks, cpu_ticks()), out,
                    curated, progress, stages)

    def _batch(self, wh: str, curated: bool):
        from arachne_spark.pipeline import PipelineConfig, run_pipeline
        from arachne_spark.streaming.incremental import PAGE_SCHEMA

        cfg = PipelineConfig(
            warehouse=wh, run_id="kgbench", **(CURATION if curated else {})
        )
        pages = self.spark.read.schema(PAGE_SCHEMA).parquet(
            self.staged.drops_dir
        )
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, cfg, pages=pages)
        wall = time.perf_counter() - t0
        return wall, res["triples"], res["stages"]

    def _stream(self, out: str):
        from arachne_spark.sources.dictionary import alias_df, predicate_df
        from arachne_spark.streaming.incremental import (
            run_incremental_pipeline,
        )

        aliases, preds = alias_df(self.spark), predicate_df(self.spark)
        t0 = time.perf_counter()
        q = run_incremental_pipeline(
            self.spark, self.staged.drops_dir, out, out + "_ckpt",
            aliases, preds,
        )
        try:
            done = q.awaitTermination(STREAM_TIMEOUT_S)
        finally:
            wall = time.perf_counter() - t0
            progress = q.recentProgress
            self.attempted += sum(p["numInputRows"] > 0 for p in progress)
        if not done:
            q.stop()
            raise TimeoutError(f"stream still running after {wall:.0f} s")
        batches = [
            p["durationMs"]["triggerExecution"] / 1e3
            for p in progress
            if p["numInputRows"] > 0
        ]
        triples = self.spark.read.parquet(out).count()
        return wall, triples, batches, progress

    def measure(self, seconds: float) -> list[Call]:
        calls, t0 = [], time.perf_counter()
        while not calls or time.perf_counter() - t0 < seconds:
            self.attempted += 1
            try:
                calls.append(self.call())
            except Exception:  # a failed call is counted, not fatal
                self.failed += 1
                self.errors.append(traceback.format_exc())
                if self.kind == "stream":
                    self.failed += 1  # the micro-batch that raised
                    self.attempted += 1
                break
        return calls

    # -- correctness ----------------------------------------------------
    def check(self, name: str, ok: bool, detail=None) -> None:
        self.attempted += 1
        self.failed += not ok
        self.checks[name] = bool(ok)
        if not ok and detail is not None:
            self.errors.append(f"{name}: {detail}")

    def verify(self, call: Call, prefix: str = "") -> tuple[float, float]:
        """Checks on ``call``'s committed output, named ``prefix`` +
        check; returns (P, R).  A curated call's triples are checked
        against the oracle's linking over the engine's curated text."""
        import reference as ref

        oracle = ref.load_oracle(ROOT)
        read = self.spark.read.parquet
        ids = self.staged.url_ids()
        if self.kind == "batch":
            texts = {
                r["url"]: r["text"]
                for r in read(call.out + "/pages_clean").collect()
            }
            want_texts = ref.latest_texts(oracle, ids)
            self.check(
                prefix + "extraction_byte_identical",
                texts == want_texts,
                sorted(u for u in texts.keys() | want_texts.keys()
                       if texts.get(u) != want_texts.get(u))[:5],
            )
            if call.curated:
                want_texts = {
                    r["url"]: r["text"]
                    for r in read(call.out + "/pages_curated").collect()
                }
            want = ref.batch_triples(oracle, want_texts)
            got_rows = read(call.out + "/triples").select(
                "subj", "pred", "obj"
            ).collect()
        else:
            want = ref.stream_triples(
                oracle, ref.snapshot_texts(oracle, ids)
            )
            got_rows = read(call.out).select("subj", "pred", "obj").collect()
            self.check(
                prefix + "output_is_set", len(got_rows) == len(set(got_rows))
            )
            self.check(
                prefix + "equals_reference",
                {tuple(r) for r in got_rows} == want,
            )
        got = {tuple(r) for r in got_rows}
        p, r = oracle.precision_recall(got, want)
        self.check(
            prefix + "triple_pr_ge_0.95", p >= PR_GATE and r >= PR_GATE
        )
        self.check(
            prefix + "triples_count_matches_call",
            len(got_rows) == call.triples,
        )
        return p, r

    # -- tracing --------------------------------------------------------
    def traced_call(self, curated: bool = False):
        """One call with spans around the layers → (call, tracer, task
        stats of the call's jobs, span records for the side file)."""
        from spans import TaskStats, Tracer, instrument, span_records

        sc = self.spark.sparkContext
        first_job = TaskStats.first_job(sc)
        tracer = Tracer(sc)
        t0 = time.perf_counter()
        self.attempted += 1
        with instrument(tracer):
            call = self.call(curated)
        stats = TaskStats(sc, first_job)
        return call, tracer, stats, span_records(tracer.spans, t0)

    def layer_metrics(self) -> tuple[dict, list, dict]:
        """Per-layer metrics (``--trace 1``) → (metrics, calls, side-file
        record).

        The first call of the process runs cold and warms the stage
        graph up for the traced call most metrics come from.  For batch
        it is a traced call with CURATION, the only one that runs the
        quality layer (``pages_curated.*``); for the stream an untraced
        call.  The curated and the traced call are checked like a timed
        call.

        ``tracing.overhead_s`` is the time the tracer itself spends
        inside the traced calls: job-group bookkeeping and the aside row
        counts, which every other figure excludes.  (Traced wall minus
        an untraced warm call's wall measured host noise of several
        seconds either way, not the tracer.)"""
        from spans import (
            ASIDE,
            aside_seconds,
            lineage_metrics,
            stage_metrics,
            state_metrics,
        )

        side, curated, overhead = {}, {}, 0.0
        if self.kind == "batch":
            first, tracer, stats, side["curated_spans"] = self.traced_call(
                curated=True
            )
            self.verify(first, "curated.")
            curated = {
                k: v
                for k, v in stage_metrics(tracer.spans, stats, SLOTS).items()
                if k.startswith("pages_curated.")
            }
            overhead += tracer.own_s + aside_seconds(tracer.spans)
        else:
            self.attempted += 1
            first = self.call()

        call, tracer, stats, side["spans"] = self.traced_call()
        self.verify(call)
        spans = tracer.spans
        aside = aside_seconds(spans)
        wall = call.wall_s - aside
        m = {}
        m.update(stage_metrics(spans, stats, SLOTS))
        m.update(curated)
        m.update(lineage_metrics(spans, stats, wall))
        m.update(state_metrics(spans))
        m.update(self._fuzzy_metrics(call))
        m.update(self._stream_metrics(call, spans, aside))
        m["spark.tasks_failed"] = (stats.failed_tasks(), "count")
        m["spark.jobs"] = (stats.n_jobs() - stats.n_jobs({ASIDE}), "count")
        m["tracing.overhead_s"] = (overhead + tracer.own_s + aside, "s")
        m["host.probe_ms"] = (call.probe_ms, "ms")
        m["host.steal_pct"] = (call.steal_pct, "%")
        return m, [first, call], side

    def _fuzzy_metrics(self, call: Call) -> dict:
        """Distinct surfaces the fuzzy linker scored, and the share it
        linked, recomputed from the call's committed stages."""
        if self.kind != "batch":
            return {
                "fuzzy_mentions.vocab": (0, "count"),
                "fuzzy_mentions.link_ratio": (0.0, "ratio"),
            }
        from arachne_spark.operators.mentions import unmatched_tokens

        read = self.spark.read.parquet
        vocab = unmatched_tokens(read(call.out + "/pages_clean"), read(call.out + "/mentions")).select(
            "surface"
        ).distinct().count()
        linked = read(call.out + "/fuzzy_mentions").select(
            "surface"
        ).distinct().count()
        return {
            "fuzzy_mentions.vocab": (vocab, "count"),
            "fuzzy_mentions.link_ratio": (
                linked / vocab if vocab else 0.0, "ratio"
            ),
        }

    def _stream_metrics(self, call: Call, spans: list, aside: float) -> dict:
        """Micro-batch phases from the query's progress; keep ratio =
        triples written ÷ triples each batch derived before the
        cross-batch anti-join (per-batch answers from reference.py)."""
        if self.kind != "stream":
            return {
                "stream.extract_write_s": (0.0, "s"),
                "stream.plan_s": (0.0, "s"),
                "stream.wal_s": (0.0, "s"),
                "stream.keep_ratio": (0.0, "ratio"),
            }
        import reference as ref
        from pyspark.sql import functions as F

        def phase(*keys):
            return sum(
                p["durationMs"].get(k, 0) for p in call.progress for k in keys
            ) / 1e3

        state_s = sum(s.wall for s in spans if s.kind == "state")
        oracle = ref.load_oracle(ROOT)
        rows = (
            self.spark.read.parquet(self.staged.drops_dir)
            .select("url", F.input_file_name().alias("f"))
            .collect()
        )
        per_batch: dict[int, list] = {}
        for r in rows:
            drop = int(r["f"].rsplit("drop-", 1)[1][:3])
            uid = int(r["url"].rsplit("/", 1)[1])
            if ref.english(uid):
                snap = int(drop >= self.staged.first_drops)
                per_batch.setdefault(drop // FILES_PER_TRIGGER, []).append(
                    (r["url"], oracle.page_text(uid, snap))
                )
        derived = sum(
            len(ref.stream_triples(oracle, snaps))
            for snaps in per_batch.values()
        )
        return {
            "stream.extract_write_s": (phase("addBatch") - state_s - aside, "s"),
            "stream.plan_s": (phase("queryPlanning", "getBatch"), "s"),
            "stream.wal_s": (phase("walCommit", "commitOffsets"), "s"),
            "stream.keep_ratio": (
                call.triples / derived if derived else 0.0, "ratio"
            ),
        }


def call_record(c: Call) -> dict:
    return {k: v for k, v in vars(c).items() if k != "progress"}


def run(args, work: Path) -> tuple[bool, int, int, dict, dict]:
    from report import END_TO_END, PER_LAYER

    b = Bench(WORKLOADS[args.workload], args.seed, work)
    phases, t_phase = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    setup = b.setup()
    phase("setup")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "slots": SLOTS,
        "config": {"driver_memory": DRIVER_MEM},
        "setup_s": setup,
    }
    calls = []
    try:
        b.stage()
        record["input"] = vars(b.staged)
        phase("stage")
        if args.trace:
            # end-to-end metrics come from untraced runs only
            layer, calls, side = b.layer_metrics()
            metrics = {n: layer[n] for n, _u, _b in PER_LAYER}
            record.update(side, per_layer=metrics)
            phase("trace")
        else:
            calls = b.measure(args.seconds)
            phase("measure")
            p = r = 0.0
            if calls:
                p, r = b.verify(calls[-1])
            phase("verify")
            e2e = {
                "setup_s": setup,
                "triples_per_s": statistics.median(
                    [c.triples / c.wall_s for c in calls] or [0.0]
                ),
                "microbatch_p50_s": statistics.median(
                    [s for c in calls for s in c.batches_s] or [0.0]
                ),
                "triple_precision": p,
                "triple_recall": r,
                "peak_rss_mb": statistics.median(
                    [c.peak_rss_mb for c in calls] or [0.0]
                ),
            }
            metrics = {n: (e2e[n], u) for n, u, _ in END_TO_END}
            record["end_to_end"] = e2e
        record["calls"] = [call_record(c) for c in calls]
    finally:
        stop_jvm(b.spark)
    phase("stop")
    correct = bool(calls) and all(b.checks.values()) and not b.failed
    record.update(
        phases_s=phases,
        checks=b.checks,
        errors=b.errors,
        attempted=b.attempted,
        failed=b.failed,
        failed_frac=b.failed / b.attempted,
    )
    return correct, b.attempted, b.failed, metrics, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = [ROOT / "arachne_spark" / "pipeline.py", ROOT / "tests" / "oracle.py"]
    missing = [str(p) for p in needed if not p.is_file()]
    if missing:
        print(f"kgbench: program not found: {missing}", file=sys.stderr)
        return 2

    work = BENCH / "_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        correct, attempted, failed, metrics, record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = BENCH / "_out"
    out_dir.mkdir(exist_ok=True)
    side = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    side.write_text(json.dumps(record, indent=1, default=str))
    width = max(len(n) for n in metrics)
    for name, (value, unit) in metrics.items():
        print(f"{name:<{width}}  {value:>14.6g}  {unit}", file=sys.stderr)
    print(
        f"correct={correct} attempted={attempted} failed={failed} "
        f"failed_frac={record['failed_frac']:.4g} side_file={side}",
        file=sys.stderr,
    )
    from report import result_line

    print(result_line(correct, attempted, failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
