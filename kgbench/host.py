"""Host-side measurements taken from /proc and the interpreter, outside
the program: peak resident memory of the Spark driver JVM and its
Python workers, and two host-noise readings per call, a fixed CPU
micro-probe and the share of CPU time the hypervisor stole."""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
PROBE_BUF = b"\x5a" * (1 << 20)


def cpu_probe_ms() -> float:
    """Median of three timings of a fixed hash + interpreter loop."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(16):
            h.update(PROBE_BUF)
        acc = 0
        for i in range(100_000):
            acc += i * i
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: time the
    hypervisor ran someone else while this machine had work to do."""
    with open("/proc/stat", "rb") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


def _tree(root: int) -> list[tuple[int, bytes]]:
    """(pid, command name) of ``root`` and every live descendant, from
    one pass over /proc."""
    children: dict[int, list[int]] = {}
    comms: dict[int, bytes] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields follow the last ')'
        close = stat.rindex(b")")
        ppid = int(stat[close + 2 :].split()[1])
        comms[int(name)] = stat[stat.index(b"(") + 1 : close]
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append((pid, comms.get(pid, b"")))
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


def _pss_bytes(pid: int) -> int:
    """Proportional resident size: a page shared by n processes counts
    1/n in each, so Python workers forked from one daemon sum to their
    real footprint instead of counting the shared pages n times."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the resident memory of a process tree until stopped: RSS
    of the root (the JVM; its smaps walk would stall it ~10 ms a read)
    plus the PSS of every Python descendant.  Other descendants are the
    JVM's short-lived shell-outs, which map the JVM's pages between fork
    and exec and would count them twice.

    Use as a context manager around the timed call; ``peak_mb`` holds
    the largest sample afterwards."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_root_mb = 0.0  # the root process alone
        self.max_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        (root, _), *rest = _tree(self.root_pid)
        children = [p for p, comm in rest if comm.startswith(b"python")]
        root_mb = _rss_bytes(root) / (1 << 20)
        total = root_mb + sum(_pss_bytes(p) for p in children) / (1 << 20)
        self.peak_mb = max(self.peak_mb, total)
        self.peak_root_mb = max(self.peak_root_mb, root_mb)
        self.max_procs = max(self.max_procs, 1 + len(children))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
