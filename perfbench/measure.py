"""Measurement helpers: process-tree CPU and memory from ``/proc``, host
noise, Spark job statistics from the status store, and in-memory spans.

Everything here observes the program from outside: ``/proc`` for the
Python driver, the JVM it launched and the Python workers the JVM forks,
and the SparkContext's always-on status store (no web UI needed) for the
jobs and stages each tagged call ran.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks incl. reaped children) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat.rsplit(")", 1)[1].split()
        table[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def tree_pids(root: int | None = None, exclude: frozenset[int] = frozenset()) -> list[int]:
    """``root`` (default: this process) and its live descendants, minus
    the subtrees rooted at ``exclude``."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_s(exclude: frozenset[int] = frozenset()) -> float:
    """CPU seconds used so far by this process tree (driver, JVM, workers)."""
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids(exclude=exclude) if p in table) / CLK_TCK


def tree_peak_rss_mb(exclude: frozenset[int] = frozenset()) -> float:
    """Sum of VmHWM (peak resident set) over the live process tree."""
    total_kb = 0
    for pid in tree_pids(exclude=exclude):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def host_steal_s() -> float:
    """Host-wide CPU steal so far (all CPUs), in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def host_load_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


@dataclass
class Sample:
    """One timed operation: wall and process-tree CPU, plus host noise.
    ``start`` and ``end`` are ``time.monotonic()`` readings."""

    wall_s: float
    cpu_s: float
    steal_s: float
    load_1m: float
    start: float
    end: float


@contextmanager
def sampled(out: list[Sample], exclude: frozenset[int] = frozenset()):
    m0, w0, c0, s0 = time.monotonic(), time.perf_counter(), tree_cpu_s(exclude), host_steal_s()
    yield
    out.append(Sample(
        wall_s=time.perf_counter() - w0,
        cpu_s=tree_cpu_s(exclude) - c0,
        steal_s=host_steal_s() - s0,
        load_1m=host_load_1m(),
        start=m0,
        end=time.monotonic(),
    ))


class SpeedProbe:
    """Runs ``probe.py`` beside the workload and reads back how long its
    fixed chunk of work took during a given interval."""

    def __init__(self, path: str):
        self.path = path
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "probe.py"), path],
            stdin=subprocess.PIPE,
        )

    def mean_chunk_s(self, start: float, end: float) -> float:
        """Mean CPU seconds of the chunks begun between ``start`` (less one
        probe period, so a short interval still holds one) and ``end``."""
        from probe import PERIOD_S

        with open(self.path) as f:
            chunks = [float(c) for t, c in (line.split() for line in f)
                      if start - PERIOD_S <= float(t) <= end]
        return sum(chunks) / len(chunks)

    def stop(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


# ---------------------------------------------------------------- spark


STAGE_FIELDS = (
    "executorRunTime", "jvmGcTime", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0

    def __iadd__(self, other: "JobStats") -> "JobStats":
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)
        return self


class SparkStats:
    """Reads what the jobs of one job group did, from the status store the
    SparkContext keeps with or without its UI. Groups are thread-local
    Spark properties, so a call tagged in one thread does not tag others."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._seq = 0
        self._lock = threading.Lock()

    def new_group(self, name: str) -> str:
        with self._lock:
            self._seq += 1
            return f"perfbench-{self._seq}-{name}"

    @contextmanager
    def group(self, group: str):
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, groups: list[str]) -> JobStats:
        """Totals over the jobs of ``groups``; waits for the listener bus so
        every finished job and stage is in the store."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        out = JobStats()
        for g in groups:
            for job_id in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                out.jobs += 1
                for sid in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # the stage was never submitted
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out.stages += 1
                    out.tasks += sd.numCompleteTasks()
                    vals = {f: getattr(sd, f)() for f in STAGE_FIELDS}
                    out.executor_ms += vals["executorRunTime"]
                    out.gc_ms += vals["jvmGcTime"]
                    out.shuffle_bytes += vals["shuffleReadBytes"] + vals["shuffleWriteBytes"]
                    out.spill_bytes += vals["memoryBytesSpilled"] + vals["diskBytesSpilled"]
        return out


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    trace_id: str
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written out once, at the end. A disabled
    tracer records nothing and tags no job group, so an untraced run pays
    for neither."""

    def __init__(self, enabled: bool, stats: SparkStats | None = None):
        self.enabled = enabled
        self.stats = stats
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, tag_jobs: bool = False):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(
                id=len(self.spans),
                trace_id=trace_id or (parent.trace_id if parent else name),
                parent=parent.id if parent else None,
                name=name,
                start=time.perf_counter(),
            )
            self.spans.append(sp)
        stack.append(sp)
        try:
            if tag_jobs and self.stats is not None:
                sp.group = self.stats.new_group(name)
                with self.stats.group(sp.group):
                    yield sp
            else:
                yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - covered) * 1e3
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
