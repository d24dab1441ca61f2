"""Measurement plumbing: spans, Spark's own counters and a memory sampler.

Spans are recorded around the benchmark's calls into each layer (name,
start, end, parent, repetition id) and kept in memory until the run ends.
Spark counters come from the status stores, which work with the UI off:

- per job group, ``statusStore().lastStageAttempt(stage)`` gives tasks,
  executor run time, shuffle and spill bytes of every completed stage;
- per SQL execution, ``sharedState().statusStore()`` gives the metrics of
  each plan node, among them the Python worker times and bytes of the
  grouped-map (``FlatMapGroupsInPandas``) nodes.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    rep: int


@dataclass
class Tracer:
    """Spans of the traced repetitions; ``enabled=False`` records nothing."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)
    rep: int = -1

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_time(self, name: str) -> list[float]:
        """Per-repetition self time of ``name``: its duration minus the part
        of it that its child spans cover."""
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            covered = _covered(
                [(c.start, c.end) for c in self.spans if c.parent == name and c.rep == s.rep]
            )
            out.append(s.end - s.start - covered)
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        if self.tracer.enabled:
            self.parent = self.tracer._stack[-1] if self.tracer._stack else None
            self.tracer._stack.append(self.name)
            self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            end = time.perf_counter()
            self.tracer._stack.pop()
            self.tracer.spans.append(Span(self.name, self.start, end, self.parent, self.tracer.rep))
        return False


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, last = 0.0, float("-inf")
    for s, e in sorted(intervals):
        s = max(s, last)
        if e > s:
            total += e - s
            last = e
    return total


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A formatted SQL metric ("1.9 s", "17.2 KiB", or a "total (min, med,
    max)" header followed by the total on the next line) → seconds, bytes
    or a plain count."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsable metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


@dataclass
class OpCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    single_task_stages: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0
    # grouped-map Python node metrics, summed over the op's executions
    python_run_s: float = 0.0
    python_start_s: float = 0.0
    arrow_bytes: float = 0.0
    # task run times of the op's heaviest stage (the kernel stage in a
    # model op), for task skew
    heavy_task_s: list = field(default_factory=list)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


_PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "arrow_bytes",
    "data returned from Python workers": "arrow_bytes",
}


def job_group_counters(spark, group: str) -> OpCounters:
    """Counters of every job that ran under the job group ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    c = OpCounters()
    job_ids = set(tracker.getJobIdsForGroup(group))
    c.jobs = len(job_ids)
    heaviest = (-1.0, None)
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j error: a skipped stage has no attempt
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            c.stages += 1
            c.tasks += sd.numTasks()
            c.single_task_stages += sd.numTasks() == 1
            c.shuffle_bytes += sd.shuffleWriteBytes()
            c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            c.executor_run_s += sd.executorRunTime() / 1000.0
            if sd.executorRunTime() > heaviest[0]:
                heaviest = (sd.executorRunTime(), sd)
    if heaviest[1] is not None:
        sd = heaviest[1]
        c.heavy_task_s = [
            t.taskMetrics().get().executorRunTime() / 1000.0
            for t in _iter(store.taskList(sd.stageId(), sd.attemptId(), sd.numTasks()))
            if t.taskMetrics().isDefined()
        ]
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _iter(sql.executionsList()):
        ex_jobs = {int(j) for j in _iter(ex.jobs().keys())}
        if not ex_jobs or not ex_jobs <= job_ids:
            continue
        values = sql.executionMetrics(ex.executionId())
        for node in _iter(sql.planGraph(ex.executionId()).allNodes()):
            if node.name() != "FlatMapGroupsInPandas":
                continue
            for m in _iter(node.metrics()):
                key = _PYTHON_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    setattr(c, key, getattr(c, key) + parse_metric(v.get()))
    return c


def task_skew(task_s: list[float]) -> float:
    """Slowest task over the median task of the kernel's stages."""
    if not task_s:
        return 0.0
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else 0.0


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _tree_rss_kib(root_pid: int) -> int:
    """RSS of ``root_pid`` and every descendant (the Spark JVM and its
    Python workers), read from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * os.sysconf("SC_PAGE_SIZE") // 1024
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """The benchmark's one helper thread: samples the process tree's RSS
    every ``period`` seconds and keeps the peak."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kib = 0
        self._lock = threading.Lock()  # reset() must not race a sample's update
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            kib = _tree_rss_kib(pid)
            with self._lock:
                self.peak_kib = max(self.peak_kib, kib)
            self._stop.wait(self.period)

    def reset(self):
        with self._lock:
            self.peak_kib = 0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
