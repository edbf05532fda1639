"""Spans around layer calls, job figures from Spark's status store, and a
process-tree RSS sampler.

A span is opened by the benchmark around one call into a layer's public
function and named ``<module>.<function>``. The traced run gives every
span its own Spark job group; streaming queries run their jobs under the
query's run id, which the span adopts as an extra group. After the pass
the status store is read once, and each span gets:

- ``wall_s``: its wall time;
- ``jobs``: Spark jobs in its groups;
- ``gap_s``: wall time minus the union of those jobs' busy intervals
  (driver work: planning, py4j, Python on the driver);
- ``shuffle_mb``: shuffle bytes written by the stages of those jobs.

The untraced run uses ``NullTracer``, whose spans and materialisations do
nothing, so both runs execute one pipeline definition.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional, Tuple

SPAN_FIGURES = ("wall_s", "jobs", "gap_s", "shuffle_mb")


@dataclass
class Span:
    name: str
    groups: List[str]
    start: float = 0.0
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced passes: spans and materialisation are no-ops."""

    enabled = False

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        yield Span(name, [])

    def materialise(self, df):
        return df

    def release(self) -> None:
        pass


class SparkTracer:
    """Traced passes: one job group per span; each layer's output is
    persisted and counted inside its span, so lazy work is charged to the
    layer that defined it."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: List[Span] = []
        self._pinned: list = []
        self._prefix = f"steadybench-{uuid.uuid4().hex[:12]}"
        self._seq = 0

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        self._seq += 1
        group = f"{self._prefix}-{self._seq}"
        sp = Span(name, [group])
        self.sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.sc.setJobGroup(f"{self._prefix}-outside", "outside spans")
            self.spans.append(sp)

    def materialise(self, df):
        df = df.persist()
        df.count()
        self._pinned.append(df)
        return df

    def release(self) -> None:
        while self._pinned:
            self._pinned.pop().unpersist()

    def figures(self) -> Dict[str, Dict[str, float]]:
        """Per-span figures of the spans recorded since the last call,
        summed over spans of the same name."""
        store = self.sc._jsc.sc().statusStore()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out: Dict[str, Dict[str, float]] = {}
        for sp in self.spans:
            intervals: List[Tuple[float, float]] = []
            shuffle = 0
            stages = []
            n_jobs = 0
            for g in sp.groups:
                for jid in tracker.getJobIdsForGroup(g):
                    job = store.job(jid)
                    sub, done = job.submissionTime(), job.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                    n_jobs += 1
                    for sid in _seq(job.stageIds()):
                        st = _stage(store, sid)
                        if st is not None:
                            shuffle += st.shuffleWriteBytes()
                            stages.append(st)
            fig = out.setdefault(sp.name, dict.fromkeys(SPAN_FIGURES, 0.0))
            busy = _union(intervals)
            fig["wall_s"] += sp.wall
            fig["jobs"] += n_jobs
            fig["gap_s"] += max(0.0, sp.wall - busy)
            fig["shuffle_mb"] += shuffle / 1e6
            fig["_skew"] = max(fig.get("_skew", 0.0), _task_skew(store, stages))
        self.spans = []
        return out


def _seq(scala_seq) -> List[int]:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(int(it.next()))
    return out


def _stage(store, stage_id: int):
    """Last attempt of a stage that ran, or None for a skipped stage."""
    try:
        st = store.lastStageAttempt(stage_id)
    except Exception:  # py4j error: the stage was never submitted
        return None
    return st if st.numCompleteTasks() > 0 else None


def _task_skew(store, stages) -> float:
    """max / median task duration in the stage with the most executor
    run time among ``stages`` (0 when it has fewer than two tasks)."""
    if not stages:
        return 0.0
    busiest = max(stages, key=lambda s: s.executorRunTime())
    tasks = store.taskList(busiest.stageId(), busiest.attemptId(), 100000)
    durations = []
    it = tasks.iterator()
    while it.hasNext():
        d = it.next().duration()
        if d.isDefined():
            durations.append(float(d.get()))
    if len(durations) < 2 or statistics.median(durations) <= 0:
        return 0.0
    return max(durations) / statistics.median(durations)


def _union(intervals: List[Tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class RssSampler:
    """Samples, every ``interval`` seconds, the summed RSS of the driver
    Python, the driver JVM and the Python workers: this process and every
    process below it named ``java`` or ``python*``. A thread of the JVM
    that forks a helper shows the JVM's whole RSS under the thread's name
    until the helper execs; the name filter keeps that out. The process
    list is refreshed every ``refresh`` samples, which keeps each sample
    to a few ``statm`` reads."""

    def __init__(self, interval: float = 0.1, refresh: int = 5):
        self.interval, self.refresh = interval, refresh
        self.peak_mb = 0.0
        self.workers_peak_mb = 0.0
        self._pids: List[Tuple[int, bool]] = []  # (pid, is a Python worker)
        self._n = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        me = os.getpid()
        if self._n % self.refresh == 0:
            procs = process_table()
            self._pids = [(me, False)] + [
                (pid, procs[pid][1] != "java")
                for pid in descendants(me, procs)
                if procs[pid][1] == "java" or procs[pid][1].startswith("python")
            ]
        self._n += 1
        total = workers = 0
        for pid, is_worker in self._pids:
            rss = _rss_pages(pid) * self._page
            total += rss
            workers += rss if is_worker else 0
        self.peak_mb = max(self.peak_mb, total / 1e6)
        self.workers_peak_mb = max(self.workers_peak_mb, workers / 1e6)


def process_table() -> Dict[int, Tuple[int, str]]:
    """pid -> (parent pid, command name) for every live process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(entry)] = (int(fields[1]), name)
    return out


def descendants(root: int, procs: Optional[Dict[int, Tuple[int, str]]] = None) -> List[int]:
    procs = process_table() if procs is None else procs
    children: Dict[int, List[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_pages(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1])
    except (OSError, IndexError, ValueError):
        return 0
