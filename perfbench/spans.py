"""Measurement plumbing: in-memory spans, Spark counters per span, a
peak-RSS sampler for the whole process tree and the JVM's GC log.

Spans are recorded from outside the engine: a span wraps one call into a
public function plus the action that forces it. When a span asks for
Spark counters, the tracer sets a job group for its duration and, after
it ends, sums the task metrics of every stage of every job in that group
from the application status store (which Spark keeps with the UI
disabled).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1e6


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    iteration: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; :meth:`write` dumps them as JSON lines.
    Made only for a traced run."""

    def __init__(self, sc, *, cpus: int):
        self.sc = sc
        self.cpus = cpus
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, *, parent: str | None = None,
             iteration: int | None = None, spark: bool = True):
        rec = Span(name=name, start=time.perf_counter(), parent=parent,
                   iteration=iteration)
        group = f"perfbench-{len(self.spans)}"
        if spark:
            self.sc.setJobGroup(group, name, False)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            if spark:
                self.sc._jsc.clearJobGroup()
                rec.counters = stage_counters(self.sc, group,
                                              rec.wall_s, self.cpus)
            self.spans.append(rec)

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps(header) + "\n")
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


_DONE_JOB = {"SUCCEEDED", "FAILED"}
_DONE_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}


def stage_counters(sc, group: str, wall_s: float, cpus: int,
                   timeout_s: float = 10.0) -> dict:
    """Sum task metrics over all stages of all jobs in ``group``.

    The status store is fed asynchronously by the listener bus, so an
    action can return before its final stage is recorded as complete;
    wait (bounded) until every job and stage of the group is final."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        stages = []
        settled = all(j is not None and str(j.status) in _DONE_JOB
                      for j in jobs)
        for j in jobs if settled else []:
            for sid in j.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:      # py4j: stage not in the store yet
                    settled = False
                    break
                if sd.status().toString() not in _DONE_STAGE:
                    settled = False
                    break
                stages.append(sd)
        if settled or time.monotonic() > deadline:
            break
        time.sleep(0.02)
    run_ms = sum(sd.executorRunTime() for sd in stages)
    return {
        "jobs": len(jobs),
        "tasks": sum(sd.numCompleteTasks() for sd in stages),
        "task_run_s": run_ms / 1e3,
        "cpu_s": sum(sd.executorCpuTime() for sd in stages) / 1e9,
        "idle_core_s": wall_s * cpus - run_ms / 1e3,
        "shuffle_write_mb": sum(sd.shuffleWriteBytes() for sd in stages) / MB,
        "shuffle_read_mb": sum(sd.shuffleReadBytes() for sd in stages) / MB,
        "spill_mb": sum(sd.diskBytesSpilled() for sd in stages) / MB,
        "input_mb": sum(sd.inputBytes() for sd in stages) / MB,
        "settled": settled,
    }


def _tree_rss_bytes(root: int, page: int) -> dict[str, int]:
    """Resident bytes of ``root`` and all its descendants, from /proc,
    per command name."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:            # process ended while scanning
            continue
        rest = stat[stat.rfind(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(rest[1])
        rss[pid] = int(rest[21]) * page
        comm[pid] = stat[stat.find("(") + 1:stat.rfind(")")]
    by_comm: dict[str, int] = {}
    frontier = [root]
    while frontier:
        pid = frontier.pop()
        if pid in rss:
            by_comm[comm[pid]] = by_comm.get(comm[pid], 0) + rss[pid]
        frontier.extend(c for c, p in parent.items() if p == pid)
    return by_comm


class PeakRss:
    """Background sampler of the benchmark's process tree: the driver,
    the Spark JVM it launches and the JVM's Python workers."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            by_comm = _tree_rss_bytes(root, self._page)
            total = sum(by_comm.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_by_comm = total, by_comm
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / MB


_GC_PAUSE = re.compile(r"(\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)")
_GC_UNIT = {"K": 2 ** 10, "M": 2 ** 20, "G": 2 ** 30}


def heap_after_gc_peak_mb(path: str) -> float:
    """Largest heap occupancy right after a collection, read from a
    unified JVM GC log (``-Xlog:gc``): the most the heap held that the
    collector could not free. Unlike the process's resident memory, it
    does not depend on how large the heap is set."""
    peak = 0
    with open(path) as f:
        for line in f:
            m = _GC_PAUSE.search(line)
            if m:
                peak = max(peak, int(m.group(3)) * _GC_UNIT[m.group(4)])
    return peak / MB
