"""Measurement plumbing shared by the workloads: spans, Spark job counters,
process-tree RSS sampling and the summary statistics.

Spans are kept in memory and written out once, when the run ends. A span
is recorded by the benchmark around a call into one layer of the
package; nothing inside the package is instrumented.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    iteration: int = -1
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


class SparkCounters:
    """Jobs, stages and tasks run by one call, read from the status
    tracker. The call runs under its own job group. Jobs started from
    threads the package spawns itself (the recovery drill's) carry no
    group, so ungrouped jobs that appear during the call count too."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._seq = 0

    def _ungrouped(self) -> set:
        return set(self.tracker.getJobIdsForGroup(None))

    @contextmanager
    def group(self):
        self._seq += 1
        gid = f"perfbench-{self._seq}"
        before = self._ungrouped()
        self.sc.setJobGroup(gid, gid)
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            ids = set(self.tracker.getJobIdsForGroup(gid)) | (self._ungrouped() - before)
            for jid in ids:
                info = self.tracker.getJobInfo(jid)
                if info is None:
                    continue
                out["jobs"] += 1
                for sid in info.stageIds:
                    st = self.tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numTasks
                    out["failed_tasks"] += st.numFailedTasks


class Tracer:
    """In-memory span recorder. With ``enabled`` false, ``span`` only
    times the call (the untraced path pays one clock read per call)."""

    def __init__(self, enabled: bool, counters: SparkCounters | None = None) -> None:
        self.enabled = enabled
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.iteration = -1
        self.bookkeeping_s = 0.0  # time spent reading counters and recording spans

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            s = Span(name, time.perf_counter())
            yield s
            s.end = time.perf_counter()
            return
        t0 = time.perf_counter()
        s = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, iteration=self.iteration)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        cm = self.counters.group() if self.counters else None
        counts = cm.__enter__() if cm else None
        s.start = time.perf_counter()
        pre = s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if cm:
                cm.__exit__(None, None, None)
                s.jobs, s.stages = counts["jobs"], counts["stages"]
                s.tasks, s.failed_tasks = counts["tasks"], counts["failed_tasks"]
            self._stack.pop()
            self.bookkeeping_s += pre + time.perf_counter() - s.end

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")


class RssSampler:
    """Peak RSS of every process descended from this one (the Spark JVM
    and its Python workers): the kernel's per-process high-water mark
    (VmHWM), polled from /proc so processes that exit early still count,
    and summed over the processes."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.hwm_kb: dict[int, int] = {}
        self._lock = threading.Lock()  # the sampling thread and the final sample both update hwm_kb
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _descendants(self) -> list[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat", "rb") as f:
                        parent[int(d)] = int(f.read().rsplit(b")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        root = os.getpid()
        out = []
        for pid in parent:
            p = parent.get(pid)
            while p and p != root:
                p = parent.get(p)
            if p == root:
                out.append(pid)
        return out

    def sample(self) -> None:
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
            except (OSError, ValueError):
                continue
            with self._lock:
                self.hwm_kb[pid] = max(kb, self.hwm_kb.get(pid, 0))

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


@dataclass
class Outcome:
    """Operations attempted and failed in one run, and every output
    check that did not hold."""

    attempted: int = 0
    failed: int = 0
    check_failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.check_failures.append(what)
        return ok
