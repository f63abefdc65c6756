"""Benchmark-side instrumentation: spans around calls into the engine's
layers, OS counters of the process tree, and Spark's job counters.

Nothing here reaches inside ``alpaca_pyspark_spark``: spans wrap the
benchmark's own calls into each layer's public functions, CPU and
memory come from ``/proc``, and job/stage/task counts from Spark's
public ``statusTracker``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans ``(name, start, end, parent, op)``; a disabled
    tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, lo: int = 0, hi: int | None = None) -> dict[str, float]:
        """Per layer (the span name before ``:``), over spans ``lo:hi``:
        total duration minus the time direct children cover (children
        never overlap: one client thread)."""
        spans = self.spans[lo:hi]
        child: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(spans, lo):
            layer = s["name"].split(":")[0]
            out[layer] = out.get(layer, 0.0) + s["end"] - s["start"] - child.get(i, 0.0)
        return out

    def durations(self, name: str, lo: int = 0, hi: int | None = None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans[lo:hi] if s["name"] == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        path.write_text(
            json.dumps(
                [
                    dict(s, start=s["start"] - t0, end=s["end"] - t0, id=i)
                    for i, s in enumerate(self.spans)
                ]
            )
        )


def _read_stat(pid: int) -> tuple[int, str, int, int] | None:
    """(ppid, comm, own ticks, reaped-children ticks) of one process."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    return int(f[1]), comm, int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def _hwm_kib(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcessTree:
    """Samples the driver, the JVM and the JVM's Python workers.

    A background thread rescans ``/proc`` every ``interval`` seconds and
    keeps, per pid, the last CPU ticks and the largest ``VmHWM`` seen,
    so workers that exit between samples keep what they used up to the
    last sample.  Python worker CPU includes reaped children
    (``cutime``/``cstime``), since the worker daemon forks and reaps
    the task workers; JVM CPU is its own ticks only, because the JVM
    also reaps the short-lived Python planner processes it spawns."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.jvm: int | None = None
        self._seen: dict[int, dict] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def attach(self, jvm_pid: int) -> None:
        self.jvm = jvm_pid
        if self._thread is None:
            self._thread = threading.Thread(target=self._run, daemon=True)
            self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def descendants(self) -> list[int]:
        if self.jvm is None:
            return []
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _read_stat(int(d))
                if st is not None:
                    parent[int(d)] = st[0]
        out, frontier = [], {self.jvm}
        while frontier:
            kids = {p for p, pp in parent.items() if pp in frontier}
            out.extend(kids)
            frontier = kids
        return out

    def sample(self) -> None:
        pids = [os.getpid()] + ([self.jvm] if self.jvm else []) + self.descendants()
        with self._lock:
            for pid in pids:
                st = _read_stat(pid)
                if st is None:
                    continue
                rec = self._seen.setdefault(pid, {"hwm": 0, "comm": st[1]})
                rec["own"], rec["reaped"] = st[2], st[3]
                rec["hwm"] = max(rec["hwm"], _hwm_kib(pid))

    def cpu(self) -> tuple[float, float]:
        """(JVM seconds, Python-worker seconds) used so far."""
        self.sample()
        with self._lock:
            jvm = py = 0
            for pid, rec in self._seen.items():
                if pid == self.jvm:
                    jvm += rec["own"]
                elif pid != os.getpid():
                    py += rec["own"] + rec["reaped"]
        return jvm / CLK_TCK, py / CLK_TCK

    def peak_rss_mb(self) -> float:
        """Sum over the tree of each process's peak resident set."""
        self.sample()
        with self._lock:
            return sum(r["hwm"] for r in self._seen.values()) / 1024.0

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


class JobCounter:
    """Spark jobs, stages and tasks started under a job group, read from
    the public ``statusTracker`` after the group's work has finished."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def counts(self, name: str) -> dict[str, int]:
        jobs = self.tracker.getJobIdsForGroup(name)
        stages = tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
