"""Measurement plumbing for the benchmark: spans, Spark job groups,
event-log parsing and a /proc RSS sampler.

Everything here observes the program from outside.  Spans are recorded
around the benchmark's own calls into the package's public functions;
Spark-side figures come from the status tracker and the event log."""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    span_id: int


@dataclass
class Tracer:
    """In-memory span store.  ``enabled=False`` makes :meth:`span` a
    plain timer, so the untraced run keeps no spans."""

    run_id: str
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _next_id: int = 0

    def span(self, name: str):
        return _SpanCtx(self, name)

    def child_self_times(self, span_id: int) -> dict[str, float]:
        """Self time of each direct child of one span, by name: its
        duration less the part of it that its own children cover."""
        out = {}
        for s in self.spans:
            if s.parent != span_id:
                continue
            kids = [(c.start, c.end) for c in self.spans
                    if c.parent == s.span_id]
            out[s.name] = (s.end - s.start
                           - covered_seconds(kids, s.start, s.end))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


_HZ = os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """CPU time the hypervisor has taken from this machine's vCPUs, summed
    over vCPUs (the ``steal`` column of /proc/stat); 0 on bare metal.
    A diagnostic only: no timing is adjusted by it."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0


class _SpanCtx:
    """Times one call: ``seconds`` is its wall time."""

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.seconds = 0.0

    def __enter__(self):
        t = self.tracer
        self.span_id = t._next_id
        t._next_id += 1
        if t.enabled:
            self._parent = t._stack[-1] if t._stack else None
            t._stack.append(self.span_id)
        self.start = time.time()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self._t0
        t = self.tracer
        if t.enabled:
            t._stack.pop()
            t.spans.append(Span(self.name, self.start,
                                self.start + self.seconds, self._parent,
                                t.run_id, self.span_id))
        return False


def covered_seconds(intervals, lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` covered by at least one interval."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark job groups
# ---------------------------------------------------------------------------


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under one job group, from the
    status tracker.  Skipped stages are not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: list[tuple[float, float]] = field(default_factory=list)
    task_busy_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    result_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per-job-group totals from the (uncompressed) event log the
    session wrote into ``log_dir``.  Job intervals are epoch seconds."""
    stats: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    g = job_group.get(jid, "")
                    stats.setdefault(g, GroupStats()).jobs.append(
                        (job_start.get(jid, 0.0),
                         ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "")
                    m = ev.get("Task Metrics") or {}
                    s = stats.setdefault(g, GroupStats())
                    s.task_busy_s += m.get("Executor Run Time", 0) / 1000.0
                    s.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    s.result_bytes += m.get("Result Size", 0)
                    s.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
                    s.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0)
    return stats


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order: a plain log file, or the numbered
    ``events_<n>_<app>`` files of a rolling log directory."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for name in files:
            if name.startswith((".", "appstatus")):
                continue
            key = (int(name.split("_")[1]) if name.startswith("events_")
                   else 0)
            out.append((root, key, os.path.join(root, name)))
    return [p for _, _, p in sorted(out)]


# ---------------------------------------------------------------------------
# RSS of the driver JVM and the Python workers
# ---------------------------------------------------------------------------


def _parents() -> dict[int, int]:
    """pid -> ppid of every live process (from /proc)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the last ')'
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parent


def descendant_pids(parent: dict[int, int] | None = None) -> set[int]:
    """Every live process below this one."""
    me = os.getpid()
    parent = parent if parent is not None else _parents()
    out = set()
    for pid in parent:
        p, hops = parent.get(pid), 0
        while p is not None and p != me and p > 1 and hops < 64:
            p, hops = parent.get(p), hops + 1
        if p == me:
            out.add(pid)
    return out


class RssSampler:
    """Samples, every 0.1 s, the summed RSS of the driver JVM and the
    PySpark daemon and workers below this process, and keeps the
    high-water mark while active.

    Other processes are not counted: a helper the JVM starts shares the
    JVM's address space until it execs, so its RSS would count the JVM
    a second time."""

    INTERVAL = 0.1

    def __init__(self):
        self.peak_bytes = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def measuring(self, on: bool) -> None:
        if on:
            self._active.set()
        else:
            self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def driver_rss(self) -> int:
        me = os.getpid()
        parent = _parents()
        total = 0
        for pid in descendant_pids(parent):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    argv = f.read().split(b"\0")
                jvm = parent[pid] == me and argv[0].endswith(b"java")
                if not (jvm or b"pyspark.daemon" in argv):
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.wait(timeout=0.2):
                self.peak_bytes = max(self.peak_bytes, self.driver_rss())
                self._stop.wait(self.INTERVAL)
