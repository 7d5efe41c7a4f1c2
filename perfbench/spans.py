"""Measurement plumbing: spans, Spark job groups, event-log task metrics,
process-tree peak RSS and the per-run host-noise record.

Spans are kept in memory and reduced when the run ends. A span's self
time is its duration minus the part of its interval covered by its
child spans. Spark is lazy, so a span around a call into the engine
times driver-side planning plus any eager jobs; the work of the action
that follows is attributed through the Spark job group the span opened
(``spark.jobGroup.id`` in the event log).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    jobs: int = 0  # Spark jobs fired while the span was open (traced runs)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: duration minus the union of its direct
    children's intervals (clipped to the parent), so overlapping or
    out-of-bounds children are never subtracted twice."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(s.duration - covered)
    return out


def percentile(values: list[float], p: float, min_samples: int) -> float | None:
    """Nearest-rank ``p``-th percentile, or None when fewer than
    ``min_samples`` values exist: a tail percentile needs enough samples
    beyond it to mean anything (p90 needs 100)."""
    if len(values) < max(1, min_samples):
        return None
    xs = sorted(values)
    rank = max(1, -(-len(xs) * p // 100))  # ceil without floats
    return xs[int(rank) - 1]


class Tracer:
    """Span recorder. With ``spark`` set (traced runs) each top-level
    span also opens a Spark job group and counts the jobs fired inside
    it; untraced runs keep only the spans' wall times."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._local = threading.local()
        self._seq = 0

    @property
    def traced(self) -> bool:
        return self.spark is not None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def _jobs_in(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False):
        """Time a call. ``group=True`` opens a fresh Spark job group for
        the span (traced runs only); nested spans inherit it."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(name, 0.0, parent=parent)
        if self.traced:
            if group:
                self._seq += 1
                s.group = f"{name}#{self._seq}"
                self._set_group(s.group)
            elif parent is not None:
                s.group = self.spans[parent].group
        self.spans.append(s)
        idx = len(self.spans) - 1
        stack.append(idx)
        jobs0 = self._jobs_in(s.group) if self.traced and s.group else 0
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if self.traced and s.group:
                s.jobs = self._jobs_in(s.group) - jobs0
                if group:
                    back = self.spans[parent].group if parent is not None else None
                    self._set_group(back)

    def switch_group(self, suffix: str) -> str | None:
        """Re-point the innermost grouped span's job group at
        ``<group>:<suffix>`` (e.g. to split a call's eager planning jobs
        from the action that follows). Returns the new group."""
        if not self.traced:
            return None
        for i in reversed(self._stack()):
            if self.spans[i].group:
                g = f"{self.spans[i].group}:{suffix}"
                self._set_group(g)
                return g
        return None

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name and s.end]

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` with a spanned wrapper; returns an undo
        callable. Used to time a layer reached only through another."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        return lambda: setattr(owner, attr, orig)


# -- event log -------------------------------------------------------------


@dataclass
class GroupStats:
    """Task metrics of every Spark job run under one job group."""

    jobs: int = 0
    job_s: float = 0.0  # sum of job wall times (submission -> completion)
    tasks: int = 0
    cpu_s: float = 0.0  # executor CPU time
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    #: per stage: task durations (s); the heaviest stage is the kernel
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    def kernel_stage(self) -> list[float]:
        """Task durations of the stage with the most task time."""
        if not self.stage_tasks:
            return []
        return max(self.stage_tasks.values(), key=sum)


_MB = 1024.0 * 1024.0


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Aggregate an event log by ``spark.jobGroup.id``. A stage listed
    by several jobs runs in the first (the others skip it)."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = ev.get("Submission Time", 0) / 1000.0
                    out[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        out[job_group[jid]].job_s += (
                            ev.get("Completion Time", 0) / 1000.0 - job_start[jid]
                        )
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    group = stage_group.get(sid)
                    if group is None:
                        continue
                    g = out[group]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    g.tasks += 1
                    g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    g.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
                    g.output_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / _MB
                    g.shuffle_write_mb += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    ) / _MB
                    g.spill_mb += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / _MB
                    g.stage_tasks[sid].append(
                        max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    )
    return dict(out)


def merge(groups: list[GroupStats]) -> GroupStats:
    total = GroupStats()
    for g in groups:
        for f in ("jobs", "job_s", "tasks", "cpu_s", "input_mb", "output_mb",
                  "shuffle_write_mb", "spill_mb"):
            setattr(total, f, getattr(total, f) + getattr(g, f))
        for sid, ts in g.stage_tasks.items():
            total.stage_tasks[sid].extend(ts)
    return total


def skew(durations: list[float]) -> float:
    """max / median task time (1.0 = perfectly balanced)."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0


# -- process tree memory ---------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids[ppid].append(int(d))
    return kids


def _resident_kb(pid: int) -> int:
    """Proportional resident memory (PSS) of one process: pages shared
    between processes, such as forked Python workers and their daemon,
    are split between them instead of counted once per process."""
    for path, key in ((f"/proc/{pid}/smaps_rollup", "Pss:"), (f"/proc/{pid}/status", "VmRSS:")):
        try:
            with open(path) as fh:
                for line in fh:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            continue
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def tree_rss_mb(root_pid: int) -> tuple[float, float, float]:
    """Resident memory (PSS, MB) of ``root_pid`` and all its
    descendants: (whole tree, the JVM, the Python processes). A process
    is named before its memory is read: a child the JVM spawns shares
    the JVM's memory until it execs, so a ``java`` child of ``java`` is
    skipped, and one that execs between the two reads is not counted as
    Python."""
    kids = _children_map()
    todo, total, jvm, py = [(root_pid, "")], 0, 0, 0
    while todo:
        pid, parent = todo.pop()
        name = _comm(pid)
        todo.extend((k, name) for k in kids.get(pid, ()))
        if name == "java" and parent == "java":
            continue
        kb = _resident_kb(pid)
        total += kb
        if name == "java":
            jvm += kb
        elif name.startswith("python"):
            py += kb
    return total / 1024.0, jvm / 1024.0, py / 1024.0


#: seconds between two samples of the process tree's memory
RSS_INTERVAL = 0.5


class RssSampler:
    """Background thread tracking three peaks: of this whole process
    tree (driver, JVM and Python workers), of the JVM alone, and of the
    Python processes (the driver and Spark's Python daemon and workers)."""

    def __init__(self):
        self.peak_mb = self.jvm_peak_mb = self.py_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total, jvm, py = tree_rss_mb(os.getpid())
        self.peak_mb = max(self.peak_mb, total)
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm)
        self.py_peak_mb = max(self.py_peak_mb, py)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_INTERVAL)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# -- host noise ------------------------------------------------------------


def steal_jiffies() -> int:
    """Cumulative hypervisor-steal jiffies (``/proc/stat`` cpu line,
    column 9); 0 where unreadable."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if len(parts) > 8 else 0
    except (OSError, ValueError):
        return 0


def sentinel_ms() -> float:
    """A fixed pure-CPU timing (numpy 256x256 matmuls) that moves only
    with host load, never with the engine."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((256, 256))
    t = time.perf_counter()
    for _ in range(20):
        a = np.tanh(a @ a.T / 256.0)
    return (time.perf_counter() - t) * 1000.0
