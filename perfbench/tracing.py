"""Tracing for the benchmark's traced runs, kept entirely outside the
program under test.

* ``Tracer`` records spans (name, parent, start, end) around calls into the
  program's layers.  Each span owns a Spark job group, so every job the
  span launches is attributable to the innermost open span.  Spans stay in
  memory and are summarised once, after the run.
* ``parse_event_log`` reads the local Spark event log (plain JSON lines,
  ``spark.eventLog.enabled``) into jobs with their start/end times and
  tasks with their metrics, keyed by job group.
* ``written_bytes`` / ``tree_state`` measure storage from outside: the
  bytes of files that are new or rewritten between two directory scans.
* ``RssSampler`` samples a process's resident memory from ``/proc``, and
  ``tree_cpu_s`` sums the CPU time of a process tree from ``/proc``.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict | None = None  # numbers the caller attaches after the span


class Tracer:
    """Span recorder.  Disabled (the default), every method is a no-op
    (``span`` yields None), so untraced runs execute the same benchmark code
    with no Spark job-group calls."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb{span.sid}", span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` with a wrapper that runs it inside a span.
        `name` is a span name or a function of the call's arguments that
        returns one.  Undone by ``unwrap_all``."""
        if not self.enabled:
            return
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return fn(*args, **kwargs)

        setattr(owner, attr, classmethod(traced) if is_cm else traced)
        self._patches.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)


# ---------------------------------------------------------------- event log

@dataclass
class Job:
    jid: int
    group: str | None
    start_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage: int
    run_ms: int
    gc_ms: int
    shuffle_write: int
    spill: int
    input_bytes: int


def parse_event_log(log_dir: str) -> tuple[dict[int, Job], dict[str, list[Task]]]:
    """-> (jobs by id, tasks by job group).  A task belongs to the group
    of the stage submission that ran it."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str | None] = {}
    tasks: dict[str, list[Task]] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                                         ev["Submission Time"], stages=ev["Stage IDs"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                group = stage_group.get(ev["Stage ID"])
                if m is None or group is None:
                    continue
                tasks.setdefault(group, []).append(Task(
                    ev["Stage ID"], m["Executor Run Time"], m["JVM GC Time"],
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                    m["Input Metrics"]["Bytes Read"],
                ))
    return jobs, tasks


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of `intervals`."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def task_skew(tasks: list[Task]) -> float:
    """Max over median task run time, per stage, worst stage (1.0 = even)."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    worst = 1.0
    for runs in by_stage.values():
        med = statistics.median(runs)
        if med > 0:
            worst = max(worst, max(runs) / med)
    return worst


# ------------------------------------------------------------------ storage

def tree_state(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, size, mtime_ns) of every file under `root`."""
    out = {}
    if not os.path.isdir(root):
        return out
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed between listing and stat
                continue
            out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files present after that are new or rewritten since before."""
    return sum(v[1] for p, v in after.items() if before.get(p) != v)


def tree_bytes(root: str) -> int:
    return sum(v[1] for v in tree_state(root).values())


class RssSampler:
    """Samples VmRSS of `pid` every `interval` seconds while running; `peak_mb`
    is the largest sample (reads /proc only)."""

    def __init__(self, pid: int, interval: float = 0.05):
        self.path = f"/proc/{pid}/status"
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        with open(self.path) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                    return

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    process `root` and all its descendants.  Time the host gave to other
    tenants (steal) is not in it."""
    stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the command name may hold spaces: fields start after ')'
                fields = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):  # exited meanwhile
            continue
        stats[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")
