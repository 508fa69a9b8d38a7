"""Spans, percentiles and Spark-side counters for the benchmark.

Everything here observes the program from outside: spans come from
wrappers the benchmark installs on the module attributes the program's
callers look up, and counters come from Spark's own status store, JMX
and ``/proc``. Nothing under ``streamy_db_spark/`` is edited.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# ---------------------------------------------------------------- statistics

#: Percentiles the tail helper may report, lowest first.
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first so that 99.9% of 10,000 is rank 9,990, not 9,991)."""
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile on the ladder that leaves at least
    ``min_beyond`` of ``n`` samples above its nearest rank, or None when
    even the median does not."""
    best = None
    for p in PERCENTILE_LADDER:
        if n - _rank(p, n) >= min_beyond:
            best = p
    return best


# --------------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end if c.end is not None else c.start, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """In-memory span recorder. Parents follow the call stack of the
    recording thread; spans opened on other threads (streaming callbacks,
    the heartbeat thread) are roots."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sp = Span(next(self._ids), name, time.perf_counter(), None,
                  stack[-1].id if stack else None, self.run_id, dict(attrs))
        self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        rows = [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f, default=str)


# ------------------------------------------------------ Spark / JVM / process


def last_job_id(spark) -> int:
    """Highest job id Spark has seen so far (-1 before the first job).
    The status store lists jobs newest first."""
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return seq.apply(0).jobId() if seq.size() else -1


def jobs_between(spark, first: int, last: int) -> list[dict]:
    """Completed-job counters for every job with ``first < id <= last``,
    read from the driver's status store (the data behind the Spark UI)."""
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        jid = j.jobId()
        if not first < jid <= last:
            continue
        group = j.jobGroup()
        out.append({
            "job_id": jid,
            "group": group.get() if group.isDefined() else None,
            "stages": j.numCompletedStages() + j.numFailedStages(),
            "tasks": j.numCompletedTasks(),
            "failed_tasks": j.numFailedTasks(),
        })
    return out


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from ``/proc/<pid>/status``."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendant_pids(root: int) -> list[int]:
    """Every live process below ``root`` (from ``/proc/*/stat``)."""
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parents[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out += kids
        frontier += kids
    return out


def jvm_pid(spark) -> int | None:
    """Pid of the driver JVM this Python process launched."""
    from pyspark import SparkContext  # noqa: PLC0415

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return None
    for pid in [proc.pid, *descendant_pids(proc.pid)]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None
