"""Measurement helpers with no Spark dependency: process-tree accounting
from ``/proc``, percentile rules, and in-memory spans with self time.

Everything here is pure Python so the benchmark's own tests can exercise it
without starting a JVM.
"""

from __future__ import annotations

import ctypes
import os
import signal
import statistics
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- /proc process-tree accounting -----------------------------------------


@dataclass(frozen=True)
class ProcStat:
    pid: int
    state: str
    ppid: int
    cpu_ticks: int  # utime + stime + cutime + cstime
    start_ticks: int


def read_stat(pid: int, proc_root: str = "/proc") -> ProcStat | None:
    """Parse ``/proc/<pid>/stat``; None when the process has gone.

    The command name (field 2) may contain spaces and parentheses, so the
    numeric fields are taken after the LAST ``)``. ``cutime``/``cstime``
    hold the CPU of children the process has already reaped, so a worker
    that exited between two readings keeps its CPU in the tree total.
    """
    try:
        with open(os.path.join(proc_root, str(pid), "stat")) as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); field n sits at rest[n - 3]
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(rest[i]) for i in (11, 12, 13, 14))
    return ProcStat(pid, rest[0], ppid, utime + stime + cutime + cstime, int(rest[19]))


def _all_stats(proc_root: str) -> dict[int, ProcStat]:
    out = {}
    for name in os.listdir(proc_root):
        if name.isdigit():
            st = read_stat(int(name), proc_root)
            if st is not None:
                out[st.pid] = st
    return out


def tree_pids(root: int, exclude: frozenset[int] = frozenset(), proc_root: str = "/proc") -> list[int]:
    """``root`` and all its live descendants, minus the subtrees rooted at
    ``exclude`` (the load generator, which is not the program under test)."""
    return [st.pid for st in _tree(root, exclude, proc_root)]


def _tree(root: int, exclude: frozenset[int], proc_root: str) -> list[ProcStat]:
    stats = _all_stats(proc_root)
    kids: dict[int, list[int]] = {}
    for st in stats.values():
        kids.setdefault(st.ppid, []).append(st.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude or pid not in stats:
            continue
        out.append(stats[pid])
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int, exclude: frozenset[int] = frozenset(), proc_root: str = "/proc") -> float:
    """CPU seconds (user + system, own + reaped children) of the process
    tree. Steal time is not process CPU and is not included."""
    return sum(st.cpu_ticks for st in _tree(root, exclude, proc_root)) / CLK_TCK


def tree_peak_rss_mb(root: int, exclude: frozenset[int] = frozenset(), proc_root: str = "/proc") -> float:
    """Sum over the live tree of each process's peak resident set
    (``VmHWM``). The JVM dominates, and its resident set does not shrink
    during a run, so the sum of per-process peaks tracks the tree's peak."""
    total_kb = 0
    for st in _tree(root, exclude, proc_root):
        try:
            with open(os.path.join(proc_root, str(st.pid), "status")) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except FileNotFoundError:
            continue
    return total_kb / 1024


def process_age_s(pid: int | None = None, proc_root: str = "/proc") -> float:
    """Seconds since ``pid`` (default: this process) started."""
    st = read_stat(pid or os.getpid(), proc_root)
    with open(os.path.join(proc_root, "uptime")) as f:
        uptime = float(f.read().split()[0])
    return uptime - st.start_ticks / CLK_TCK


# --- percentiles --------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def has_tail(n_samples: int, q: float, min_beyond: int = 10) -> bool:
    """True when at least ``min_beyond`` of ``n_samples`` lie beyond the
    ``q`` percentile, the rule for reporting that percentile at all."""
    return n_samples * (1.0 - q) >= min_beyond - 1e-9


def highest_reportable_percentile(n_samples: int, min_beyond: int = 10) -> float | None:
    """The largest of p50/p75/p90/p95/p99 with at least ``min_beyond``
    samples beyond it, or None when not even the median qualifies."""
    ok = [q for q in (0.5, 0.75, 0.9, 0.95, 0.99) if has_tail(n_samples, q, min_beyond)]
    return ok[-1] if ok else None


def median(values: list[float]) -> float:
    return statistics.median(values)


def class_median_total(values: list[float], classes: list) -> float:
    """The sum of ``values`` with each replaced by the median of its class:
    a total that one outlier per class does not move."""
    by: dict = {}
    for c, v in zip(classes, values, strict=True):
        by.setdefault(c, []).append(v)
    return sum(len(vs) * statistics.median(vs) for vs in by.values())


# --- spans --------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: int
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans opened inside another span name it as
    their parent; spans of one operation share a trace id. Nothing is written
    until the caller dumps ``spans`` at exit."""

    def __init__(self, clock=time.monotonic):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace_id = 0

    def new_trace(self) -> int:
        self.trace_id += 1
        return self.trace_id

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        t.spans.append(Span(self.name, t.clock(), float("nan"), parent, t.trace_id, self.attrs))
        self.idx = len(t.spans) - 1
        t._stack.append(self.idx)
        return t.spans[self.idx]

    def __exit__(self, *exc) -> None:
        t = self.tracer
        t.spans[self.idx].end = t.clock()
        t._stack.pop()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(spans: list[Span], idx: int) -> float:
    """A span's duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    s = spans[idx]
    kids = [(c.start, c.end) for c in spans if c.parent == idx]
    return s.duration - covered(kids, s.start, s.end)


def children(pid: int, proc_root: str = "/proc") -> list[int]:
    """Direct children of ``pid``."""
    return [st.pid for st in _all_stats(proc_root).values() if st.ppid == pid]


# --- ending every process the run started -----------------------------------

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make descendants whose parent dies (the JVM's Python workers, the
    launcher's subshell) children of this process instead of init, so that
    ``reap_descendants`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_descendants(grace_s: float) -> None:
    """Return once this process has no child left, live or zombie, reaping
    each. Descendants still running after ``grace_s`` are sent SIGKILL. With
    the process a subreaper, every orphaned descendant ends up a child, so
    no process the run started outlives it."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            for p in tree_pids(os.getpid()):
                if p != os.getpid():
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)
