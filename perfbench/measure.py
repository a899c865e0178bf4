"""Measurement helpers for the benchmark: order statistics, parent-linked
spans with self time, and resident memory of a process tree read from
/proc (psutil is not a dependency of this repository)."""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable


def summarize(values: list[float]) -> dict:
    """Median, quartiles and sample count. Quartiles follow
    `statistics.quantiles(values, n=4)` (the exclusive method); a single
    sample is its own median and quartiles."""
    if not values:
        raise ValueError("summarize() needs at least one value")
    if len(values) == 1:
        v = float(values[0])
        return {"n": 1, "median": v, "q1": v, "q3": v}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": statistics.median(values), "q1": q1, "q3": q3}


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    run_id: str
    parent: int | None
    start: float  # epoch seconds, comparable with Spark event-log times
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


@dataclass
class Tracer:
    """Spans and counts kept in memory; `dump()` hands them out at the end.

    `span(name)` nests under the innermost open span of this tracer, so a
    layer's children are the spans opened inside its `with` block."""

    run_id: str = "run"
    clock: Callable[[], float] = time.time
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _stack: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(next(self._ids), name, self.run_id, parent, self.clock())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counts[name] = value

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of the interval its children cover."""
        return span.duration - union_length(
            [(c.start, c.end) for c in self.children(span)], span.start, span.end
        )

    def total(self, name: str, self_only: bool = False) -> float:
        """Summed duration (or self time) of every span called `name`."""
        return sum(
            self.self_time(s) if self_only else s.duration
            for s in self.spans
            if s.name == name
        )

    def innermost(self, t: float) -> Span | None:
        """The deepest closed span whose interval contains time t."""
        best = None
        for s in self.spans:
            if s.end is not None and s.start <= t <= s.end:
                if best is None or s.start >= best.start:
                    best = s
        return best

    def dump(self) -> dict:
        return {
            "spans": [
                {
                    "id": s.id,
                    "name": s.name,
                    "run_id": s.run_id,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                }
                for s in self.spans
            ],
            "counts": dict(self.counts),
        }


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
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


# ---------------------------------------------------------------- memory

_PAGE = os.sysconf("SC_PAGE_SIZE")


def rss_bytes(pid: int, proc: str = "/proc") -> int:
    """Resident set size of one process from /proc/<pid>/statm; 0 if it
    has exited."""
    try:
        with open(f"{proc}/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
        return 0


def _stat_fields(pid: int | str, proc: str = "/proc") -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, starting with
    state and ppid; None if the process has exited. The command name is
    parenthesised and may hold spaces and ')', so the fields start after
    the LAST ')'."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            stat = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return stat[stat.rfind(")") + 2 :].split()


def parent_map(proc: str = "/proc") -> dict[int, int]:
    """pid → parent pid for every process visible in /proc."""
    out = {}
    for name in os.listdir(proc):
        if name.isdigit() and (fields := _stat_fields(name, proc)) is not None:
            out[int(name)] = int(fields[1])
    return out


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """root and all its descendants."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent_map(proc).items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int, proc: str = "/proc") -> int:
    return sum(rss_bytes(p, proc) for p in tree_pids(root, proc))


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pid: int, proc: str = "/proc") -> float:
    """User + system CPU time of one process and of its children it has
    waited for (utime, stime, cutime, cstime); 0 if it has exited. The
    kernel leaves time stolen by the hypervisor out of these."""
    fields = _stat_fields(pid, proc)
    if fields is None:
        return 0.0
    return sum(int(v) for v in fields[11:15]) / _TICK


def tree_cpu_seconds(root: int, proc: str = "/proc") -> float:
    return sum(cpu_seconds(p, proc) for p in tree_pids(root, proc))


class PeakRSS:
    """Samples the summed RSS of a process tree on a background thread
    while the `with` block runs; `peak` holds the largest sample (bytes)."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRSS":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
