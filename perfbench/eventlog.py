"""Spark event-log reader for the traced run.

Reads the JSON-lines event log Spark writes when `spark.eventLog.enabled`
is set (a single file, or a Spark 4 rolling `eventlog_v2_*` directory of
`events_*` files), folds task metrics into per-stage records, and
attributes each stage to the innermost benchmark span open when the stage
was submitted."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterable, Iterator

from measure import union_length

MB = 1e6


@dataclass
class Stage:
    stage_id: int
    attempt: int
    name: str
    submit_s: float  # epoch seconds
    complete_s: float
    task_s: float = 0.0  # summed executor run time
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # memory + disk bytes spilled


def event_files(evdir: str) -> list[str]:
    out = []
    for name in sorted(os.listdir(evdir)):
        path = os.path.join(evdir, name)
        if name.startswith("."):
            continue
        if os.path.isdir(path):
            out.extend(
                os.path.join(path, f)
                for f in sorted(os.listdir(path))
                if f.startswith("events_")
            )
        else:
            out.append(path)
    return out


def read_events(paths: Iterable[str]) -> Iterator[dict]:
    for p in paths:
        with open(p) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # a truncated last line of a log still open


def stages(events: Iterable[dict]) -> list[Stage]:
    """Completed stage attempts with their task metrics summed."""
    agg: dict[tuple[int, int], dict] = {}
    done: dict[tuple[int, int], dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
            m = e.get("Task Metrics") or {}
            a = agg.setdefault(key, {"task": 0, "gc": 0, "shw": 0, "spill": 0})
            a["task"] += m.get("Executor Run Time", 0)
            a["gc"] += m.get("JVM GC Time", 0)
            a["shw"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            a["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si.get("Submission Time") and si.get("Completion Time"):
                done[(si["Stage ID"], si.get("Stage Attempt ID", 0))] = si
    out = []
    for key, si in done.items():
        a = agg.get(key, {"task": 0, "gc": 0, "shw": 0, "spill": 0})
        out.append(
            Stage(
                stage_id=key[0],
                attempt=key[1],
                name=si.get("Stage Name", "").split("\n")[0],
                submit_s=si["Submission Time"] / 1000.0,
                complete_s=si["Completion Time"] / 1000.0,
                task_s=a["task"] / 1000.0,
                gc_s=a["gc"] / 1000.0,
                shuffle_write_bytes=a["shw"],
                spill_bytes=a["spill"],
            )
        )
    return sorted(out, key=lambda s: (s.submit_s, s.stage_id))


def within(all_stages: list[Stage], lo: float, hi: float) -> list[Stage]:
    """Stages submitted inside [lo, hi]."""
    return [s for s in all_stages if lo <= s.submit_s <= hi]


def idle_s(window: list[Stage], lo: float, hi: float) -> float:
    """Time in [lo, hi] during which no stage was running: the
    driver-synchronised serial part of the window."""
    busy = union_length([(s.submit_s, s.complete_s) for s in window], lo, hi)
    return (hi - lo) - busy


def engine_totals(window: list[Stage], lo: float, hi: float) -> dict[str, float]:
    return {
        "engine.task_s": sum(s.task_s for s in window),
        "engine.gc_s": sum(s.gc_s for s in window),
        "engine.spill_mb": sum(s.spill_bytes for s in window) / MB,
        "engine.driver_idle_s": idle_s(window, lo, hi),
        "engine.stages": float(len(window)),
    }


def shuffle_mb_by_layer(window: list[Stage], tracer, layers: Iterable[str]) -> dict:
    """Shuffle bytes written by stages submitted inside each layer's span
    (a stage belongs to the innermost span open at its submission, then
    rolls up to the enclosing layer)."""
    layers = list(layers)
    by_id = {s.id: s for s in tracer.spans}
    out = {layer: 0.0 for layer in layers}
    for st in window:
        sp = tracer.innermost(st.submit_s)
        while sp is not None and sp.name not in out:
            sp = by_id.get(sp.parent)
        if sp is not None:
            out[sp.name] += st.shuffle_write_bytes / MB
    return out
