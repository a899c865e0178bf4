"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

import eventlog
import harness
import measure


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_summarize_matches_statistics_quantiles():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6]
    q1, _, q3 = statistics.quantiles(values, n=4)
    s = measure.summarize(values)
    assert s == {"n": 7, "median": statistics.median(values), "q1": q1, "q3": q3}


def test_summarize_single_value_and_empty():
    assert measure.summarize([2.5]) == {"n": 1, "median": 2.5, "q1": 2.5, "q3": 2.5}
    with pytest.raises(ValueError):
        measure.summarize([])


def test_union_length_merges_overlaps_and_clips():
    assert measure.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert measure.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert measure.union_length([], 0, 1) == 0
    assert measure.union_length([(2, 1)], 0, 5) == 0  # empty interval


def test_span_self_time_subtracts_children():
    clock = FakeClock()
    tr = measure.Tracer(run_id="r", clock=clock)
    with tr.span("root") as root:
        clock.t = 1.0
        with tr.span("a") as a:
            clock.t = 3.0
            with tr.span("a.child"):
                clock.t = 4.0
            clock.t = 5.0
        clock.t = 6.0
        with tr.span("b") as b:
            clock.t = 8.0
        clock.t = 10.0
    assert root.duration == 10.0
    assert tr.self_time(root) == 10.0 - 4.0 - 2.0
    assert tr.self_time(a) == 4.0 - 1.0
    assert a.parent == root.id and b.parent == root.id and root.parent is None
    assert {s.run_id for s in tr.spans} == {"r"}
    assert tr.total("a") == 4.0 and tr.total("a", self_only=True) == 3.0
    assert tr.innermost(3.5).name == "a.child"
    assert tr.innermost(5.5) is root
    assert tr.innermost(11.0) is None
    dumped = tr.dump()["spans"]
    assert [d["name"] for d in dumped] == ["root", "a", "a.child", "b"]


def test_span_closes_on_exception():
    clock = FakeClock()
    tr = measure.Tracer(clock=clock)
    with pytest.raises(RuntimeError):
        with tr.span("x"):
            clock.t = 2.0
            raise RuntimeError
    assert tr.spans[0].end == 2.0
    with tr.span("y") as y:
        pass
    assert y.parent is None  # the failed span was popped


def test_rss_of_this_process_and_of_a_missing_pid():
    own = measure.rss_bytes(os.getpid())
    assert own > 1 << 20
    assert measure.rss_bytes(2**22 + 12345) == 0
    assert measure.tree_rss_bytes(os.getpid()) >= own


def test_parent_map_parses_command_names_with_spaces(tmp_path):
    for pid, stat in {
        "10": "10 (java) S 1 10 10",
        "11": "11 (python3 -m x) S 10 10 10",
        "12": "12 (odd) name)) R 11 10 10",
    }.items():
        (tmp_path / pid).mkdir()
        (tmp_path / pid / "stat").write_text(stat)
        (tmp_path / pid / "statm").write_text("100 7 3 0 0 0 0")
    (tmp_path / "self").mkdir()
    assert measure.parent_map(str(tmp_path)) == {10: 1, 11: 10, 12: 11}
    assert sorted(measure.tree_pids(10, str(tmp_path))) == [10, 11, 12]
    page = os.sysconf("SC_PAGE_SIZE")
    assert measure.tree_rss_bytes(11, str(tmp_path)) == 2 * 7 * page


def test_cpu_seconds_sums_utime_stime_and_waited_children(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    # after ')': state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime priority ...
    for pid, ppid, times in (("20", 1, "100 50 7 3"), ("21", 20, "10 0 0 0")):
        (tmp_path / pid).mkdir()
        (tmp_path / pid / "stat").write_text(
            f"{pid} (x y) S {ppid} 20 20 0 -1 0 5 0 0 0 {times} 20 0"
        )
    assert measure.cpu_seconds(20, str(tmp_path)) == 160 / tick
    assert measure.cpu_seconds(99, str(tmp_path)) == 0.0
    assert measure.tree_cpu_seconds(20, str(tmp_path)) == pytest.approx(170 / tick)
    assert measure.tree_cpu_seconds(os.getpid()) > 0


def test_peak_rss_samples_until_exit():
    with measure.PeakRSS(os.getpid(), interval=0.01) as rss:
        pass
    assert rss.peak >= measure.rss_bytes(os.getpid()) // 2
    assert not rss._thread.is_alive()


def _events():
    def task(stage, run_ms, gc_ms, shw, spill=0):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Stage Attempt ID": 0,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": gc_ms,
                "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shw},
            },
        }

    def done(stage, sub_ms, comp_ms):
        return {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": stage,
                "Stage Attempt ID": 0,
                "Stage Name": f"count at x.py:{stage}\nmore",
                "Submission Time": sub_ms,
                "Completion Time": comp_ms,
            },
        }

    return [
        task(0, 500, 10, 2_000_000),
        task(0, 700, 0, 1_000_000, spill=5_000_000),
        done(0, 1_000, 2_000),
        task(1, 100, 0, 0),
        done(1, 3_000, 3_500),
        {"Event": "SparkListenerJobEnd"},
        done(2, 9_000, 9_500),  # no tasks recorded
    ]


def test_eventlog_stages_and_engine_totals():
    st = eventlog.stages(_events())
    assert [s.stage_id for s in st] == [0, 1, 2]
    s0 = st[0]
    assert s0.name == "count at x.py:0"
    assert (s0.task_s, s0.gc_s, s0.shuffle_write_bytes, s0.spill_bytes) == (
        1.2, 0.01, 3_000_000, 5_000_000
    )
    window = eventlog.within(st, 0.5, 4.0)
    assert [s.stage_id for s in window] == [0, 1]
    tot = eventlog.engine_totals(window, 0.5, 4.0)
    assert tot["engine.task_s"] == pytest.approx(1.3)
    assert tot["engine.spill_mb"] == pytest.approx(5.0)
    # busy 1.0-2.0 and 3.0-3.5 inside a 3.5 s window
    assert tot["engine.driver_idle_s"] == pytest.approx(2.0)
    assert tot["engine.stages"] == 2


def test_shuffle_attribution_rolls_up_to_layer():
    clock = FakeClock()
    tr = measure.Tracer(clock=clock)
    clock.t = 0.5
    with tr.span("pipeline"):
        with tr.span("blocking"):
            with tr.span("blocking.signature"):
                clock.t = 2.5
        with tr.span("scoring"):
            clock.t = 4.0
    by_layer = eventlog.shuffle_mb_by_layer(
        eventlog.stages(_events()), tr, ("blocking", "scoring")
    )
    assert by_layer == {"blocking": pytest.approx(3.0), "scoring": 0.0}


def test_event_files_reads_single_and_rolling_logs(tmp_path):
    (tmp_path / "local-1").write_text(json.dumps(_events()[0]) + "\n{trunc")
    rolling = tmp_path / "eventlog_v2_local-2"
    rolling.mkdir()
    (rolling / "events_1_local-2").write_text(json.dumps(_events()[2]) + "\n")
    (rolling / "appstatus_local-2").write_text("")
    files = eventlog.event_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == ["events_1_local-2", "local-1"]
    assert len(list(eventlog.read_events(files))) == 2


def test_pairwise_f1_contingency_formula():
    import pandas as pd

    truth = pd.Series(["a", "a", "a", "d"], index=["a", "b", "c", "d"])
    assert harness.pairwise_f1(truth, truth) == 1.0
    pred = pd.Series(["a", "a", "c", "c"], index=["a", "b", "c", "d"])
    # truth pairs ab ac bc; predicted ab cd; tp=1 fp=1 fn=2
    assert harness.pairwise_f1(pred, truth) == pytest.approx(2 / (2 + 1 + 2))


def test_background_seed_is_deterministic_and_fits_numpy():
    import numpy as np

    for seed in (0, 1, -7, 2**31, 1234567890123, 2**80 + 3):
        bg = harness.background_seed(seed)
        assert bg == harness.background_seed(seed)
        assert 0 <= bg < 2**31 - 1
        np.random.RandomState(bg ^ 0x5EED)  # raises for seeds >= 2**32
    assert harness.background_seed(1) != harness.background_seed(2)
