"""Tests for the benchmark's pure code: no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spans import (  # noqa: E402
    TraceView,
    Tracer,
    attribute_jobs,
    driver_gap_ms,
    engine_totals,
    read_event_log,
    self_times,
    state_size,
    stream_phases,
)
from stats import error_rate, interval_union_ms, percentile, tail, tail_percentile  # noqa: E402


def _span(i, start, end, parent=None, name=None):
    return {"id": i, "name": name or i, "parent": parent, "run": "r", "start": start, "end": end}


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        _span("root", 0, 100),
        _span("a", 10, 50, "root"),
        _span("b", 30, 70, "root"),  # overlaps a on [30, 50)
        _span("c", 90, 120, "root"),  # runs past the parent's end
        _span("a1", 20, 25, "a"),
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(100 - (70 - 10) - (100 - 90))
    assert st["a"] == pytest.approx(40 - 5)
    assert st["b"] == pytest.approx(40)
    assert st["a1"] == pytest.approx(5)


def test_interval_union_merges_and_skips_empty():
    assert interval_union_ms([(0, 10), (5, 15), (20, 30), (7, 7), (40, 35)]) == 25


def _write_log(tmp_path: Path, events: list[dict]) -> Path:
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = [json.dumps(e) for e in events]
    (d / "events_1_local-1").write_text("\n".join(lines[:3]) + "\n")
    (d / "events_2_local-1").write_text("\n".join(lines[3:]) + "\nnot json\n")
    (d / "appstatus_local-1").write_text("")
    return tmp_path


def _task(stage, failed=False, run=100, cpu=50_000_000, gc=5, rr=10, lr=20, w=30, spill=0, inp=40):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run, "Executor CPU Time": cpu, "JVM GC Time": gc,
            "Shuffle Read Metrics": {"Remote Bytes Read": rr, "Local Bytes Read": lr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": w},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": inp},
        },
    }


def test_read_tiny_event_log_and_attribute(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r-1"}},
        _task(0),
        _task(1, failed=True, spill=7),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400,
         "Job Result": {"Result": "JobSucceeded"}},
        # a stream micro-batch job: no job group, attributed by time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600,
         "Stage IDs": [2], "Properties": {"streaming.sql.batchId": "3"}},
        _task(2),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700,
         "Job Result": {"Result": "JobSucceeded"}},
    ]
    jobs = read_event_log(str(_write_log(tmp_path, events)))
    assert sorted(jobs) == [0, 1]
    j0 = jobs[0]
    assert (j0["group"], j0["submit"], j0["end"], j0["ok"]) == ("r-1", 1000, 1400, True)
    assert (j0["stages"], j0["tasks"], j0["failed_tasks"]) == (2, 2, 1)
    assert jobs[1]["batch"] == "3"

    spans = [_span("r-0", 900, 2000), _span("r-1", 950, 1500, "r-0"), _span("r-2", 1550, 1800, "r-0")]
    owner = attribute_jobs(jobs, spans)
    assert owner == {0: "r-1", 1: "r-2"}

    tot = engine_totals([jobs[0], jobs[1]])
    assert tot["jobs"] == 2 and tot["tasks"] == 3 and tot["failed_tasks"] == 1
    assert tot["executor_run_s"] == pytest.approx(0.3)
    assert tot["executor_cpu_s"] == pytest.approx(0.15)
    assert tot["shuffle_read_bytes"] == 90 and tot["shuffle_write_bytes"] == 90
    assert tot["spill_bytes"] == 7 and tot["input_bytes"] == 120

    view = TraceView(spans, jobs, "r-0")
    assert view.jobs_in_span(view.root) == 2
    # wall 1100 ms minus jobs [1000,1400) and [1600,1700)
    assert view.gap_ms(view.root) == pytest.approx(1100 - 400 - 100)
    assert driver_gap_ms(spans[1], [jobs[0]]) == pytest.approx(550 - 400)


def test_tracer_records_parents_and_disabled_is_noop():
    t = Tracer(sc=None, enabled=True)
    with t.span("outer"):
        with t.span("inner", query="q1"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and inner["query"] == "q1"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    t.enabled = False
    with t.span("ignored") as sp:
        assert sp is None
    assert len(t.spans) == 2


def test_tracer_patch_and_unpatch():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    t = Tracer(sc=None)
    orig = Mod.f
    t.patch(Mod, "f", "mod.f")
    assert Mod.f(1) == 2 and t.spans[-1]["name"] == "mod.f"
    t.unpatch()
    assert Mod.f is orig


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(10) is None
    assert tail_percentile(11) is None  # p50 rank 6 leaves only 5 beyond
    assert tail_percentile(20) == 50
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    xs = list(range(1, 101))
    assert tail(xs) == (90, 90.0)
    assert percentile(xs, 50) == 50.0
    assert tail([1.0] * 5) == (None, None)


def test_error_rate_counts_failed_ops_and_checks():
    ops = [True, True, False]
    checks = [True, False]
    assert error_rate(ops + checks) == (5, 2, pytest.approx(0.4))
    assert error_rate([]) == (0, 0, 0.0)


def test_stream_progress_readers():
    progress = [
        {"numInputRows": 0, "durationMs": {"triggerExecution": 5}},
        {"numInputRows": 10, "durationMs": {"addBatch": 80, "triggerExecution": 100},
         "stateOperators": [{"numRowsTotal": 4, "memoryUsedBytes": 400}]},
        {"numInputRows": 20, "durationMs": {"addBatch": 60, "triggerExecution": 90},
         "stateOperators": [{"numRowsTotal": 6, "memoryUsedBytes": 700}]},
    ]
    ph = stream_phases(progress)
    assert ph["addBatch"] == [80.0, 60.0] and ph["rows"] == [10.0, 20.0]
    assert ph["walCommit"] == [0.0, 0.0]
    assert state_size(progress) == (6.0, 700.0)
