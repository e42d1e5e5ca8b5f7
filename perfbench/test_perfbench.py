"""Tests for the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import datagen  # noqa: E402
import eventlog  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from worker import tail  # noqa: E402


class FakeClock:
    def __init__(self) -> None:
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


def test_self_time_subtracts_direct_children_only() -> None:
    clock = FakeClock()
    t = spans.Tracer(clock=clock)
    with t.span("catalog.build"):  # 0 .. 10
        clock.now = 1.0
        with t.span("sources.register_views"):  # 1 .. 5
            clock.now = 2.0
            with t.span("sources.load_table"):  # 2 .. 3
                clock.now = 3.0
            clock.now = 5.0
        clock.now = 6.0
        with t.span("profiler.profile"):  # 6 .. 8
            clock.now = 8.0
        clock.now = 10.0
    st = spans.self_times(t.spans)
    by_name = {s.name: s.id for s in t.spans}
    assert st[by_name["catalog.build"]] == pytest.approx(10 - 4 - 2)
    assert st[by_name["sources.register_views"]] == pytest.approx(4 - 1)
    assert st[by_name["sources.load_table"]] == pytest.approx(1)
    assert st[by_name["profiler.profile"]] == pytest.approx(2)
    assert [s.parent for s in t.spans] == [None, 0, 1, 0]


def test_outermost_durations_count_nested_same_name_once() -> None:
    clock = FakeClock()
    t = spans.Tracer(clock=clock)
    with t.span("profiler.profile_diff"):
        with t.span("profiler.profile"):  # 0 .. 2
            clock.now = 2.0
            with t.span("profiler.profile"):  # nested call: 2 .. 3
                clock.now = 3.0
        with t.span("profiler.profile"):  # 3 .. 7
            clock.now = 7.0
    total, calls = spans.outermost_durations(t.spans, "profiler.profile")
    assert calls == 3
    assert total == pytest.approx(3 + 4)
    only_first = {1, 2}
    total, calls = spans.outermost_durations(t.spans, "profiler.profile", only_first)
    assert (total, calls) == (pytest.approx(3), 2)


def test_wrap_records_calls_and_unwrap_restores() -> None:
    import types

    mod = types.ModuleType("fake_engine_mod")
    mod.fn = lambda x: x * 2
    orig = mod.fn
    t = spans.Tracer(clock=FakeClock())
    t.wrap(mod, "fn", "fake.fn")
    assert mod.fn(4) == 8
    assert [s.name for s in t.spans] == ["fake.fn"]
    t.unwrap_all()
    assert mod.fn is orig


def test_job_group_round_trip() -> None:
    assert spans.span_of_group(spans.job_group(17)) == 17
    assert spans.span_of_group(None) is None
    assert spans.span_of_group("someone-else") is None


def _ev(kind: str, **kw) -> str:
    return json.dumps(dict({"Event": kind}, **kw))


def _task(stage: int, launch: int, run_ms: int, cpu_ns: int, *,
          failed: bool = False, shuffle_w: int = 0, spill: int = 0,
          input_b: int = 0) -> str:
    return _ev(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage, "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Info": {"Launch Time": launch, "Failed": failed},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": 10,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": shuffle_w},
                "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
                "Input Metrics": {"Bytes Read": input_b},
            },
        },
    )


SMALL_LOG = [
    _ev("SparkListenerApplicationStart", **{"App Name": "t"}),
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0],
        "Properties": {"spark.jobGroup.id": "perfbench-3"}}),
    _ev("SparkListenerStageSubmitted", **{
        "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0,
                       "Submission Time": 1000},
        "Properties": {"spark.jobGroup.id": "perfbench-3"}}),
    _task(0, 1000, 2000, 500_000_000, input_b=2 * 1024 * 1024),
    _task(0, 1500, 1000, 1_000_000_000, shuffle_w=1024 * 1024),
    _ev("SparkListenerStageCompleted", **{
        "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}}),
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [1],
        "Properties": {}}),
    _ev("SparkListenerStageSubmitted", **{
        "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0,
                       "Submission Time": 5000},
        "Properties": {}}),
    _task(1, 5000, 9000, 9_000_000_000, failed=True, spill=1024 * 1024),
    _ev("SparkListenerStageCompleted", **{
        "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0}}),
]


def test_eventlog_aggregates_only_kept_groups() -> None:
    tot = eventlog.aggregate(eventlog.read_events(SMALL_LOG),
                             lambda g: g == "perfbench-3")
    assert (tot.jobs, tot.stages, tot.tasks, tot.task_failures) == (1, 1, 2, 0)
    assert tot.run_s == pytest.approx(3.0)
    assert tot.cpu_s == pytest.approx(1.5)
    assert tot.noncpu_s == pytest.approx(1.5)
    assert tot.gc_s == pytest.approx(0.02)
    assert tot.task_wait_s == pytest.approx(0.5)
    assert tot.shuffle_write_mb == pytest.approx(1.0)
    assert tot.shuffle_read_mb == pytest.approx(1.0)
    assert tot.input_mb == pytest.approx(2.0)
    assert tot.spill_mb == 0
    assert tot.jobs_by_group == {"perfbench-3": 1}


def test_eventlog_counts_everything_by_default() -> None:
    tot = eventlog.aggregate(eventlog.read_events(SMALL_LOG))
    assert (tot.jobs, tot.stages, tot.tasks, tot.task_failures) == (2, 2, 3, 1)
    assert tot.spill_mb == pytest.approx(1.0)
    assert tot.jobs_by_group == {"perfbench-3": 1, None: 1}


def test_checker_rejects_a_wrong_frame() -> None:
    cols = ["k", "revenue"]
    oracle = [(1, 10.25), (2, 7.5)]
    assert check.compare_frames(cols, oracle, cols, oracle).ok
    wrong_value = [(1, 10.25), (2, 7.75)]
    v = check.compare_frames(cols, wrong_value, cols, oracle)
    assert not v.ok and "revenue" in v.reason
    missing_row = [(1, 10.25)]
    assert not check.compare_frames(cols, missing_row, cols, oracle).ok
    assert not check.compare_frames(["k", "rev"], oracle, cols, oracle).ok


def test_checker_float_tolerance_is_relative() -> None:
    cols = ["k", "v"]
    large = check.compare_frames(cols, [(1, 202169734.66934)],
                                 cols, [(1, 202169734.66933)])
    assert large.ok
    assert large.rounding_cells == ["v: 202169734.66934 vs oracle 202169734.66933"]
    # short reprs one printed unit apart are real errors, not rounding
    for got, want in ((0.1, 0.2), (3.0, 3.1), (0.09, 0.1), (2149341.39, 2149341.38)):
        assert not check.compare_frames(cols, [(1, got)], cols, [(1, want)]).ok
    assert not check.compare_frames(cols, [(1, 5)], cols, [(1, 6)]).ok


def test_checker_decimal_tolerance_is_one_unit_at_equal_scale() -> None:
    from decimal import Decimal as D

    cols = ["k", "v"]
    v = check.compare_frames(cols, [(1, D("2149341.39"))], cols, [(1, D("2149341.38"))])
    assert v.ok and v.rounding_cells == ["v: 2149341.39 vs oracle 2149341.38"]
    assert not check.compare_frames(cols, [(1, D("2149341.40"))],
                                    cols, [(1, D("2149341.38"))]).ok
    assert not check.compare_frames(cols, [(1, D("0.1"))], cols, [(1, D("0.09"))]).ok
    assert not check.compare_frames(cols, [(1, 0.39)], cols, [(1, D("0.38"))]).ok


def test_tsv_checker_and_probe_top1() -> None:
    tsv = "n_name\tn\nNATION_1\t3\nNATION_6\t4\n"
    assert check.compare_tsv(tsv, ["n_name", "n"], [("NATION_6", 4), ("NATION_1", 3)]).ok
    assert not check.compare_tsv(tsv, ["n_name", "n"], [("NATION_6", 5), ("NATION_1", 3)]).ok
    assert check.probe_top1_ok([(7, 7, 1.0, 1), (7, 3, 0.91, 2)]).ok
    assert not check.probe_top1_ok([(7, 3, 0.91, 1)]).ok
    assert not check.probe_top1_ok([]).ok


def test_tail_is_highest_percentile_with_ten_beyond() -> None:
    values = [float(i) for i in range(40)]
    v, pct, n = tail(values)
    assert (v, n) == (29.0, 40) and pct == pytest.approx(75.0)
    assert sum(1 for x in values if x > v) == 10
    with pytest.raises(ValueError):
        tail(values[:10])


def test_datagen_is_seeded() -> None:
    a = datagen.tables(0.001, 5)
    b = datagen.tables(0.001, 5)
    c = datagen.tables(0.001, 6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000


def test_interactive_round_is_seeded() -> None:
    import random

    r1 = workloads.interactive_round(random.Random(3))
    r2 = workloads.interactive_round(random.Random(3))
    assert r1 == r2
    kinds = [op.kind for op in r1]
    assert kinds == ["stmt"] * len(workloads.TEMPLATES) + ["probe"]


def test_timed_pass_count_is_fixed_by_seconds() -> None:
    assert workloads.timed_passes("sql_star", 13) == 3
    assert workloads.timed_passes("interactive", 13) == 6
    assert workloads.timed_passes("sql_star", 1) == 2
