"""Unit tests for tools/scale_model.py's pure functions: event-log
parsing, the two-point Amdahl fit, and the cluster extrapolation —
no SparkSession needed (the instrumented runs themselves are driven
by the tool; these pin the math and the parser contract)."""

from __future__ import annotations

import json
import sys

import pytest

sys.path.insert(0, "/root/repo")

from tools.scale_model import (  # noqa: E402
    CORES_PER_EXECUTOR,
    N_EXECUTORS,
    amdahl_fit,
    model_cluster,
    parse_event_log,
)


def _event(d: dict) -> str:
    return json.dumps(d)


def test_parse_event_log_aggregates_tasks_and_windows(tmp_path):
    """Task metrics sum; stage windows union (overlap not double-
    counted); driver gap = app wall minus stage-busy time."""
    lines = [
        _event({"Event": "SparkListenerApplicationStart", "Timestamp": 1000}),
        # two overlapping stages: [2000,5000] and [4000,7000] -> busy 5000
        _event({"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage Name": "s0", "Number of Tasks": 2,
                               "Submission Time": 2000, "Completion Time": 5000}}),
        _event({"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage Name": "s1", "Number of Tasks": 1,
                               "Submission Time": 4000, "Completion Time": 7000}}),
        _event({"Event": "SparkListenerTaskEnd",
                "Task Info": {"Launch Time": 2000, "Finish Time": 3000},
                "Task Metrics": {
                    "Executor Run Time": 800, "Executor Deserialize Time": 100,
                    "Result Serialization Time": 0, "JVM GC Time": 100,
                    "Shuffle Read Metrics": {"Local Bytes Read": 10,
                                             "Remote Bytes Read": 20},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 40,
                                              "Shuffle Records Written": 4}}}),
        _event({"Event": "SparkListenerTaskEnd",
                "Task Info": {"Launch Time": 2000, "Finish Time": 2500},
                "Task Metrics": {"Executor Run Time": 500,
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": 60,
                                      "Shuffle Records Written": 6}}}),
        # a task-end with NO metrics (failed/speculative) is skipped
        _event({"Event": "SparkListenerTaskEnd", "Task Info": {}}),
        _event({"Event": "SparkListenerApplicationEnd", "Timestamp": 9000}),
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(lines) + "\n")
    m = parse_event_log(str(p))
    assert m["tasks"] == 2
    assert m["stages"] == 2
    assert m["cpu_core_s"] == pytest.approx(1.3)
    assert m["gc_s"] == pytest.approx(0.1)
    # scheduler delay: (1000-800-100) + (500-500) = 100 ms
    assert m["sched_delay_s"] == pytest.approx(0.1)
    assert m["shuffle_write_bytes"] == 100
    assert m["shuffle_read_bytes"] == 30
    assert m["shuffle_records_written"] == 10
    assert m["stage_busy_s"] == pytest.approx(5.0)  # union, not 3+3
    assert m["app_wall_s"] == pytest.approx(8.0)
    assert m["driver_gap_s"] == pytest.approx(3.0)


def test_amdahl_fit_recovers_known_parameters():
    """Generate T(c) = S + W/c exactly and recover (S, W)."""
    s_true, w_true = 12.5, 1600.0
    t4 = s_true + w_true / 4
    t16 = s_true + w_true / 16
    s, w = amdahl_fit(t4, t16, 4, 16)
    assert s == pytest.approx(s_true)
    assert w == pytest.approx(w_true)
    # degenerate: perfectly parallel pair -> S == 0, never negative
    s0, _ = amdahl_fit(400.0, 100.0, 4, 16)
    assert s0 == 0.0


def test_amdahl_fit_rejects_equal_core_counts():
    """One core count twice (MODEL_CPUS=1 gives cpus_lo == cpus_hi)
    has no fit: a clear ValueError, not a ZeroDivisionError."""
    with pytest.raises(ValueError, match="two different core counts"):
        amdahl_fit(10.0, 10.0, 1, 1)


def _meas(cpu_core_s=1887.1, shw=9_856_112_329, shr=9_856_112_329,
          stages=9, tasks=262):
    return {
        "cpu_core_s": cpu_core_s,
        "shuffle_write_bytes": shw,
        "shuffle_read_bytes": shr,
        "stages": stages,
        "tasks": tasks,
    }


def test_model_cluster_efficiency_and_terms():
    """The committed 96M measurement must reproduce the committed
    extrapolation (BENCH/scale_model_96m.json): efficiency 0.846,
    CPU-binding at both sizes, 4N dispatch floor visible but not
    binding."""
    m = model_cluster(_meas(), 96_000_000, fixed_driver_s=12.8)
    assert m["extrapolated_efficiency"] == pytest.approx(0.846, abs=0.002)
    assert m["cluster_lo"]["binding_term"] == "cpu"
    assert m["cluster_hi"]["binding_term"] == "cpu"
    assert m["cluster_hi"]["t_dispatch_floor_s"] < m["cluster_hi"]["t_cpu_s"]
    # 4N quadruples cores exactly
    assert m["cluster_hi"]["cores"] == 4 * m["cluster_lo"]["cores"]
    assert m["cluster_lo"]["cores"] == N_EXECUTORS * CORES_PER_EXECUTOR


def test_model_cluster_dispatch_floor_can_bind():
    """Sanity of the honest-limit story: a wave with 100x less CPU per
    URL becomes dispatch-bound at 4N — the model surfaces the driver
    as the binding term instead of hiding it."""
    m = model_cluster(_meas(cpu_core_s=18.9), 96_000_000, fixed_driver_s=12.8)
    assert m["cluster_hi"]["binding_term"] == "dispatch"
    assert m["extrapolated_efficiency"] < 0.8


def test_model_cluster_efficiency_bounded():
    """Efficiency can never exceed 1 beyond wall-rounding effects:
    with zero fixed driver time and pure CPU binding it is exactly 1
    (walls round to 0.1 s, so allow that much slack)."""
    m = model_cluster(_meas(), 96_000_000, fixed_driver_s=0.0)
    assert 0.99 <= m["extrapolated_efficiency"] <= 1.005
