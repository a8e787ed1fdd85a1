"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import io
import json
import os
import sys
import types
from contextlib import redirect_stdout

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from spans import GroupStats, Span, Tracer, driver_ms, parse_event_log, self_times  # noqa: E402


# ---- tail percentile ---------------------------------------------------

def test_tail_percentile_leaves_ten_samples_beyond():
    xs = list(range(100, 0, -1))  # order must not matter
    pct, v = harness.tail_percentile(xs)
    assert (pct, v) == (90.0, 90)
    assert sum(x > v for x in xs) == 10


def test_tail_percentile_smallest_sample_count():
    pct, v = harness.tail_percentile([5.0] + [9.0] * 10)
    assert v == 5.0
    assert pct == pytest.approx(100 / 11)


def test_tail_percentile_is_the_highest_such_percentile():
    xs = list(range(1, 38))  # 37 samples
    pct, v = harness.tail_percentile(xs)
    assert sum(x > v for x in xs) == 10
    # one rank higher would leave only 9 beyond
    assert sum(x > v + 1 for x in xs) == 9
    assert pct == pytest.approx(100 * 27 / 37)


def test_tail_percentile_needs_eleven_samples():
    with pytest.raises(ValueError):
        harness.tail_percentile(list(range(10)))


def test_serve_sample_count_depends_only_on_seconds():
    serve = pytest.importorskip("serve")
    assert serve.timed_requests(30) == serve.timed_requests(28) == 30  # whole mix blocks
    assert serve.timed_requests(1) == 20  # the fewest whole blocks with 11 samples
    pct, _ = harness.tail_percentile(range(serve.timed_requests(30)))
    assert pct == pytest.approx(100 * 20 / 30)


def test_process_tree_finds_children():
    import subprocess

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        tree = harness.process_tree(os.getpid())
        assert tree[0] == os.getpid() and child.pid in tree
        assert harness.peak_rss_mb(tree) > harness.peak_rss_mb([os.getpid()])
    finally:
        child.kill()
        child.wait()


# ---- spans and self time ---------------------------------------------------

def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "r1")


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, "handler", 0.0, 10.0),
        _span(2, "plan", 1.0, 3.0, parent=1),
        _span(3, "manifest", 2.0, 5.0, parent=1),  # overlaps the plan span
        _span(4, "late", 8.0, 12.0, parent=1),  # clipped to the parent's end
        _span(5, "grandchild", 1.5, 2.5, parent=2),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - (4.0 + 2.0))
    assert own[2] == pytest.approx(2.0 - 1.0)  # only its own child counts
    assert own[5] == pytest.approx(1.0)


def test_tracer_nests_spans_and_shares_request_id():
    tr = Tracer()
    with tr.span("outer", rid="r7") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.id
    assert inner.rid == "r7"
    assert {s.name for s in tr.spans} == {"outer", "inner"}
    own = self_times(tr.spans)
    assert own[outer.id] <= outer.end - outer.start


def test_tracer_wrap_records_span_on_instance_only():
    class Thing:
        def work(self, x):
            return x * 2

    tr = Tracer()
    a, b = Thing(), Thing()
    tr.wrap(a, "work", "thing.work")
    assert a.work(3) == 6 and b.work(3) == 6
    assert [s.name for s in tr.spans] == ["thing.work"]


# ---- event log --------------------------------------------------------------

def test_event_log_attributes_jobs_tasks_to_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 40, "Executor CPU Time": 20_000_000,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = parse_event_log(str(tmp_path))
    g = groups["r1"]
    assert (g.jobs, g.stages, g.tasks) == (1, 1, 1)
    assert (g.run_ms, g.cpu_ms) == (40, 20.0)
    assert (g.shuffle_read_bytes, g.shuffle_write_bytes, g.spill_bytes) == (7, 11, 3)
    assert g.job_intervals == [(1.0, 1.4)]
    assert groups[""].jobs == 1
    # op 0.9..2.0 s: 1.1 s wall, 0.4 s inside the job
    assert driver_ms(0.9, 2.0, g.job_intervals) == pytest.approx(700.0)


def test_spark_layers_per_kind_medians():
    g = GroupStats(jobs=2, stages=3, tasks=8, run_ms=100, cpu_ms=50,
                   shuffle_read_bytes=10, shuffle_write_bytes=5, job_intervals=[(1.0, 1.5)])
    out = metrics.spark_layers([("ann", "r1", 1.0, 2.0), ("ann", "r2", 1.0, 2.0)],
                               {"r1": g, "r2": g})
    assert out["spark.driver_ms.ann"] == pytest.approx(500.0)
    assert out["spark.cpu_per_run"] == pytest.approx(0.5)
    assert out["collection.tasks_per_op"] == 8


# ---- declared metric names ----------------------------------------------

def test_metric_lists_equal_benchmark_json():
    spec = metrics.declared()
    assert [m["name"] for m in spec["end_to_end"]] == metrics.E2E_NAMES
    assert [m["name"] for m in spec["per_layer"]] == metrics.layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def _fake_workload(seed, seconds, trace, work):
    e2e = metrics.end_to_end(1.5, 20.0, 25.0, 9.7, [0.9], 100.0)
    layers = metrics.spark_layers([("radius", "r1", 0.0, 1.0)], {})
    layers.update({"session.start_s": 2.0, "cache.persisted_after_op": 0})
    res = harness.RunResult(attempted=29, end_to_end=e2e, per_layer=metrics.fill_layers(layers))
    return res


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metric_names_equal_declared(monkeypatch, trace):
    monkeypatch.setitem(sys.modules, "serve", types.SimpleNamespace(run=_fake_workload))
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run.main(["--workload", "serve", "--seed", "1", "--seconds", "1",
                       "--trace", str(trace)])
    last = json.loads(buf.getvalue().strip().splitlines()[-1])
    section = "per_layer" if trace else "end_to_end"
    assert rc == 0 and last["correct"] is True
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert list(last["metrics"]) == [m["name"] for m in metrics.declared()[section]]
    parent = os.path.join(harness.ROOT, harness.WORK_PARENT)
    mine = f"serve-{os.getpid()}-"
    assert not any(d.startswith(mine) for d in (os.listdir(parent) if os.path.isdir(parent) else []))


def test_fill_layers_rejects_undeclared_names():
    with pytest.raises(KeyError):
        metrics.fill_layers({"no.such_metric": 1.0})
