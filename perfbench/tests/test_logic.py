"""Tests of the benchmark's own arithmetic and parsers (no Spark, no
mofka_spark I/O). Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import threading

import pandas as pd
import pytest

from perfbench import tracing
from perfbench.digests import canonical_rows, digest

# -- percentiles ------------------------------------------------------------


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert tracing.percentile(xs, 0.0) == 1.0
    assert tracing.percentile(xs, 1.0) == 5.0
    assert tracing.median(xs) == 3.0
    assert tracing.percentile(xs, 0.25) == 2.0
    # between ranks: 0.9 * 4 = 3.6 -> 4 + 0.6 * (5 - 4)
    assert tracing.percentile(xs, 0.9) == pytest.approx(4.6)
    assert tracing.median([1.0, 2.0]) == 1.5


def test_percentile_of_empty_sample_raises():
    with pytest.raises(ValueError):
        tracing.percentile([], 0.5)


# -- spans and self time ----------------------------------------------------


def _span(name, start, end, children=(), thread=1):
    return tracing.Span(name, start, end, None, None, thread, list(children))


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("parent", 0, 100_000_000, children=[1, 2, 3]),
        _span("a", 10_000_000, 30_000_000),
        _span("b", 20_000_000, 50_000_000),  # overlaps a
        _span("c", 70_000_000, 80_000_000),
    ]
    selfs = tracing.self_times_ms(spans)
    assert selfs[0] == pytest.approx(50.0)  # 100 - [10,50] - [70,80]
    assert selfs[1:] == [pytest.approx(20.0), pytest.approx(30.0),
                         pytest.approx(10.0)]


def test_self_time_clips_children_to_parent():
    spans = [
        _span("parent", 0, 10_000_000, children=[1]),
        _span("late", 5_000_000, 20_000_000),  # ran past its parent
    ]
    assert tracing.self_times_ms(spans)[0] == pytest.approx(5.0)


def test_tracer_links_parents_and_shares_operation_ids():
    tr = tracing.Tracer()
    outer = tr.begin("outer")
    inner = tr.begin("inner")
    tr.end(inner)
    tr.end(outer)
    other = tr.begin("other")
    tr.end(other)
    assert tr.spans[inner].parent == outer
    assert tr.spans[inner].op == tr.spans[outer].op
    assert tr.spans[other].op != tr.spans[outer].op
    assert tr.spans[outer].children == [inner]
    summary = tracing.summarize_spans(tr.spans)
    assert summary["outer"]["calls"] == 1
    total = summary["outer"]["self_ms"] + summary["inner"]["self_ms"]
    assert total == pytest.approx(summary["outer"]["ms"])


def test_tracer_rejects_out_of_order_end():
    tr = tracing.Tracer()
    a = tr.begin("a")
    tr.begin("b")
    with pytest.raises(RuntimeError):
        tr.end(a)


def test_spans_of_other_threads_are_roots_and_not_main_thread_time():
    tr = tracing.Tracer()
    top = tr.begin("top")

    def worker():
        tr.end(tr.begin("background"))

    t = threading.Thread(target=worker)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    tr.end(top)
    bg = next(s for s in tr.spans if s.name == "background")
    assert bg.parent is None
    main = tracing.thread_self_ms(tr.spans, tr.main_thread)
    assert main == pytest.approx((tr.spans[top].end - tr.spans[top].start) / 1e6)


def test_wrap_method_shadows_one_instance_only():
    class Thing:
        def f(self, x):
            return x + 1

    tr = tracing.Tracer()
    a, b = Thing(), Thing()
    tr.wrap_method(a, "f", "thing.f")
    assert a.f(1) == 2 and b.f(1) == 2
    assert [s.name for s in tr.spans] == ["thing.f"]


# -- open-loop lateness -----------------------------------------------------


def test_open_loop_schedule_ignores_earlier_stalls():
    due = tracing.due_times(100.0, rate=10.0, n=4)
    assert due == pytest.approx([100.0, 100.1, 100.2, 100.3])
    # a 250 ms stall before event 1 makes event 1 and 2 late; event 3 is
    # sent on time again because the schedule does not shift
    sent = [100.0, 100.35, 100.36, 100.3]
    assert tracing.lateness_ms(due, sent) == pytest.approx([0.0, 250.0, 160.0, 0.0])


def test_lateness_never_negative_and_lengths_checked():
    assert tracing.lateness_ms([1.0], [0.5]) == [0.0]
    with pytest.raises(ValueError):
        tracing.lateness_ms([1.0, 2.0], [1.0])


# -- event log --------------------------------------------------------------


def _task(stage, launch, run_ms, reason="Success", failed=False, **metrics):
    tm = {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
          "JVM GC Time": metrics.get("gc", 0),
          "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                   "Local Bytes Read": metrics.get("read", 0)},
          "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("write", 0)},
          "Memory Bytes Spilled": metrics.get("spill", 0),
          "Disk Bytes Spilled": 0}
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Launch Time": launch, "Failed": failed},
            "Task Metrics": tm}


def _synthetic_log(path):
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 900},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        _task(0, 1010, 40, read=100, write=50),
        _task(0, 1020, 30, reason="ExceptionFailure", failed=True, gc=5),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 2, "Submission Time": 1005}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1300},
        _task(1, 1310, 20, spill=7),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 1, "Submission Time": 1305}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1400},
        # outside every window below
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000},
        _task(2, 5010, 999),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5100},
    ]
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")


def test_event_log_parser_attributes_by_time_window(tmp_path):
    logdir = tmp_path / "eventlog_v2_local-1"
    logdir.mkdir()
    _synthetic_log(logdir / "events_1_local-1")
    events = tracing.read_event_log(str(tmp_path))
    assert len(events) == 13
    m = tracing.operator_metrics(events, [(950, 1500)])
    assert m["jobs"] == 2
    assert m["stages"] == 2
    assert m["one_task_stages"] == 1
    assert m["tasks"] == 3
    assert m["failed_tasks"] == 1
    assert m["executor_run_ms"] == 90
    assert m["executor_cpu_ms"] == pytest.approx(45.0)
    assert m["gc_ms"] == 5
    assert m["shuffle_read_bytes"] == 100
    assert m["shuffle_write_bytes"] == 50
    assert m["spill_bytes"] == 7
    # window 550 ms, jobs cover [1000,1100] and [1300,1400]
    assert m["outside_jobs_ms"] == pytest.approx(350.0)


def test_event_log_windows_add_up():
    events = []
    for job, t in enumerate((0, 100)):
        events += [
            {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t},
            {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t + 10},
        ]
    m = tracing.operator_metrics(events, [(0, 50), (100, 150)])
    assert m["jobs"] == 2
    assert m["outside_jobs_ms"] == pytest.approx(80.0)


# -- streaming progress -----------------------------------------------------


def _progress(batch, rows, start, end, trigger_ms=1000, add_ms=900):
    return {
        "id": "q", "batchId": batch, "numInputRows": rows,
        "timestamp": "2026-01-01T00:00:00.500Z",
        "durationMs": {"triggerExecution": trigger_ms, "addBatch": add_ms,
                       "latestOffset": 1},
        "sources": [{"startOffset": json.dumps(start), "endOffset": end}],
    }


def test_streaming_metrics_from_progress():
    prog = [
        _progress(0, 10, {"0": 0}, {"0": 10}, 1000, 900),
        _progress(1, 0, {"0": 10}, {"0": 10}, 5, 0),
        _progress(2, 30, {"0": 10}, {"0": 40}, 3000, 2800),
    ]
    m = tracing.streaming_metrics(prog, backlogs=[5, 0, 12])
    assert m["streaming.epochs"] == 3
    assert m["streaming.nonempty_epoch_fraction"] == pytest.approx(2 / 3)
    assert m["streaming.rows_per_epoch"] == 20
    assert m["streaming.triggerExecution_ms"] == 2000
    assert m["streaming.addBatch_ms"] == 1850
    assert m["streaming.getBatch_ms"] == 0
    assert m["streaming.backlog_events_max"] == 12
    assert tracing.offsets_of(prog[2], "startOffset") == {0: 10}
    assert tracing.offsets_of(prog[2], "endOffset") == {0: 40}


def test_progress_end_time_adds_trigger_duration():
    p = _progress(0, 1, {}, {}, trigger_ms=1500)
    # 2026-01-01T00:00:00.500Z is 1767225600.5
    assert tracing.progress_end_time(p) == pytest.approx(1767225602.0)


# -- digests ----------------------------------------------------------------


def test_digest_ignores_column_and_row_order():
    a = pd.DataFrame({"id": [2, 1], "name": ["b", "a"]})
    b = pd.DataFrame({"name": ["a", "b"], "id": [1, 2]})
    assert digest(a) == digest(b)


def test_digest_tolerates_float_noise_but_not_value_changes():
    a = pd.DataFrame({"x": [0.1 + 0.2, 1.0 / 3.0]})
    b = pd.DataFrame({"x": [0.3, 0.333333333333]})
    c = pd.DataFrame({"x": [0.3, 0.3334]})
    assert digest(a) == digest(b)
    assert digest(a) != digest(c)


def test_digest_separates_integer_from_float_columns():
    ints = pd.DataFrame({"n": [1, 2]})
    floats = pd.DataFrame({"n": [1.0, 2.0]})
    assert digest(ints) != digest(floats)


def test_digest_nulls_and_negative_zero():
    a = pd.DataFrame({"x": [None, -0.0], "s": [None, "k"]})
    b = pd.DataFrame({"x": [math.nan, 0.0], "s": [None, "k"]})
    assert digest(a) == digest(b)
    cols, rows = canonical_rows(a)
    assert cols == ["s", "x"]
    assert ("null", "null") in rows


def test_digest_rejects_non_scalar_cells():
    with pytest.raises(TypeError):
        digest(pd.DataFrame({"v": [[1, 2]]}))


# -- pubsub_smoke expected bytes --------------------------------------------


def test_smoke_expected_bytes_match_the_selector():
    from mofka_spark.functions.views import DataDescriptor

    from perfbench.workloads import (SMOKE, smoke_expected_bytes,
                                     smoke_inputs, smoke_selector)

    metas, payloads = smoke_inputs(seed=3, cycle=0, n=50)
    assert all(len(m) == SMOKE["fields"] for m in metas)
    assert smoke_inputs(3, 0, 50) == (metas, payloads)
    assert smoke_inputs(4, 0, 50) != (metas, payloads)
    picked = 0
    for m, p in zip(metas, payloads):
        sel = smoke_selector(m, DataDescriptor.identity(len(p)))
        got = sel.apply(p) if sel.segments else b""
        assert got == smoke_expected_bytes(m, p)
        picked += bool(got)
    assert 0 < picked < 50


# -- BENCHMARK.json ---------------------------------------------------------


def test_benchmark_json_names_what_the_workloads_report():
    import os

    from perfbench.workloads import WORKLOADS, per_layer_names

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    # pubsub_smoke runs by hand only: its spread exceeds the bounds
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS) - {
        "pubsub_smoke"}
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "latency_p50_ms", "latency_tail_ms", "unit_work_s"}
