import json

import pytest

import stats
import tracing


def test_spans_nest_and_inherit_the_item():
    t = tracing.Tracer(True)
    with t.span("pass"):
        with t.span("item", item="q1"):
            with t.span("build"):
                pass
            t.add("sink", 1.0, 2.0)
    names = {s["name"]: s for s in t.spans}
    assert names["pass"]["parent"] is None and names["pass"]["item"] is None
    assert names["item"]["parent"] == names["pass"]["id"]
    assert names["build"]["parent"] == names["item"]["id"]
    assert names["build"]["item"] == names["sink"]["item"] == "q1"
    assert names["sink"]["parent"] == names["item"]["id"]
    assert all(s["end"] >= s["start"] for s in t.spans)


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer(False)
    with t.span("pass") as s:
        t.add("sink", 0.0, 1.0)
    assert s is None and t.spans == []


def _progress(batch, ts, trigger, rows, state_rows):
    return {
        "name": "mem_q", "batchId": batch, "timestamp": ts, "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger, "queryPlanning": 7, "getBatch": 3,
                       "addBatch": trigger - 20, "walCommit": 5, "commitOffsets": 4,
                       "latestOffset": 1},
        "stateOperators": [{"numRowsTotal": state_rows, "memoryUsedBytes": 1000},
                           {"numRowsTotal": 1, "memoryUsedBytes": 24}],
    }


def test_listener_keeps_phases_and_state():
    lis = tracing.ProgressListener()
    lis.record(_progress(0, "2026-01-01T00:00:01.500Z", 120, 500, 40))
    lis.record(json.loads(json.dumps(_progress(1, "2026-01-01T00:00:02.000Z", 80, 250, 60))))
    b0, b1 = lis.snapshot()
    assert b0["duration_ms"]["walCommit"] == 5 and b0["duration_ms"]["triggerExecution"] == 120
    assert b0["input_rows"] == 500 and b0["state_rows"] == 41 and b0["state_mem_b"] == 1024
    assert b1["t"] - b0["t"] == pytest.approx(0.5)


def _log(tmp_path, events):
    p = tmp_path / "app"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return tracing.parse_event_log(str(p))


def _task(stage, launch, finish, run, python_ms=0, failed=False):
    acc = [{"ID": 1, "Name": "time to run Python workers", "Update": str(python_ms)}] if python_ms else []
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed,
                      "Accumulables": acc},
        "Task Metrics": {"Executor Run Time": run, "Executor CPU Time": run * 10**6,
                         "JVM GC Time": 1, "Executor Deserialize Time": 2,
                         "Result Serialization Time": 1,
                         "Input Metrics": {"Bytes Read": 100, "Records Read": 10},
                         "Shuffle Read Metrics": {"Local Bytes Read": 5, "Remote Bytes Read": 0},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                         "Disk Bytes Spilled": 0},
    }


def test_event_log_attribution_by_time_window(tmp_path):
    log = _log(tmp_path, [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Number of Tasks": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Number of Tasks": 2}},
        _task(0, 1000, 1100, 90),
        _task(2, 5000, 5050, 40, python_ms=30),
        _task(2, 5000, 5060, 40, failed=True),
    ])
    assert tracing.jobs_in(log, 0.5, 2.0) == {0}
    p = tracing.exec_profile(log, tracing.jobs_in(log, 4.0, 6.0))
    assert (p["jobs"], p["stages"], p["tasks"], p["failed_tasks"]) == (1, 1, 2, 1)
    assert p["run_s"] == pytest.approx(0.08) and p["cpu_s"] == pytest.approx(0.08)
    assert p["python_s"] == pytest.approx(0.03)
    assert p["input_records"] == 20 and p["shuffle_read_b"] == 10 and p["shuffle_write_b"] == 14
    # wall 50 and 60 ms, less run 40, deserialize 2, result serialization 1
    assert p["task_wait_s"] == pytest.approx((7 + 17) / 1e3)


def test_layer_of_names_the_builder_module():
    assert tracing.layer_of("query", "streamingdemo_spark.plans.flagship") == "plans"
    assert tracing.layer_of("query", "streamingdemo_spark.extensions.graph") == "extensions"
    assert tracing.layer_of("pipeline", None) == "operators"


def test_per_layer_aggregates_traced_passes(tmp_path):
    log = _log(tmp_path, [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_500, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 11_500, "Stage IDs": [1]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Number of Tasks": 1}},
        _task(1, 11_500, 11_600, 80),
    ])
    t = tracing.Tracer(True)
    t.spans = [
        {"id": 0, "name": "pass", "parent": None, "item": None, "start": 10.0, "end": 12.0},
        {"id": 1, "name": "item", "parent": 0, "item": "k", "start": 10.0, "end": 12.0},
        {"id": 2, "name": "build", "parent": 1, "item": "k", "start": 10.0, "end": 11.0},
        {"id": 3, "name": "drain", "parent": 1, "item": "k", "start": 11.0, "end": 12.0},
    ]
    passes = [{"traced": True, "span": 0, "wall": 2.0}, {"traced": False, "span": None, "wall": 1.5}]
    session = {"start_s": 9.0, "warmup_s": 3.0, "input_prep_s": 1.0}
    layers, profiles = tracing.per_layer(t.spans, passes, log, [], [], {"k": "plans"}, session, 4)
    assert set(layers) == set(tracing.LAYER_METRICS)
    assert layers["plans.build_jobs"] == 1 and layers["plans.build_s"] == 1.0
    assert layers["exec.jobs"] == 2 and layers["exec.drain_s"] == 1.0
    assert layers["exec.busy_frac"] == pytest.approx(0.08 / (2.0 * 4))
    assert layers["trace.overhead_s"] == pytest.approx(0.5)
    assert profiles["k"]["build_jobs"] == 1 and profiles["k"]["layer"] == "plans"
    assert stats.self_time(t.spans)[1] == pytest.approx(0.0)
