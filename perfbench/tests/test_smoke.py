"""sf0.001 smoke of every workload through the real command.

Each workload runs traced (which also times untraced passes); one
workload also runs untraced to pin the end-to-end line. The traced runs'
event logs and listener records feed the parsing and capture checks.
"""

import json
import os
import subprocess
import sys

import pytest

import tracing
from metrics import END_TO_END, LAYER_METRICS
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), os.path.join(
        HERE, "_runs", f"{workload}-s{seed}-t{trace}"
    )


@pytest.fixture(scope="module", params=sorted(WORKLOADS))
def traced(request):
    return request.param, *_run(request.param, 3, 1)


def test_traced_run_is_correct_and_reports_every_layer(traced):
    workload, line, run_dir = traced
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    assert set(line["metrics"]) == set(LAYER_METRICS)
    for name, m in line["metrics"].items():
        assert m["unit"] == LAYER_METRICS[name]
        assert isinstance(m["value"], (int, float))
    with open(os.path.join(run_dir, "spans.json")) as fh:
        spans = json.load(fh)["spans"]
    assert {"pass", "item", "drain"} <= {s["name"] for s in spans}
    assert all(s["end"] >= s["start"] for s in spans)


def test_event_log_parses_and_attributes_jobs(traced):
    workload, line, run_dir = traced
    (name,) = os.listdir(os.path.join(run_dir, "eventlog"))
    log = tracing.parse_event_log(os.path.join(run_dir, "eventlog", name))
    assert log["jobs"] and log["tasks"]
    assert all(t["job"] in log["jobs"] for t in log["tasks"])
    everything = tracing.exec_profile(log, set(log["jobs"]))
    assert everything["tasks"] == len(log["tasks"]) and everything["run_s"] > 0
    assert line["metrics"]["exec.jobs"]["value"] >= 1
    assert line["metrics"]["exec.jobs"]["value"] < len(log["jobs"])  # traced passes only


def test_layer_expectations(traced):
    workload, line, run_dir = traced
    m = {k: v["value"] for k, v in line["metrics"].items()}
    with open(os.path.join(run_dir, "result.json")) as fh:
        profiles = json.load(fh)["item_profiles"]
    if workload == "batch":
        assert m["plans.build_s"] > 0 and m["streaming.batches"] == 0 and m["operators.ops"] == 0
        # k-means iterates to its fixpoint inside the builder call.
        assert profiles["ext_cluster_kmeans"]["build_jobs"] > 0
        assert m["extensions.build_jobs"] > 0 and m["exec.python_s"] > 0
        # The relational keys launch no Python workers.
        for key in ("flagship_q3", "win_sessionize", "sort_limit_topk"):
            assert profiles[key]["python_s"] == 0
    if workload == "pipeline_stream":
        assert m["operators.ops"] > 0 and m["operators.sink_s"] > 0
        assert m["streaming.batches"] > 0 and m["streaming.input_rows"] > 0
        assert m["streaming.add_batch_ms"] > 0 and m["streaming.wal_commit_ms"] > 0
        # The stream keys run their replay inside the builder call.
        assert m["streaming.build_s"] > 0 and m["streaming.build_jobs"] > 0
        assert profiles["snk_stream_parquet"]["batches"] > 0


def test_listener_matches_progress_in_event_log(traced):
    """Every batch the listener kept is a progress event Spark logged."""
    workload, _, run_dir = traced
    with open(os.path.join(run_dir, "spans.json")) as fh:
        batches = json.load(fh)["batches"]
    (name,) = os.listdir(os.path.join(run_dir, "eventlog"))
    logged = {}
    with open(os.path.join(run_dir, "eventlog", name)) as fh:
        for raw in fh:
            e = json.loads(raw)
            if e["Event"].endswith("QueryProgressEvent"):
                p = e["progress"]
                logged[(p["runId"], p["batchId"])] = p["durationMs"]
    # Every pass starts its streams afresh: names and batch ids repeat,
    # run ids do not.
    for b in batches:
        assert logged[(b["run_id"], b["batch_id"])] == b["duration_ms"]
    assert bool(batches) == (workload == "pipeline_stream")


def test_untraced_line_has_end_to_end_metrics():
    line, run_dir = _run("batch", 4, 0)
    assert line["correct"] and line["failed"] == 0
    assert set(line["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in line["metrics"].values())
    with open(os.path.join(run_dir, "result.json")) as fh:
        box = json.load(fh)["box"]
    assert box["nproc"] == len(os.sched_getaffinity(0)) == int(box["spark_graft_cpus"])
