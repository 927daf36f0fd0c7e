"""Tracing for the traced run: spans at the benchmark's call
boundaries, Spark event-log parsing, and a streaming progress listener.

Spans and progress records stay in memory until the run ends. Times are
epoch seconds, the clock Spark stamps its events with, so a job is
attributed to the item whose span window holds its submission time: a
single client runs items one at a time, and micro-batch jobs do not
carry the caller's job group.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

import stats
from metrics import BUILD_LAYERS, LAYER_METRICS, PHASES


class Tracer:
    """Nested spans: name, start, end, parent and item id. A disabled
    tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, item: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "item": item if item is not None else self._item(),
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured by the program (e.g. the sink inside a
        pipeline run) under the currently open span."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                {"id": len(self.spans), "name": name, "parent": parent,
                 "item": self._item(), "start": start, "end": end}
            )

    def _item(self) -> str | None:
        return self.spans[self._stack[-1]]["item"] if self._stack else None


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's ``durationMs`` phases, input rows and
    state-operator metrics for every streaming query of the session."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.record(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def record(self, p: dict) -> None:
        ops = p.get("stateOperators") or []
        rec = {
            "query": p.get("name"),
            "run_id": p.get("runId"),
            "batch_id": p.get("batchId"),
            "t": _iso_epoch(p["timestamp"]),
            "duration_ms": dict(p.get("durationMs") or {}),
            "input_rows": int(p.get("numInputRows") or 0),
            "state_rows": sum(int(o.get("numRowsTotal") or 0) for o in ops),
            "state_mem_b": sum(int(o.get("memoryUsedBytes") or 0) for o in ops),
        }
        with self._lock:
            self.batches.append(rec)

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.batches)


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# Task metrics summed per item, keyed by the event log's own field path.
_TASK_FIELDS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "deser_ms": ("Executor Deserialize Time",),
    "result_ser_ms": ("Result Serialization Time",),
    "input_b": ("Input Metrics", "Bytes Read"),
    "input_records": ("Input Metrics", "Records Read"),
    "output_b": ("Output Metrics", "Bytes Written"),
    "shuffle_local_b": ("Shuffle Read Metrics", "Local Bytes Read"),
    "shuffle_remote_b": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_write_b": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "spill_b": ("Disk Bytes Spilled",),
}
# SQL metrics of the Arrow/pandas evaluation nodes (ArrowEvalPython,
# FlatMapGroupsInPandas, ...), named in each task's accumulables.
_PYTHON_ACCUMS = {
    "data sent to Python workers": "python_in_b",
    "data returned from Python workers": "python_out_b",
    "time to run Python workers": "python_ms",
}


def _dig(d: dict, path: tuple) -> float:
    for k in path:
        d = d.get(k) or {}
    return float(d) if not isinstance(d, dict) else 0.0


def parse_event_log(path: str) -> dict:
    """Jobs (submission time), completed stages and task metrics from a
    plain-JSON Spark event log; stages and tasks carry their job id."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: list[dict] = []
    tasks: list[dict] = []
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {"t": e["Submission Time"] / 1e3}
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerStageCompleted":
                stages.append({"stage_id": e["Stage Info"]["Stage ID"]})
            elif kind == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                rec = {k: _dig(tm, p) for k, p in _TASK_FIELDS.items()}
                rec.update({v: 0.0 for v in _PYTHON_ACCUMS.values()})
                for acc in ti.get("Accumulables", []):
                    key = _PYTHON_ACCUMS.get(acc.get("Name"))
                    if key:
                        rec[key] += float(acc.get("Update") or 0)
                rec.update(
                    stage_id=e["Stage ID"],
                    failed=bool(ti.get("Failed")),
                    wall_ms=ti["Finish Time"] - ti["Launch Time"],
                )
                tasks.append(rec)
    for s in stages:
        s["job"] = stage_job.get(s["stage_id"])
    for t in tasks:
        t["job"] = stage_job.get(t["stage_id"])
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def exec_profile(log: dict, job_ids: set[int]) -> dict:
    """Executor work of a set of jobs, in the units the per-layer
    metrics report."""
    tasks = [t for t in log["tasks"] if t["job"] in job_ids]

    def total(key: str) -> float:
        return sum(t[key] for t in tasks)

    # Scheduler delay: task wall not spent deserializing, running or
    # serializing the result.
    wait_ms = sum(
        max(0.0, t["wall_ms"] - t["run_ms"] - t["deser_ms"] - t["result_ser_ms"])
        for t in tasks
    )
    return {
        "jobs": len(job_ids),
        "stages": sum(1 for s in log["stages"] if s["job"] in job_ids),
        "tasks": len(tasks),
        "failed_tasks": sum(1 for t in tasks if t["failed"]),
        "run_s": total("run_ms") / 1e3,
        "cpu_s": total("cpu_ns") / 1e9,
        "gc_s": total("gc_ms") / 1e3,
        "task_wait_s": wait_ms / 1e3,
        "shuffle_read_b": total("shuffle_local_b") + total("shuffle_remote_b"),
        "shuffle_write_b": total("shuffle_write_b"),
        "spill_b": total("spill_b"),
        "output_b": total("output_b"),
        "input_b": total("input_b"),
        "input_records": total("input_records"),
        "python_in_b": total("python_in_b"),
        "python_out_b": total("python_out_b"),
        "python_s": total("python_ms") / 1e3,
    }


def jobs_in(log: dict, start: float, end: float) -> set[int]:
    """Ids of jobs submitted inside [start, end] (epoch seconds)."""
    return {j for j, rec in log["jobs"].items() if start <= rec["t"] <= end}


# Events are stamped in whole milliseconds; a job submitted right after
# a span opened may carry a stamp up to 1 ms before the span's start.
SLACK_S = 0.002


def layer_of(kind: str, builder_module: str | None) -> str:
    """The repo module an item's builder call lives in: ``plans``,
    ``extensions`` or ``streaming`` for registry keys, ``operators``
    for container specs."""
    if kind != "query":
        return "operators"
    return builder_module.split(".")[1]


def _dur(span: dict | None) -> float:
    return span["end"] - span["start"] if span else 0.0


def _jobs(log: dict, span: dict | None) -> set[int]:
    return jobs_in(log, span["start"] - SLACK_S, span["end"]) if span else set()


def item_profile(span: dict, kids: dict, log: dict, batches: list[dict],
                 runlog: list[dict], layer: str) -> dict:
    """Everything one traced item execution did, by layer."""
    sub = {s["name"]: s for s in kids.get(span["id"], [])}
    comp = sub.get("compose")
    sink = next((s for s in kids.get(comp["id"], []) if s["name"] == "sink"), None) if comp else None
    lo, hi = span["start"] - SLACK_S, span["end"]
    mine = [b for b in batches if lo <= b["t"] <= hi]
    entries = [e for r in runlog if lo <= r["t"] <= hi for e in r["entries"]]
    prof = exec_profile(log, _jobs(log, span))
    prof.update(
        layer=layer,
        wall_s=_dur(span),
        build_s=_dur(sub.get("build")),
        build_jobs=len(_jobs(log, sub.get("build"))),
        drain_s=_dur(sub.get("drain")),
        graph_s=_dur(sub.get("graph")),
        compose_s=_dur(comp),
        compose_jobs=len(_jobs(log, comp) - _jobs(log, sink)),
        sink_s=_dur(sink),
        runlog_s=sum(e["elapsed_ms"] for e in entries) / 1e3,
        ops=len(entries),
        # A stream runs in the replay call of a container spec, or
        # inside the builder call of a streaming registry key.
        replay_s=_dur(sub.get("replay")) if "replay" in sub else (_dur(sub.get("build")) if mine else 0.0),
        batches=len(mine),
        input_rows=sum(b["input_rows"] for b in mine),
        state_rows=max((b["state_rows"] for b in mine), default=0),
        state_mem_b=max((b["state_mem_b"] for b in mine), default=0),
        **{m: sum(b["duration_ms"].get(p, 0) for b in mine) for m, p in PHASES.items()},
    )
    return prof


_SUMMED = (
    "drain_s jobs stages tasks failed_tasks run_s cpu_s gc_s task_wait_s "
    "shuffle_read_b shuffle_write_b spill_b output_b python_in_b python_out_b python_s"
).split()


def per_layer(spans: list[dict], passes: list[dict], log: dict, batches: list[dict],
              runlog: list[dict], layers: dict[str, str], session: dict,
              cores: int) -> tuple[dict, dict]:
    """Per-layer metrics (median over traced passes of per-pass totals)
    and per-item profiles (median over traced passes)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    per_pass: list[dict] = []
    per_item: dict[str, list[dict]] = {}
    traced = [p for p in passes if p["traced"]]
    for p in traced:
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        for ispan in kids.get(p["span"], []):
            prof = item_profile(ispan, kids, log, batches, runlog, layers[ispan["item"]])
            per_item.setdefault(ispan["item"], []).append(prof)
            if prof["layer"] in BUILD_LAYERS:
                m[f"{prof['layer']}.build_s"] += prof["build_s"]
                m[f"{prof['layer']}.build_jobs"] += prof["build_jobs"]
            for k in _SUMMED:
                m[f"exec.{k}"] += prof[k]
            m["io.input_b"] += prof["input_b"]
            m["io.input_records"] += prof["input_records"]
            for k in ("graph_s", "compose_s", "runlog_s", "compose_jobs", "sink_s", "ops"):
                m[f"operators.{k}"] += prof[k]
            for k in ("replay_s", "batches", "input_rows", *PHASES):
                m[f"streaming.{k}"] += prof[k]
            m["streaming.state_rows"] = max(m["streaming.state_rows"], prof["state_rows"])
            m["streaming.state_mem_b"] = max(m["streaming.state_mem_b"], prof["state_mem_b"])
        m["exec.busy_frac"] = m["exec.run_s"] / (p["wall"] * cores)
        if m["streaming.replay_s"]:
            m["streaming.rows_per_s"] = m["streaming.input_rows"] / m["streaming.replay_s"]
        per_pass.append(m)

    out = {k: statistics.median(m[k] for m in per_pass) for k in LAYER_METRICS}
    trig = [
        b["duration_ms"].get("triggerExecution", 0)
        for p in traced
        for b in batches
        if spans[p["span"]]["start"] - SLACK_S <= b["t"] <= spans[p["span"]]["end"]
    ]
    out["streaming.batch_ms.p50"] = stats.percentile(trig, 50) or 0.0
    out["streaming.batch_ms.tail"] = stats.tail(trig) or 0.0
    for k in ("start_s", "warmup_s", "input_prep_s"):
        out[f"session.{k}"] = session[k]
    untraced = [p["wall"] for p in passes if not p["traced"]]
    out["trace.pass_s"] = statistics.median(p["wall"] for p in traced)
    out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median(untraced)
    profiles = {
        item: {k: statistics.median(r[k] for r in rows) for k in rows[0] if k != "layer"}
        | {"layer": rows[0]["layer"]}
        for item, rows in per_item.items()
    }
    return out, profiles
