"""One benchmark run in a fresh process (started by ``run.py``).

Order of work: start the session, build the input dir, run every
item once untimed and check its full result against its oracle, run one
more untimed warm-up pass, then run timed passes over the items until
``--seconds`` have elapsed. Every later execution's drain digest must
equal the checked one. The result goes to ``result.json`` in the run
directory, which is also the working directory.

With ``--trace 1`` the timed passes alternate between traced (spans on)
and untraced; the Spark event log and the streaming listener are on for
the whole timed phase, and the log is parsed after the session stops.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import inputs
import stats
from tracing import ProgressListener, Tracer, layer_of, parse_event_log, per_layer
from workloads import PIPELINE_ORACLES, STREAM_SPEC_ORACLE, WORKLOADS, Item

STREAM_CHUNKS = 8
# One data micro-batch per replay: a second costs about as much again
# (planning, state and WAL commits are per batch), and the stream keys
# already run several batches each.
STREAM_FILES_PER_TRIGGER = 8
# Timed passes a run makes at least: the first after the warm-up pass
# still runs about 10% slower than later ones, and the median of three
# leaves it out.
MIN_TIMED_PASSES = 3


def _args(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--repo", required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch of process start")
    return ap.parse_args(argv)


def digest(pdf) -> list[int]:
    """Row count and an order-insensitive hash over all columns of a
    drained result."""
    import pandas as pd

    h = pd.util.hash_pandas_object(pdf[sorted(pdf.columns)], index=False)
    return [len(pdf), int(h.sum())]


def write_stream_chunks(in_dir: str, out_dir: str) -> str:
    """The events table in (ts, event_id) order as mod-time-ordered
    parquet chunks: the replay a file-stream source reads."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    t = pq.read_table(os.path.join(in_dir, "events.parquet"))
    t = t.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    per = -(-t.num_rows // STREAM_CHUNKS)
    base = time.time() - STREAM_CHUNKS
    for i in range(STREAM_CHUNKS):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(t.slice(i * per, per), path)
        os.utime(path, (base + i, base + i))
    return out_dir


class Runner:
    """Executes items through the program's public calls."""

    def __init__(self, spark, items: list[Item], repo: str, in_dir: str, work_dir: str,
                 tracer: Tracer):
        from streamingdemo_spark.operators.spec_io import load_spec
        from streamingdemo_spark.registry import QUERIES
        from streamingdemo_spark.streaming.sources import EVENTS_SCHEMA

        self.spark, self.in_dir, self.work_dir, self.tracer = spark, in_dir, work_dir, tracer
        self.queries = QUERIES
        self.specs = {
            i.id: self._with_sink(load_spec(os.path.join(repo, "examples", i.ref)), i.id)
            for i in items
            if i.kind == "pipeline"
        }
        if any(i.kind == "stream_spec" for i in items):
            self.specs["stream_spec"] = {"operators": [
                {
                    "name": "events",
                    "op": "stream_parquet_source",
                    "params": {
                        "path": write_stream_chunks(in_dir, os.path.join(work_dir, "replay")),
                        "schema": EVENTS_SCHEMA,
                        "max_files_per_trigger": STREAM_FILES_PER_TRIGGER,
                    },
                },
                {"name": "screen", "op": "anomaly_screen", "inputs": {"in": "events.out"}},
            ]}
        self.runlog: list[dict] = []

    def _with_sink(self, spec: dict, item_id: str) -> dict:
        ops = [_substitute(op, self.in_dir) for op in spec["operators"]]
        consumed = {a for op in ops for a in (op.get("inputs") or {}).values()}
        (terminal,) = [f"{op['name']}.out" for op in ops if f"{op['name']}.out" not in consumed]
        ops.append(
            {
                "name": "bench_sink",
                "op": "parquet_sink",
                "params": {"path": self.sink_path(item_id), "mode": "overwrite"},
                "inputs": {"in": terminal},
            }
        )
        return {"operators": ops}

    def sink_path(self, item_id: str) -> str:
        return os.path.join(self.work_dir, "sink", item_id)

    def execute(self, item: Item):
        """Run one item and drain its result to the client; returns the
        result as a pandas frame."""
        span = self.tracer.span
        if item.kind == "query":
            with span("build"):
                df = self.queries[item.ref](self.spark, self.in_dir)
        elif item.kind == "pipeline":
            self._compose(self.specs[item.id], item.id)
            df = self.spark.read.parquet(self.sink_path(item.id))
        else:
            ports = self._compose(self.specs["stream_spec"], item.id)
            from streamingdemo_spark.streaming.runner import run_to_memory

            with span("replay"):
                df = run_to_memory(ports["screen.out"], output_mode="update")
        with span("drain"):
            return df.toPandas()

    def _compose(self, spec: dict, item_id: str):
        from streamingdemo_spark.operators import run_pipeline
        from streamingdemo_spark.operators.graph import PipelineGraph

        log_path = os.path.join(self.work_dir, "runlog.jsonl")
        with self.tracer.span("graph"):
            PipelineGraph(spec)
        with self.tracer.span("compose"):
            ports = run_pipeline(self.spark, spec, job_id=item_id, log_path=log_path)
            with open(log_path) as fh:
                entries = [json.loads(line) for line in fh if line.strip()]
            sink_s = sum(e["elapsed_ms"] for e in entries if e["operator"] == "bench_sink") / 1e3
            if sink_s:
                now = time.time()
                self.tracer.add("sink", now - sink_s, now)
        if self.tracer.enabled:
            self.runlog.append({"item": item_id, "t": time.time(), "entries": entries})
        return ports


def _substitute(node, sf_dir: str):
    if isinstance(node, str):
        return node.replace("{sf_dir}", sf_dir)
    if isinstance(node, dict):
        return {k: _substitute(v, sf_dir) for k, v in node.items()}
    if isinstance(node, list):
        return [_substitute(v, sf_dir) for v in node]
    return node


def numeric_rows_equal(pdf, table) -> bool | None:
    """Exact order-insensitive comparison of a drained result with an
    oracle's Arrow table, vectorised, for results whose columns are all
    bool, signed integer or float of the same kind on both sides (integer
    columns without nulls). Its outcome is that of the row-wise
    ``oracle_compare`` comparison, which needs seconds of Python per
    100k rows; None when a column falls outside these types."""
    import numpy as np
    import pyarrow as pa

    cols = sorted(pdf.columns)
    if cols != sorted(table.column_names) or len(set(cols)) != len(cols):
        return None
    got, want = [], []
    for c in cols:
        t, a = table.column(c), pdf[c].to_numpy()
        kind = (
            "b" if pa.types.is_boolean(t.type)
            else "i" if pa.types.is_signed_integer(t.type)
            else "f" if pa.types.is_floating(t.type)
            else None
        )
        if kind is None or a.dtype.kind != kind or (kind != "f" and t.null_count):
            return None
        cast = {"b": bool, "i": np.int64, "f": np.float64}[kind]
        got.append(a.astype(cast))
        want.append(t.to_pandas().to_numpy().astype(cast))
    if len(pdf) != table.num_rows:
        return False
    # lexsort orders NaN last and ties only rows that compare equal, so
    # equal multisets of rows sort to equal sequences.
    g, w = np.lexsort(got[::-1]), np.lexsort(want[::-1])
    return all(
        np.array_equal(x[g], y[w], equal_nan=x.dtype.kind == "f") for x, y in zip(got, want)
    )


class Checker:
    """Full-result comparison with DuckDB oracles over the input dir."""

    def __init__(self, in_dir: str):
        import duckdb

        import oracle_compare
        from streamingdemo_spark.io import TABLES
        from streamingdemo_spark.registry import resolve_oracles

        # One thread: the comparisons overlap Spark's work on 4 cores.
        self.con = duckdb.connect(config={"threads": 1})
        for t in TABLES:
            path = os.path.join(in_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.oracles = resolve_oracles(in_dir)
        self.oc = oracle_compare

    def sql(self, item: Item) -> str:
        if item.kind == "pipeline":
            return PIPELINE_ORACLES[item.ref]
        key = STREAM_SPEC_ORACLE if item.kind == "stream_spec" else item.ref
        if key not in self.oracles:
            raise KeyError(f"{item.id}: no oracle for {key}")
        return self.oracles[key]

    def rows(self, pdf) -> tuple[list[str], list[tuple]]:
        """``oracle_compare.spark_rows`` over an already drained result."""
        cols = sorted(pdf.columns)
        rows = [tuple(self.oc._norm(v) for v in r) for r in pdf[cols].itertuples(index=False)]
        return cols, sorted(rows, key=self.oc._sort_key)

    def check(self, item: Item, pdf) -> None:
        same = numeric_rows_equal(pdf, self.con.execute(self.sql(item)).fetch_arrow_table())
        if same is not None:
            if not same:
                raise AssertionError(f"{item.id}: rows differ from the oracle's")
            return
        got = self.rows(pdf)
        want = self.oc.duck_rows(self.con, self.sql(item))
        if got[0] != want[0]:
            raise AssertionError(f"{item.id}: columns {got[0]} vs oracle {want[0]}")
        if got[1] != want[1]:
            raise AssertionError(
                f"{item.id}: {len(got[1])} rows differ from the oracle's {len(want[1])}"
            )


def _procs():
    """(pid, fields after the command name) of every process in /proc."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    yield int(name), fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of all CPUs from /proc/stat. Steal is time the
    hypervisor gave to other guests while this guest's CPUs wanted to run."""
    with open("/proc/stat") as fh:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def jvm_peak_rss_mb() -> float:
    """VmHWM of the Spark JVM, the java process in this process group."""
    for pid, f in _procs():
        if int(f[2]) != os.getpgid(0):
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            continue
    raise RuntimeError("Spark JVM process not found")


class Client:
    """The single client: runs the items one at a time, pass after pass,
    counting every attempt and failure."""

    def __init__(self, runner: Runner, items: list[Item], tracer: Tracer):
        self.runner, self.items, self.tracer = runner, items, tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.expected: dict[str, list[int]] = {}

    def _fail(self, where: str, item: Item, exc: Exception) -> None:
        self.failed += 1
        self.errors.append(f"{where} {item.id}: {exc!r}")
        traceback.print_exc()

    def check(self, checker: "Checker") -> None:
        """One untimed pass comparing each full result with its oracle;
        the digests it records are what later passes must reproduce.
        Each comparison runs in a helper thread while Spark executes the
        next item."""
        pending = []
        with ThreadPoolExecutor(max_workers=1) as pool:
            for item in self.items:
                self.attempted += 1
                try:
                    pdf = self.runner.execute(item)
                except Exception as exc:  # noqa: BLE001 - counted; the run goes on
                    self._fail("check", item, exc)
                    continue
                pending.append((item, pdf, pool.submit(checker.check, item, pdf)))
            for item, pdf, done in pending:
                try:
                    done.result()
                    self.expected[item.id] = digest(pdf)
                except Exception as exc:  # noqa: BLE001
                    self._fail("check", item, exc)

    def run_pass(self, where: str) -> dict:
        """One pass; returns each item's wall seconds (build, execute
        and drain; the digest check is outside)."""
        rec = {"items": {}}
        busy0, steal0 = cpu_ticks()
        with self.tracer.span("pass") as pspan:
            for item in self.items:
                self.attempted += 1
                i0 = time.perf_counter()
                try:
                    with self.tracer.span("item", item=item.id):
                        pdf = self.runner.execute(item)
                    rec["items"][item.id] = time.perf_counter() - i0
                    got = digest(pdf)
                    if got != self.expected.get(item.id):
                        raise AssertionError(f"digest {got} != checked {self.expected.get(item.id)}")
                except Exception as exc:  # noqa: BLE001
                    rec["items"].setdefault(item.id, time.perf_counter() - i0)
                    self._fail(where, item, exc)
        busy1, steal1 = cpu_ticks()
        # Share of the time this guest's CPUs wanted to run that the host
        # gave to other guests: a diagnostic, since walls rise with it.
        rec["steal_share"] = (steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0)
        rec["span"] = pspan["id"] if pspan else None
        rec["wall"] = sum(rec["items"].values())
        return rec


def start_session(a, work: str):
    from streamingdemo_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if a.trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name=f"perfbench-{a.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    a = _args(argv)
    sys.path[:0] = [a.repo, os.path.join(a.repo, "tests")]
    work = os.getcwd()
    tracer = Tracer(False)

    t = time.time()
    import pyspark

    import streamingdemo_spark.extensions  # noqa: F401  (these imports register
    import streamingdemo_spark.plans  # noqa: F401       the registry keys)
    import streamingdemo_spark.streaming.queries  # noqa: F401
    from streamingdemo_spark.registry import QUERIES

    spark = start_session(a, work)
    session = {"start_s": time.time() - t}

    t = time.time()
    in_dir = inputs.make_inputs(os.path.join(work, "inputs"), a.seed, a.sf)
    items = list(WORKLOADS[a.workload])
    random.Random(a.seed).shuffle(items)
    runner = Runner(spark, items, a.repo, in_dir, work, tracer)
    checker = Checker(in_dir)
    session["input_prep_s"] = time.time() - t

    client = Client(runner, items, tracer)
    t = time.time()
    client.check(checker)
    # The checking pass leaves the JIT and Spark's codegen cache half
    # warm: the pass after it still runs 10-40% slower than later ones.
    client.run_pass("warm-up")
    session["warmup_s"] = time.time() - t

    listener = ProgressListener()
    if a.trace:
        # Attached for all timed passes: its events arrive asynchronously,
        # so detaching after a pass could drop that pass's last batches.
        spark.streams.addListener(listener)
    passes: list[dict] = []
    t_first = time.time()
    setup_s = t_first - a.t0
    while True:
        tracer.enabled = bool(a.trace) and len(passes) % 2 == 0
        passes.append({"traced": tracer.enabled, **client.run_pass(f"pass {len(passes)}")})
        untraced = [p for p in passes if not p["traced"]]
        if len(passes) >= MIN_TIMED_PASSES and untraced and time.time() - t_first >= a.seconds:
            break
    tracer.enabled = False

    peak_rss = jvm_peak_rss_mb()
    batches = listener.snapshot()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    result = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "sf": a.sf,
        "box": {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        },
        "attempted": client.attempted,
        "failed": client.failed,
        "errors": client.errors[:20],
        "items": [i.id for i in items],
        "session": session,
        "setup_s": setup_s,
        "passes": passes,
        "peak_rss_mb": peak_rss,
        "steal_share": statistics.median(p["steal_share"] for p in untraced),
        "pass_s": stats.summary([p["wall"] for p in untraced]),
        "item_s": stats.summary([v for p in untraced for v in p["items"].values()]),
    }
    # The geometric mean is over each item's median across passes, so a
    # pass that is slow throughout (the first after warm-up usually runs
    # about 10% slower) weighs on it no more than on pass_s.
    result["item_s"]["geomean"] = stats.summary(
        [statistics.median(p["items"][i.id] for p in untraced) for i in items]
    )["geomean"]
    spec_items = [i.id for i in items if i.kind == "stream_spec"]
    if spec_items:
        result["stream_rows_per_s"] = _spec_rows_per_s(untraced, spec_items[0], in_dir)
    if a.trace:
        log = parse_event_log(os.path.join(work, "eventlog", app_id))
        layers = {
            i.id: layer_of(i.kind, QUERIES[i.ref].__module__ if i.kind == "query" else None)
            for i in items
        }
        result["layers"], result["item_profiles"] = per_layer(
            tracer.spans, passes, log, batches, runner.runlog, layers, session,
            result["box"]["nproc"],
        )
        self_s = stats.self_time(tracer.spans)
        for s in tracer.spans:
            s["self_s"] = self_s[s["id"]]
        with open(os.path.join(work, "spans.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "batches": batches, "runlog": runner.runlog}, fh)
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    return 0


def _spec_rows_per_s(passes: list[dict], item_id: str, in_dir: str) -> dict:
    """Input rows replayed per second of wall, over the stream-spec item
    (its input is the whole events table)."""
    import pyarrow.parquet as pq

    rows = pq.read_metadata(os.path.join(in_dir, "events.parquet")).num_rows
    walls = [p["items"][item_id] for p in passes]
    return {"value": rows / statistics.median(walls), "n": len(walls)}


if __name__ == "__main__":
    sys.exit(main())
