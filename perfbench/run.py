"""Run one benchmark workload and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

The run happens in a worker process with its own scratch root under
``perfbench/_runs/``: inputs, replay chunks, checkpoints, Spark local
and warehouse dirs, the event log and the sink output all land there.
This process enforces a hard time limit, stops every process the worker
started, and prints a readable summary followed by one JSON line:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.
"""

from __future__ import annotations

import time

T0 = time.time()  # process start: setup_s is measured from here

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END, LAYER_METRICS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# A run must end within 180 s: the worker gets this much, reaping at
# most 15 s more.
TIME_LIMIT_S = 150

# Run-dir entries removed after a run; the result, spans, event log and
# worker log stay for inspection until the next run of the same key.
SCRATCH = ("inputs", "replay", "sink", "tmp", "ckpt", "spark_local", "stream_cache", "warehouse", "derby")


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="input scale factor (tests use 0.001)")
    a = ap.parse_args(argv)
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    return a


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(name))
    return pids


def reap(pgid: int, grace_s: float = 5.0) -> None:
    """Stop every process of the worker's process group (the worker, the
    Spark JVM and its Python workers) and wait until all have ended."""
    for sig, wait in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait
        while _group_pids(pgid) and time.time() < deadline:
            time.sleep(0.1)
        if not _group_pids(pgid):
            return
    raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def isolated_env(root: str, run_dir: str, nproc: int) -> dict:
    env = dict(os.environ)
    for sub in ("tmp", "ckpt", "spark_local", "stream_cache"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark_local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        STREAMINGDEMO_STREAM_CACHE=os.path.join(run_dir, "stream_cache"),
        STREAMINGDEMO_CKPT_ROOT=os.path.join(run_dir, "ckpt"),
        # Every JVM (Spark's launcher too): temp files and Derby in the run
        # dir, and no hsperfdata file, which HotSpot always puts in /tmp.
        JAVA_TOOL_OPTIONS=" ".join(
            o for o in (
                env.get("JAVA_TOOL_OPTIONS"),
                "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
            ) if o
        ),
    )
    return env


def metrics_of(result: dict) -> dict:
    """The final line's metrics: end-to-end untraced, per-layer traced."""
    if result["trace"]:
        return {k: {"value": result["layers"][k], "unit": u} for k, u in LAYER_METRICS.items()}
    values = {
        "setup_s": result["setup_s"],
        "pass_s": result["pass_s"]["p50"],
        "item_s.geomean": result["item_s"]["geomean"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def summary_lines(result: dict) -> list[str]:
    box = result["box"]
    out = [
        f"# {result['workload']} seed={result['seed']} trace={result['trace']} "
        f"nproc={box['nproc']} SPARK_GRAFT_CPUS={box['spark_graft_cpus']} "
        f"spark={box['spark']} python={box['python']}",
        f"# items: {' '.join(result['items'])}",
        f"# fail_frac {result['failed'] / result['attempted']:.4f} ratio "
        f"(failed={result['failed']} attempted={result['attempted']})",
    ]
    out += [f"# error: {e}" for e in result["errors"]]
    if result["trace"]:
        for k, u in LAYER_METRICS.items():
            out.append(f"# {k} {result['layers'][k]:.6g} {u}")
        cols = ("wall_s", "build_s", "build_jobs", "drain_s", "jobs", "tasks", "python_s", "batches")
        out.append("# item " + " ".join(cols))
        for item, p in result["item_profiles"].items():
            out.append(f"# {item} " + " ".join(f"{p[c]:.4g}" for c in cols))
        return out
    ps, it = result["pass_s"], result["item_s"]
    out += [
        f"# setup_s {result['setup_s']:.4f} s (n=1)",
        f"# pass_s {ps['p50']:.4f} s (q1={ps.get('q1', ps['p50']):.4f} "
        f"q3={ps.get('q3', ps['p50']):.4f} n={ps['n']})",
        f"# item_s.geomean {it['geomean']:.4f} s (n={len(result['items'])} item medians "
        f"over {ps['n']} passes)",
        f"# item_s.p50 {it['p50']:.4f} s (n={it['n']})",
        "# item_s.p90 "
        + (f"{it['p90']:.4f} s" if it["p90"] is not None else "not reported")
        + f" (n={it['n']}; reported at >= 10 samples beyond it)",
        f"# peak_rss_mb {result['peak_rss_mb']:.1f} MB (n=1)",
        f"# host_steal_share {result['steal_share']:.4f} ratio (diagnostic; median over "
        f"{result['pass_s']['n']} untraced passes)",
    ]
    if "stream_rows_per_s" in result:
        s = result["stream_rows_per_s"]
        out.append(f"# stream_rows_per_s {s['value']:.1f} rows/s (n={s['n']})")
    return out


def main(argv=None) -> int:
    a = _args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "streamingdemo_spark")):
        print("run from the repository root: streamingdemo_spark/ not found", file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, "_runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    nproc = len(os.sched_getaffinity(0))
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--sf", str(a.sf), "--repo", root, "--t0", repr(T0),
    ]
    # A terminated run still reaps the worker's processes (the finally
    # below); SystemExit carries the usual 128 + signal exit code.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=isolated_env(root, run_dir, nproc),
            stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, TIME_LIMIT_S - (time.time() - T0)))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            reap(proc.pid)
            proc.wait()
    for sub in SCRATCH:
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "worker.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"worker failed ({rc}); log: {run_dir}/worker.log", file=sys.stderr)
        return 1
    with open(result_path) as fh:
        result = json.load(fh)
    print("\n".join(summary_lines(result)))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics_of(result),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
