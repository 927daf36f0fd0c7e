"""Names and units of the metrics the benchmark reports.

End-to-end metrics come from untraced runs and carry a bound in
``BENCHMARK.json``; per-layer metrics come from traced runs.
"""

END_TO_END = {"setup_s": "s", "pass_s": "s", "item_s.geomean": "s"}

# durationMs phases of a micro-batch, by the metric that sums them.
PHASES = {
    "planning_ms": "queryPlanning",
    "get_batch_ms": "getBatch",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
}
BUILD_LAYERS = ("plans", "extensions", "streaming")
# Every per-layer metric, with its unit, in report order.
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.input_prep_s": "s",
    **{f"{layer}.{m}": u for layer in BUILD_LAYERS for m, u in (("build_s", "s"), ("build_jobs", "count"))},
    "io.input_b": "B",
    "io.input_records": "count",
    "exec.drain_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.task_wait_s": "s",
    "exec.busy_frac": "ratio",
    "exec.shuffle_read_b": "B",
    "exec.shuffle_write_b": "B",
    "exec.spill_b": "B",
    "exec.output_b": "B",
    "exec.python_in_b": "B",
    "exec.python_out_b": "B",
    "exec.python_s": "s",
    "operators.graph_s": "s",
    "operators.compose_s": "s",
    "operators.runlog_s": "s",
    "operators.compose_jobs": "count",
    "operators.sink_s": "s",
    "operators.ops": "count",
    "streaming.replay_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms.p50": "ms",
    "streaming.batch_ms.tail": "ms",
    **{f"streaming.{m}": "ms" for m in PHASES},
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_b": "B",
    "streaming.rows_per_s": "rows/s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
