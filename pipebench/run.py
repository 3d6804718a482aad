"""Benchmark entry point.

    python3 pipebench/run.py --workload batch_throughput --seed 1 --seconds 10 --trace 0

Prints report lines, then one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). Inputs are cached under ``.pipebench/cache``;
each run's scratch space is ``.pipebench/tmp/<run>`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_throughput", "query_latency", "stream_ingest")

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "turns_per_s": "1/s",
    "cpu_s_per_op": "s",
}

# per-layer metric -> unit, in report order
LAYER_UNITS = {
    "session.start_s": "s",
    "session.python_warm_s": "s",
    "io.scan_s": "s",
    "io.input_bytes": "bytes",
    "multiline.coalesce_s": "s",
    "multiline.lines_in": "count",
    "multiline.entries_out": "count",
    "multiline.shuffle_write_bytes": "bytes",
    "parse.s": "s",
    "parse.python_udf_s": "s",
    "parse.json_ok_ratio": "ratio",
    "enrich_route.s": "s",
    "route.error_rows": "count",
    "route.tool_call_rows": "count",
    "rollups.s": "s",
    "sinks.logs_s": "s",
    "sinks.error_s": "s",
    "sinks.tool_call_s": "s",
    "sinks.conversation_metrics_s": "s",
    "sinks.bytes_per_input_byte": "ratio",
    "sinks.files": "count",
    "stream.batches": "count",
    "stream.add_batch_s": "s",
    "stream.trigger_s": "s",
    "stream.state_rows": "count",
    "stream.state_commit_s": "s",
    "stream.state_memory_mb": "MB",
}
for _q in (
    "parse_severity_counts",
    "multiline_entry_stats",
    "conversation_rollup",
    "flush_window_counts",
    "dedup_canonical",
    "leakage_split",
):
    for _k, _u in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("stages", "count")):
        LAYER_UNITS[f"query.{_q}.{_k}"] = _u
LAYER_UNITS.update(
    {
        "exec.task_cpu_s": "s",
        "exec.task_run_s": "s",
        "exec.gc_s": "s",
        "exec.shuffle_write_bytes": "bytes",
        "exec.spill_bytes": "bytes",
        "exec.jobs": "count",
        "exec.tasks": "count",
        "trace.overhead_pct": "%",
        "mem.peak_pss_mb": "MB",
    }
)
# content invariants: printed in the trace report, not returned as metrics
REPORT_ONLY = {
    "io.input_bytes",
    "multiline.lines_in",
    "multiline.entries_out",
    "parse.json_ok_ratio",
    "route.error_rows",
    "route.tool_call_rows",
    "stream.batches",
}


class Ctx:
    def __init__(self, workload, seed, seconds, tmp, cache_dir, meta):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.data_dir = os.path.join(cache_dir, "data")
        self.turns = meta["turns"]
        self.expected = meta.get("expected")
        from pipebench.harness import dir_bytes

        self.input_bytes = dir_bytes(self.data_dir)[0]


def _prepare_env(tmp: str):
    """A pinned, self-contained environment for Spark and its workers."""
    from pipebench.harness import driver_mem

    for var in (
        "OTEL_SPARK_ATTRS_FORMAT",
        "OTEL_SPARK_DICT_ENUMS",
        "OTEL_SPARK_PARSE_HYBRID",
        "OTEL_SPARK_SINK_CODEC",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_MIN_PARTITION_SIZE",
        "SPARK_GRAFT_IO_CODEC",
        "PYSPARK_SUBMIT_ARGS",
    ):
        os.environ.pop(var, None)
    os.environ["SPARK_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "pytmp")
    # every JVM (launcher and driver): no /tmp/hsperfdata, temp files in the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/jvmtmp"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def _module(workload: str):
    from pipebench import batch, querymix, stream

    return {"batch_throughput": batch, "query_latency": querymix, "stream_ingest": stream}[workload]


def _add_stream_layers(ctx, spark, tracer, traced: dict, state_dir: str):
    """The streaming layers ride on the batch workload's traced run: one
    drain of the same seed's staged files (see README: stream_ingest is not
    a driver workload)."""
    from pipebench import gen, stream

    cache_dir = gen.ensure_input(os.path.join(state_dir, "cache"), "stream_ingest", ctx.seed)
    sctx = Ctx("stream_ingest", ctx.seed, 0, ctx.tmp, cache_dir, gen.input_meta(cache_dir))
    st = stream.trace(sctx, spark, tracer)
    traced["metrics"].update({k: v for k, v in st["metrics"].items() if k.startswith("stream.")})
    traced["attempted"] += st["attempted"]
    traced["failed"] += st["failed"]


def end_to_end(setup: dict, m: dict) -> dict:
    from pipebench.stats import median

    vals = {
        "setup_s": setup["setup_s"],
        "op_p50_s": median(m["samples"]),
        "turns_per_s": m["turns"] / m["wall_s"],
        "cpu_s_per_op": m["cpu_s"] / m["attempted"],
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def per_layer(ctx, setup: dict, untraced: dict, traced: dict, events: list) -> tuple[dict, list]:
    """All per-layer metrics; layers the workload does not call are 0 and
    listed in the second return value."""
    from pipebench.stats import exec_totals, median

    vals = {
        "session.start_s": setup["session.start_s"],
        "session.python_warm_s": setup["session.python_warm_s"],
        "mem.peak_pss_mb": untraced["peak_pss_mb"],
        "trace.overhead_pct": 100 * (median(traced["op_walls"]) / median(untraced["samples"]) - 1),
        **traced["metrics"],
    }
    n_ops = len(traced["op_walls"])
    for k, v in exec_totals(events, traced["op_windows"]).items():
        if f"exec.{k}" in LAYER_UNITS:
            vals[f"exec.{k}"] = v / n_ops
    rungs = traced.get("rung_windows")
    if rungs:  # batch ladder: attribute executor work to its rung
        n = len(rungs["parse"])
        coalesce = exec_totals(events, rungs["multiline.coalesce"])
        vals["multiline.shuffle_write_bytes"] = coalesce["shuffle_write_bytes"] / n
        vals["parse.python_udf_s"] = (
            exec_totals(events, rungs["parse"])["python_run_s"] - coalesce["python_run_s"]
        ) / n
    elif ctx.workload == "stream_ingest":
        vals["multiline.shuffle_write_bytes"] = vals["exec.shuffle_write_bytes"]
    not_called = [k for k in LAYER_UNITS if k not in vals]
    return {k: {"value": vals.get(k, 0.0), "unit": u} for k, u in LAYER_UNITS.items()}, not_called


def report_lines(workload: str, metrics: dict, not_called: list, overhead: dict | None) -> list[str]:
    lines = [f"# {workload}: per-layer trace (self times; counts per operation)"]
    for k, v in metrics.items():
        if k in not_called:
            continue
        lines.append(f"#   {k:<44} {v['value']:>16.6g} {v['unit']}")
    if not_called:
        lines.append(f"#   not called on this workload (reported as 0): {len(not_called)} metrics")
    if overhead:
        lines.append(
            "#   tracing overhead: op median traced {traced:.4f} s vs untraced {untraced:.4f} s".format(
                **overhead
            )
        )
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "otel_logger_spark")):
        print(f"pipebench: no otel_logger_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from pipebench import gen, harness
    from pipebench.stats import Tracer, median, nearest_rank, read_event_log

    state_dir = os.path.join(ROOT, ".pipebench")
    tmp = os.path.join(state_dir, "tmp", f"{args.workload}-{os.getpid()}-{int(time.time())}")
    os.makedirs(tmp)
    sessions = None
    try:
        _prepare_env(tmp)
        host_before = harness.host_snapshot()
        t0 = time.perf_counter()
        cache_dir = gen.ensure_input(os.path.join(state_dir, "cache"), args.workload, args.seed)
        gen_s = time.perf_counter() - t0
        ctx = Ctx(args.workload, args.seed, args.seconds, tmp, cache_dir, gen.input_meta(cache_dir))
        mod = _module(args.workload)

        sessions = harness.Sessions(tmp, len(os.sched_getaffinity(0)))
        t1 = time.perf_counter()
        start_s, warm_s = sessions.start()
        setup = {"session.start_s": start_s, "session.python_warm_s": warm_s, "setup_s": start_s + warm_s}
        t2 = time.perf_counter()
        untraced = mod.measure(ctx, sessions.spark)
        t3 = time.perf_counter()
        result = {"attempted": untraced["attempted"], "failed": untraced["failed"]}
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "gen_s": round(gen_s, 4),
            "phase_s": {"setup": round(t2 - t1, 3), "measure": round(t3 - t2, 3)},
            "setup_s": round(setup["setup_s"], 4),
            "samples_s": [round(x, 4) for x in untraced["samples"]],
            "op_p90_s": nearest_rank(untraced["samples"], 90),
            "driver_mem": os.environ["SPARK_DRIVER_MEM"],
            "host_before": host_before,
        }
        lines = []
        if args.trace:
            sessions.stop()
            sessions.start(event_log=True)
            tracer = Tracer()
            traced = mod.trace(ctx, sessions.spark, tracer)
            if args.workload == "batch_throughput":
                _add_stream_layers(ctx, sessions.spark, tracer, traced, state_dir)
            sessions.stop()
            events = read_event_log(sessions.event_log_dir)
            metrics, not_called = per_layer(ctx, setup, untraced, traced, events)
            result["attempted"] += traced["attempted"]
            result["failed"] += traced["failed"]
            overhead = {"traced": median(traced["op_walls"]), "untraced": median(untraced["samples"])}
            lines = report_lines(args.workload, metrics, not_called, overhead)
            metrics = {k: v for k, v in metrics.items() if k not in REPORT_ONLY}
            info["not_called"] = not_called
            info["span_self_s"] = {k: round(v, 4) for k, v in tracer.self_times().items()}
            info["spans"] = tracer.spans
        else:
            metrics = end_to_end(setup, untraced)
        sessions.stop()
        info["host_after"] = harness.host_snapshot()

        report_dir = os.path.join(state_dir, "reports")
        os.makedirs(report_dir, exist_ok=True)
        with open(
            os.path.join(report_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w"
        ) as f:
            json.dump({**info, "result": result, "metrics": metrics}, f, indent=1, default=str)
        info.pop("spans", None)
        for line in lines:
            print(line)
        print("# info " + json.dumps(info, default=str))
        out = {
            "correct": result["failed"] == 0,
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": metrics,
        }
        print(json.dumps(out), flush=True)
        return 0
    finally:
        if sessions is not None:
            sessions.close()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
