"""batch_throughput: a closed loop of ``pipeline.run_pipeline`` runs with the
default config over a seeded multi-file transcript table, each into a fresh
output directory."""

from __future__ import annotations

import os
import time

from pipebench import harness
from pipebench.stats import median

SINKS = ("logs", "error", "tool_call", "conversation_metrics")
PRIME_OPS = 3  # untimed runs first: JIT and codegen keep speeding up the next few
LADDER_REPS = 3  # interleaved repetitions; each rung reports its median
PIPELINE_REPS = 2  # traced run_pipeline runs: sink times and executor totals


def _counts(manifest: dict) -> dict[str, int]:
    return {s: manifest["sinks"][s]["n_rows"] for s in SINKS}


def measure(ctx, spark) -> dict:
    from otel_logger_spark.pipeline import run_pipeline

    data = ctx.data_dir
    out_root = os.path.join(ctx.tmp, "out")

    def one(tag):
        out = harness.fresh_dir(os.path.join(out_root, tag))
        return lambda: run_pipeline(spark, data, out, run_id=tag)

    for i in range(PRIME_OPS):
        one(f"prime{i}")()
    manifests = []
    with harness.Loop(ctx.seconds, min_ops=4) as loop:
        while loop.more():
            manifests.append(loop.timed(one(f"op{len(manifests)}")))
    failed = sum(_counts(m) != ctx.expected for m in manifests)
    return {
        "samples": loop.samples,
        "turns": ctx.turns * len(manifests),
        "wall_s": sum(loop.samples),
        "cpu_s": loop.cpu_s,
        "peak_pss_mb": loop.peak_pss_mb,
        "attempted": len(manifests),
        "failed": failed,
    }


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def ladder(spark, data: str) -> list[tuple[str, object]]:
    """Cumulative rungs over the pipeline's public calls, as build_parsed
    composes them with the default config. Each rung is a noop write, so a
    layer's self time is the difference between consecutive rungs."""
    from otel_logger_spark.config import PipelineConfig
    from otel_logger_spark.functions.parse import with_parsed
    from otel_logger_spark.io import read_table
    from otel_logger_spark.operators.enrich import enrich_severity, enrich_tool
    from otel_logger_spark.operators.multiline import coalesce_entries
    from otel_logger_spark.operators.rollups import conversation_metrics
    from otel_logger_spark.operators.route import with_routing

    cfg = PipelineConfig()
    read = read_table(spark, data)
    entries = coalesce_entries(read, cont_pattern=cfg.continuation_pattern)
    parsed = with_parsed(
        entries,
        json_prefix=cfg.json_prefix,
        ts_fields=cfg.timestamp_fields,
        level_fields=cfg.level_fields,
        msg_fields=cfg.message_fields,
        attrs_format=cfg.attrs_format,
    )
    routed = with_routing(enrich_tool(enrich_severity(parsed)))
    return [
        ("io.scan", read),
        ("multiline.coalesce", entries),
        ("parse", parsed),
        ("enrich_route", routed),
        ("rollups", conversation_metrics(routed)),
    ]


def trace(ctx, spark, tracer) -> dict:
    """One traced operation: the ladder, then real run_pipeline runs whose
    manifests give the sink times. Returns per-layer raw material."""
    from pyspark.sql import functions as F

    from otel_logger_spark.pipeline import run_pipeline

    rungs = ladder(spark, ctx.data_dir)
    out_root = os.path.join(ctx.tmp, "traced")
    rung_walls: dict[str, list[float]] = {n: [] for n, _ in rungs}
    rung_windows: dict[str, list] = {n: [] for n, _ in rungs}
    manifests, op_windows, op_walls = [], [], []
    for _, df in rungs:  # warm-up pass after the session restart
        _noop(df)
    with tracer.span("traced_op"):
        for _ in range(LADDER_REPS):
            for name, df in rungs:
                with tracer.span(f"rung.{name}"):
                    w0 = time.time() * 1000
                    t0 = time.perf_counter()
                    _noop(df)
                    rung_walls[name].append(time.perf_counter() - t0)
                    rung_windows[name].append((w0, time.time() * 1000))
        for i in range(PIPELINE_REPS):
            out = harness.fresh_dir(os.path.join(out_root, f"op{i}"))
            with tracer.span("run_pipeline"):
                w0 = time.time() * 1000
                t0 = time.perf_counter()
                manifests.append(run_pipeline(spark, ctx.data_dir, out, run_id="traced"))
                op_walls.append(time.perf_counter() - t0)
                op_windows.append((w0, time.time() * 1000))
    last_out = os.path.join(out_root, f"op{len(manifests) - 1}")
    n_json = (
        spark.read.parquet(os.path.join(last_out, "conversation_metrics"))
        .agg(F.sum("n_json"))
        .collect()[0][0]
    )
    out_bytes, out_files = harness.dir_bytes(last_out)
    m = manifests[-1]["sinks"]
    cum = [median(rung_walls[n]) for n, _ in rungs]
    selfs = [cum[0]] + [b - a for a, b in zip(cum, cum[1:])]
    layers = dict(zip([n for n, _ in rungs], selfs))
    return {
        "op_walls": op_walls,
        "op_windows": op_windows,
        "rung_windows": rung_windows,
        "failed": sum(_counts(x) != ctx.expected for x in manifests),
        "attempted": len(manifests),
        "metrics": {
            "io.scan_s": layers["io.scan"],
            "io.input_bytes": ctx.input_bytes,
            "multiline.coalesce_s": layers["multiline.coalesce"],
            "multiline.lines_in": ctx.turns,
            "multiline.entries_out": m["logs"]["n_rows"],
            "parse.s": layers["parse"],
            "parse.json_ok_ratio": n_json / m["logs"]["n_rows"],
            "enrich_route.s": layers["enrich_route"],
            "route.error_rows": m["error"]["n_rows"],
            "route.tool_call_rows": m["tool_call"]["n_rows"],
            "rollups.s": layers["rollups"],
            "sinks.logs_s": median([x["sinks"]["logs"]["wall_sec"] for x in manifests]),
            "sinks.error_s": median([x["sinks"]["error"]["wall_sec"] for x in manifests]),
            "sinks.tool_call_s": median([x["sinks"]["tool_call"]["wall_sec"] for x in manifests]),
            "sinks.conversation_metrics_s": median(
                [x["sinks"]["conversation_metrics"]["wall_sec"] for x in manifests]
            ),
            "sinks.bytes_per_input_byte": out_bytes / ctx.input_bytes,
            "sinks.files": out_files,
        },
    }
