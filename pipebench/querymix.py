"""query_latency: a closed loop of passes over a fixed, ordered query mix on a
seeded events/documents directory. One operation is one full pass; each
query is collected the way bench.py collects it."""

from __future__ import annotations

import time

from pipebench import harness
from pipebench.oracle import QUERY_MIX, normalize
from pipebench.stats import median


def _query_fns() -> dict:
    from otel_logger_spark.queries import QUERIES_AB
    from otel_logger_spark.queries_training import QUERIES_C

    merged = {**QUERIES_AB, **QUERIES_C}
    return {q: merged[q] for q in QUERY_MIX}


def _check(ctx, results: dict) -> bool:
    return all(
        normalize(list(cols), [tuple(r) for r in rows]) == ctx.expected[q]
        for q, (cols, rows) in results.items()
    )


def measure(ctx, spark) -> dict:
    fns = _query_fns()

    def run_pass():
        frames, rows = {}, {}
        for q, fn in fns.items():
            frames[q] = fn(spark, ctx.data_dir)
            rows[q] = frames[q].collect()
        return frames, rows

    run_pass()  # JIT and codegen warm-up; not measured
    passes = []
    with harness.Loop(ctx.seconds, min_ops=1) as loop:
        while loop.more():
            passes.append(loop.timed(run_pass))
    failed = sum(
        not _check(ctx, {q: (frames[q].columns, rows[q]) for q in rows}) for frames, rows in passes
    )
    return {
        "samples": loop.samples,
        "turns": ctx.turns * len(passes),
        "wall_s": sum(loop.samples),
        "cpu_s": loop.cpu_s,
        "peak_pss_mb": loop.peak_pss_mb,
        "attempted": len(passes),
        "failed": failed,
    }


def _phases_s(df) -> float:
    """Catalyst analysis + optimization + planning, from the query's tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1e3


def trace(ctx, spark, tracer) -> dict:
    sc = spark.sparkContext
    status = sc.statusTracker()
    fns = _query_fns()
    per_q: dict[str, dict[str, list]] = {q: {} for q in fns}
    op_walls, op_windows = [], []
    failed = attempted = 0
    spent = 0.0
    while not op_walls or spent < ctx.seconds:
        results = {}
        w0 = time.time() * 1000
        t0 = time.perf_counter()
        with tracer.span("pass"):
            for q, fn in fns.items():
                group = f"pipebench-{q}-{attempted}"
                sc.setJobGroup(group, q)
                with tracer.span(f"query.{q}"):
                    with tracer.span("build") as b:
                        df = fn(spark, ctx.data_dir)
                    with tracer.span("exec") as e:
                        rows = df.collect()
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs = status.getJobIdsForGroup(group)
                infos = [status.getJobInfo(j) for j in jobs]
                rec = per_q[q]
                rec.setdefault("build_s", []).append(b["end"] - b["start"])
                rec.setdefault("exec_s", []).append(e["end"] - e["start"])
                rec.setdefault("plan_s", []).append(_phases_s(df))
                rec.setdefault("jobs", []).append(len(jobs))
                rec.setdefault("stages", []).append(
                    sum(len(i.stageIds) for i in infos if i is not None)
                )
                results[q] = (df.columns, rows)
        elapsed = time.perf_counter() - t0
        op_walls.append(elapsed)
        op_windows.append((w0, time.time() * 1000))
        spent += elapsed
        attempted += 1
        failed += not _check(ctx, results)
    metrics = {}
    for q, rec in per_q.items():
        for k, vals in rec.items():
            metrics[f"query.{q}.{k}"] = median(vals)
    return {
        "op_walls": op_walls,
        "op_windows": op_windows,
        "failed": failed,
        "attempted": attempted,
        "metrics": metrics,
    }
