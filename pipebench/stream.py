"""stream_ingest: closed-loop drains of ``run_streaming_pipeline`` over
pre-staged small files, one file per micro-batch, with the stateful
multiline coalescer on.

A drain ends at the first micro-batch without input after the last file:
with ``idle_flush_ms=1`` that batch times out every open entry, so every
conversation is closed and the four sinks must equal the batch pipeline's
on the same turns. (An availableNow query with processing-time state
timeouts keeps running empty batches, so the drain stops the query itself.)
The first micro-batch of each drain starts the query's stateful operator
and Python workers and is not counted as an operation.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from pipebench import harness
from pipebench.stats import median

DRAIN_TIMEOUT_S = 150


def drain(spark, data: str, out: str, ckpt: str, total_rows: int, on_first=None):
    """Run one drain; returns the query's progress list (all batches up to
    and including the first empty one after the input is consumed)."""
    from otel_logger_spark.streaming.pipeline import run_streaming_pipeline

    q = run_streaming_pipeline(
        spark,
        data,
        harness.fresh_dir(out),
        harness.fresh_dir(ckpt),
        available_now=True,
        coalesce=True,
        idle_flush_ms=1,
        max_files_per_trigger=1,
    )
    deadline = time.monotonic() + DRAIN_TIMEOUT_S
    first_seen = False
    try:
        while True:
            if not q.isActive:
                raise RuntimeError(f"streaming query ended early: {q.exception()}")
            prog = q.recentProgress
            if prog and not first_seen:
                first_seen = True
                if on_first:
                    on_first()
            if prog and sum(p.numInputRows for p in prog) >= total_rows and prog[-1].numInputRows == 0:
                break
            if time.monotonic() > deadline:
                raise RuntimeError("drain did not finish in time")
            time.sleep(0.05)
    finally:
        q.stop()
    return prog


def _epoch_ms(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def timed_batches(prog) -> tuple[list[float], int, tuple[float, float]]:
    """(durations s of the counted batches, their input rows, epoch-ms window)."""
    counted = prog[1:]
    durs = [p.batchDuration / 1e3 for p in counted]
    start = _epoch_ms(counted[0].timestamp)
    end = _epoch_ms(counted[-1].timestamp) + counted[-1].batchDuration
    return durs, sum(p.numInputRows for p in counted), (start, end)


class Expected:
    """The batch pipeline's four sinks on the staged turns."""

    def __init__(self, spark, data: str):
        from otel_logger_spark.operators.rollups import conversation_metrics
        from otel_logger_spark.pipeline import build_parsed
        from otel_logger_spark.streaming.pipeline import STREAM_OUT_COLS

        routed = build_parsed(spark.read.parquet(data)).persist()
        try:
            self.logs = _rows(routed.select(*STREAM_OUT_COLS))
            self.error = _rows(routed.filter("is_error").select(*STREAM_OUT_COLS))
            self.tool_call = _rows(routed.filter("is_tool_call").select(*STREAM_OUT_COLS))
            metrics = conversation_metrics(routed)
            self.metrics = _rows(metrics.select(*sorted(metrics.columns)))
        finally:
            routed.unpersist()

    def matches(self, spark, out: str) -> bool:
        from otel_logger_spark.streaming.pipeline import STREAM_OUT_COLS, read_conversation_metrics

        def sink(name):
            return _rows(spark.read.parquet(os.path.join(out, name)).select(*STREAM_OUT_COLS))

        metrics = read_conversation_metrics(spark, out)
        return (
            sink("logs") == self.logs
            and sink("error") == self.error
            and sink("tool_call") == self.tool_call
            and _rows(metrics.select(*sorted(metrics.columns))) == self.metrics
        )


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def measure(ctx, spark) -> dict:
    expected = Expected(spark, ctx.data_dir)
    samples, turns, failed, drains = [], 0, 0, 0
    cpu_s = 0.0
    with harness.PeakPss() as pss:
        while drains == 0 or sum(samples) < ctx.seconds:
            mark = {}
            out = os.path.join(ctx.tmp, "out", f"drain{drains}")
            prog = drain(
                spark,
                ctx.data_dir,
                out,
                os.path.join(ctx.tmp, "checkpoints", f"drain{drains}"),
                ctx.turns,
                on_first=lambda: mark.setdefault("cpu0", harness.tree_cpu_s()),
            )
            cpu_s += harness.tree_cpu_s() - mark["cpu0"]
            durs, rows, _ = timed_batches(prog)
            samples.extend(durs)
            turns += rows
            drains += 1
            failed += 0 if expected.matches(spark, out) else len(durs)
    return {
        "samples": samples,
        "turns": turns,
        "wall_s": sum(samples),
        "cpu_s": cpu_s,
        "peak_pss_mb": pss.peak_mb,
        "attempted": len(samples),
        "failed": failed,
    }


def trace(ctx, spark, tracer) -> dict:
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    expected = Expected(spark, ctx.data_dir)
    per_batch: list = []
    op_walls, op_windows = [], []
    batches_per_drain, failed, attempted, drains = [], 0, 0, 0
    out = None
    try:
        while drains == 0 or sum(op_walls) < ctx.seconds:
            out = os.path.join(ctx.tmp, "traced", f"drain{drains}")
            with tracer.span("drain"):
                prog = drain(
                    spark,
                    ctx.data_dir,
                    out,
                    os.path.join(ctx.tmp, "checkpoints", f"traced{drains}"),
                    ctx.turns,
                )
            run_id = prog[0].runId
            deadline = time.monotonic() + 30
            while time.monotonic() < deadline:
                seen = {p.batchId for p in listener.events if p.runId == run_id}
                if seen >= {p.batchId for p in prog}:
                    break
                time.sleep(0.05)
            mine = sorted(
                (p for p in listener.events if p.runId == run_id and p.batchId <= prog[-1].batchId),
                key=lambda p: p.batchId,
            )
            per_batch.extend(mine[1:])
            durs, _, window = timed_batches(prog)
            op_walls.extend(durs)
            op_windows.append(window)
            batches_per_drain.append(len(prog))
            attempted += len(durs)
            failed += 0 if expected.matches(spark, out) else len(durs)
            drains += 1
    finally:
        spark.streams.removeListener(listener)

    def state(p, attr):
        return sum(getattr(s, attr) for s in p.stateOperators)

    from pyspark.sql import functions as F

    from otel_logger_spark.streaming.pipeline import read_conversation_metrics

    logs = spark.read.parquet(os.path.join(out, "logs")).count()
    n_json = read_conversation_metrics(spark, out).agg(F.sum("n_json")).collect()[0][0]
    out_bytes, out_files = harness.dir_bytes(out)
    return {
        "op_walls": op_walls,
        "op_windows": op_windows,
        "failed": failed,
        "attempted": attempted,
        "metrics": {
            "io.input_bytes": ctx.input_bytes,
            "multiline.lines_in": ctx.turns,
            "multiline.entries_out": logs,
            "parse.json_ok_ratio": n_json / logs,
            "route.error_rows": spark.read.parquet(os.path.join(out, "error")).count(),
            "route.tool_call_rows": spark.read.parquet(os.path.join(out, "tool_call")).count(),
            "sinks.bytes_per_input_byte": out_bytes / ctx.input_bytes,
            "sinks.files": out_files,
            "stream.batches": median(batches_per_drain),
            "stream.add_batch_s": median([p.durationMs.get("addBatch", 0) / 1e3 for p in per_batch]),
            "stream.trigger_s": median(
                [p.durationMs.get("triggerExecution", 0) / 1e3 for p in per_batch]
            ),
            "stream.state_rows": max(state(p, "numRowsTotal") for p in per_batch),
            "stream.state_commit_s": median([state(p, "commitTimeMs") / 1e3 for p in per_batch]),
            "stream.state_memory_mb": max(state(p, "memoryUsedBytes") for p in per_batch) / 2**20,
        },
    }
