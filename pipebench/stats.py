"""Pure helpers: percentiles, nested spans, Spark event-log totals.

Nothing here imports Spark, so the benchmark's own tests run in a plain
interpreter.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager

# a tail percentile is reported only when this many samples lie beyond it
MIN_TAIL_SAMPLES = 10


def nearest_rank(values, pct: float, min_tail: int = MIN_TAIL_SAMPLES):
    """Nearest-rank percentile of ``values`` (``pct`` in (0, 100]).

    Returns None when fewer than ``min_tail`` samples lie strictly above the
    percentile's rank: such a percentile is set by one or two samples and
    would swing from run to run. ``min_tail=0`` disables the refusal."""
    if not 0 < pct <= 100:
        raise ValueError(f"percentile must be in (0, 100]: {pct}")
    xs = sorted(values)
    if not xs:
        return None
    rank = math.ceil(pct / 100 * len(xs))
    if len(xs) - rank < min_tail:
        return None
    return xs[rank - 1]


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


class Tracer:
    """In-memory span recorder. Spans nest by call order; a span's self time
    is its wall minus the wall of its direct children. Nothing is written
    until the caller dumps ``spans`` at the end of the run."""

    def __init__(self, clock=time.perf_counter):
        self._clock = clock
        self._stack: list[int] = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": self._clock(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = self._clock()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        child_wall = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_wall[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child_wall[i]
        return out


# --- Spark event log ---------------------------------------------------------


def event_log_files(log_dir: str) -> list[str]:
    """Event files of every application under ``log_dir``: plain single
    files, or the rolling ``eventlog_v2_*/events_<n>_*`` layout, in order."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            files.extend(os.path.join(path, f) for f in parts)
        elif not entry.startswith("."):
            files.append(path)
    return files


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


EXEC_KEYS = (
    "task_cpu_s", "task_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
    "python_run_s", "jobs", "tasks",
)


def exec_totals(events: list[dict], windows=None) -> dict[str, float]:
    """Executor totals from parsed event-log records.

    ``windows`` is a list of (start_ms, end_ms) epoch intervals; when given,
    a task counts if it finished inside one and a job if it was submitted
    inside one. ``python_run_s`` sums the Python-UDF SQL metric "time to run
    Python workers" (ms)."""

    def inside(ms):
        return windows is None or any(a <= ms <= b for a, b in windows)

    tot = dict.fromkeys(EXEC_KEYS, 0.0)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart" and inside(e["Submission Time"]):
            tot["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if not inside(info["Finish Time"]):
                continue
            m = e.get("Task Metrics") or {}
            tot["tasks"] += 1
            tot["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            tot["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for acc in info.get("Accumulables", ()):
                if acc.get("Name") == "time to run Python workers":
                    tot["python_run_s"] += int(acc.get("Update") or 0) / 1e3
    return tot
