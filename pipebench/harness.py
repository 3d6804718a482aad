"""Run plumbing shared by the workloads: Spark session set-up, process-tree
CPU and memory, host calibration, and the closed measurement loop."""

from __future__ import annotations

import os
import shutil
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


# --- process tree ------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids() -> list[int]:
    """This process and all its descendants (JVM, Python workers)."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live tree, including children each
    member has already reaped (Python workers are reaped by their daemon)."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK


def tree_pss_mb() -> float:
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


class PeakPss:
    """Samples the tree's proportional set size in a thread while active."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.interval_s)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb())


# --- host hygiene ------------------------------------------------------------


def cpu_calib_s() -> float:
    """bench.py's single-thread calibration loop: its wall moves only with
    host contention or throttling."""
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i
    return time.perf_counter() - t0


def host_snapshot() -> dict:
    return {"cpu_calib_s": round(cpu_calib_s(), 4), "loadavg": list(os.getloadavg())}


def driver_mem() -> str:
    """An explicit heap below host RAM: a quarter of it, at most 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return f"{max(512, min(4096, total_kb // 4096))}m"


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping hidden/metadata files."""
    size = files = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


# --- Spark session -------------------------------------------------------------


class Sessions:
    """Starts and restarts the pipeline's own session (``session.get_spark``)
    with every scratch path inside the run's temp dir."""

    def __init__(self, tmp: str, cores: int):
        self.tmp = tmp
        self.cores = cores
        self.event_log_dir = os.path.join(tmp, "eventlog")
        self.spark = None

    def conf(self, event_log: bool) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={self.tmp}/derby",
            "spark.sql.streaming.checkpointLocation": os.path.join(self.tmp, "checkpoints"),
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf["spark.eventLog.dir"] = "file://" + self.event_log_dir
            conf["spark.eventLog.compress"] = "false"
        return conf

    def start(self, event_log: bool = False) -> tuple[float, float]:
        """(session start s, Python warm-up s)."""
        from otel_logger_spark.session import get_spark

        for d in ("local", "jvmtmp", "derby"):
            os.makedirs(os.path.join(self.tmp, d), exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark("pipebench", cores=self.cores, extra_conf=self.conf(event_log))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        python_warm(self.spark, self.cores)
        return t1 - t0, time.perf_counter() - t1

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        """Stop the context, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()


def python_warm(spark, cores: int):
    """Start the Python workers with the parse UDF on a few rows."""
    from pyspark.sql import functions as F

    from otel_logger_spark.functions.parse import with_parsed

    df = spark.range(0, 64 * cores, numPartitions=cores).select(
        F.concat(F.lit('{"level":"info","message":"m'), F.col("id").cast("string"), F.lit('"}')).alias("text"),
        F.current_timestamp().alias("ts"),
    )
    with_parsed(df).groupBy("level").count().collect()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# --- closed loop ----------------------------------------------------------------


class Loop:
    """Closed loop: the next operation starts when the previous one ends.
    Runs until ``seconds`` of operation time and ``min_ops`` operations have
    passed. Tracks tree CPU and peak PSS over the loop."""

    def __init__(self, seconds: float, min_ops: int = 1):
        self.seconds = seconds
        self.min_ops = min_ops
        self.samples: list[float] = []
        self.cpu_s = 0.0
        self.peak_pss_mb = 0.0

    def more(self) -> bool:
        return len(self.samples) < self.min_ops or sum(self.samples) < self.seconds

    def timed(self, fn):
        t0 = time.perf_counter()
        out = fn()
        self.samples.append(time.perf_counter() - t0)
        return out

    def __enter__(self):
        self._pss = PeakPss().__enter__()
        self._cpu0 = tree_cpu_s()
        return self

    def __exit__(self, *exc):
        self.cpu_s = tree_cpu_s() - self._cpu0
        self._pss.__exit__(*exc)
        self.peak_pss_mb = self._pss.peak_mb
