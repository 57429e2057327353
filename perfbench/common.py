"""Measurement helpers shared by the workloads: order statistics, Spark
progress and status readers, memory and GC probes."""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
import traceback

import numpy as np


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """``(value, percentile, n)`` of the tail: the highest percentile that
    has at least ten samples beyond it (the 11th-largest sample), but never
    below p75. Below 40 samples that percentile would sit under p75 (under
    the median below 22), so p75 by linear interpolation stands in."""
    n = len(values)
    if n == 0:
        return 0.0, 75.0, 0
    if n >= 40:
        return float(sorted(values)[n - 11]), 100.0 * (n - 10) / n, n
    if n == 1:
        return float(values[0]), 75.0, n
    return float(statistics.quantiles(values, n=4, method="inclusive")[-1]), 75.0, n


def slope(values) -> float:
    """Least-squares slope of ``values`` over their index (change per step)."""
    n = len(values)
    if n < 2:
        return 0.0
    return float(np.polyfit(np.arange(n), np.asarray(values, dtype=float), 1)[0])


def progress_list(query) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


def data_progress(query) -> list[dict]:
    """Progress records of the batches that read input rows."""
    return [p for p in progress_list(query) if p.get("numInputRows", 0) > 0]


def duration_p50(progress: list[dict], phase: str) -> float:
    return median([p["durationMs"].get(phase, 0) for p in progress])


def stream_self_s(progress: list[dict], callback_s: float) -> tuple[float, float]:
    """``(source_s, spark_s)``: a stream's trigger time split between its
    source (``latestOffset`` + ``getBatch``) and Spark's own per-batch work
    (the rest of ``triggerExecution`` outside the ``foreachBatch`` callback,
    whose spans run on Spark's callback thread and are counted there)."""
    trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0
    source = sum(
        p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0) for p in progress
    ) / 1000.0
    return source, max(0.0, trigger - source - callback_s)


def group_jobs(spark, group: str) -> set[int]:
    """Ids of the jobs Spark ran under one job group (the status tracker
    keeps ``spark.ui.retainedJobs`` jobs, 1000 by default)."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def group_tasks(spark, jobs) -> int:
    """Tasks of the stages of the given jobs."""
    st = spark.sparkContext.statusTracker()
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return tasks


def jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    total, it = 0, beans.iterator()
    while it.hasNext():
        total += max(0, it.next().getCollectionTime())
    return int(total)


def peak_rss_mb(spark) -> float:
    """Driver JVM VmHWM plus this Python process's max RSS, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def parquet_files(path: str) -> dict[str, int]:
    """Size of every parquet file under ``path``, by path."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                p = os.path.join(root, name)
                out[p] = os.path.getsize(p)
    return out


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class Ctx:
    """One benchmark run: its settings, the session, and what it measured."""

    def __init__(self, workload, seed, seconds, work, nproc, tracer, t_process,
                 load_before, span_cost_us, layer):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work, self.nproc, self.tracer = work, nproc, tracer
        self.t_process, self.load_before = t_process, load_before
        self.span_cost_us = span_cost_us
        self.layer = layer  # per-layer metrics, every name present
        self.e2e: dict[str, float] = {}
        self.notes: dict[str, str] = {}
        self.details: list[str] = []  # extra report lines
        # layer -> self seconds read from stream progress, for work that runs
        # inside Spark where no span of the benchmark can wrap it
        self.stream_self: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.spark = None
        self.versions: dict[str, str] = {}
        self._closers = []

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, cpus: int | None = None) -> float:
        """Start Spark at ``local[cpus]`` (default: nproc) and run one trivial
        job; returns seconds since the process started (interpreter start-up
        and imports included)."""
        cpus = cpus or self.nproc
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        with self.tracer.span("session.get_spark"):
            from siddhi_io_cdc_spark.session import get_spark

            self.spark = get_spark(f"perfbench-{self.workload}", shuffle_partitions=cpus)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).count()
        self.versions = {
            "spark": f"{self.spark.version} {self.spark.sparkContext.master}",
            "java": self.spark._jvm.System.getProperty("java.version"),
        }
        secs = time.perf_counter() - self.t_process
        self.layer["session.start_s"] = secs
        return secs

    def on_close(self, fn) -> None:
        self._closers.append(fn)

    def mismatch(self, what: str) -> None:
        self.mismatches.append(what)
        self.failed += 1

    def close(self) -> None:
        """Stop what the run started, then the Spark JVM, and wait for it."""
        from pyspark import SparkContext

        for fn in reversed(self._closers):
            try:
                fn()
            except Exception:  # noqa: BLE001 - keep tearing down
                traceback.print_exc()
        if self.spark is None:
            return
        proc = getattr(SparkContext._gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            if proc is not None:
                # the JVM exits when its stdin closes; its Python workers go with it
                proc.stdin.close()
                proc.wait(timeout=60)
