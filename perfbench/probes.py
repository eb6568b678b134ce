"""Measurement helpers: summary statistics, spans, the streaming progress
listener, Spark job/stage figures from the REST monitoring API, memory
and CPU calibration.

Nothing here imports pyspark at module load, so the statistics stay
usable and testable without a JVM.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import resource
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass, field


# --- statistics -------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile that has at least ten samples beyond
    it (0 when there are fewer than eleven samples)."""
    if n <= 10:
        return 0
    return int(math.floor(100.0 * (n - 10) / n))


def summary(values: list[float]) -> dict:
    """Median, p90, the tail percentile with ten samples beyond it, and
    the sample count."""
    if not values:
        return {"n": 0}
    tail = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "p90": percentile(values, 90),
        "tail_pct": tail,
        "tail": percentile(values, tail) if tail else None,
        "max": max(values),
    }


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --- spans ------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float                 # epoch seconds (time.time), comparable to Spark's clocks
    end: float = 0.0
    parent: int | None = None    # index of the parent span in Tracer.spans
    key: str = ""                # ties the spans of one file, epoch, query or call
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory until the run ends. A disabled tracer records
    nothing and costs one attribute test per call site."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.current: int | None = None   # open top-level span, for callback parents
        self.self_seconds = 0.0           # time spent in the tracer's own bookkeeping
        self._lock = threading.Lock()

    def open(self, name: str, key: str = "", parent: int | None = None) -> int:
        span = Span(name, time.time(), parent=parent, key=key)
        with self._lock:
            self.spans.append(span)
            return len(self.spans) - 1

    def close(self, idx: int, **attrs) -> None:
        span = self.spans[idx]
        span.end = time.time()
        span.attrs.update(attrs)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]


# --- streaming progress -----------------------------------------------------

def _iso_to_epoch(ts: str) -> float:
    """Spark's progress timestamp ('2026-01-01T00:00:00.123Z') → epoch s."""
    return dt.datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def make_progress_listener(spark):
    """Register and return a StreamingQueryListener that keeps every
    micro-batch's progress (batch id, trigger start, durationMs phases,
    input rows) and counts terminated queries."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []
            self.started: list[tuple[str, str, float]] = []   # (id, runId, time)
            self.terminated = 0
            self.cond = threading.Condition()

        def onQueryStarted(self, event) -> None:  # noqa: N802
            with self.cond:
                self.started.append((str(event.id), str(event.runId), time.time()))

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            rec = {
                "batch_id": p.batchId,
                "run_id": str(p.runId),
                "start": _iso_to_epoch(p.timestamp),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
            }
            rec["end"] = rec["start"] + rec["ms"].get("triggerExecution", 0) / 1000.0
            with self.cond:
                self.batches.append(rec)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            with self.cond:
                self.terminated += 1
                self.cond.notify_all()

        def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
            """Block until ``n`` queries have reported termination (progress
            events precede their query's termination on the listener bus)."""
            with self.cond:
                if not self.cond.wait_for(lambda: self.terminated >= n, timeout):
                    raise TimeoutError(
                        f"listener saw {self.terminated} of {n} query terminations"
                    )

    listener = ProgressListener()
    spark.streams.addListener(listener)
    return listener


# --- Spark job / stage figures (REST monitoring API; UI on in traced runs) ---

def _gmt_to_epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return dt.datetime.strptime(ts[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def spark_jobs_and_stages(spark) -> tuple[list[dict], list[dict]]:
    """Every job and stage attempt the application ran, with epoch-second
    times. Waits for the listener bus first so the store is complete."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str) -> list[dict]:
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    jobs = []
    for j in get("/jobs"):
        start = _gmt_to_epoch(j.get("submissionTime"))
        end = _gmt_to_epoch(j.get("completionTime"))
        if start is None or end is None:
            continue
        jobs.append({"start": start, "end": end})
    stages = []
    for s in get("/stages"):
        start = _gmt_to_epoch(s.get("submissionTime"))
        if start is None or s.get("status") not in ("COMPLETE", "FAILED"):
            continue
        stages.append({
            "start": start,
            "end": _gmt_to_epoch(s.get("completionTime")) or start,
            "tasks": s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0),
            "run_ms": s.get("executorRunTime", 0),
            "cpu_ms": s.get("executorCpuTime", 0) / 1e6,
            "gc_ms": s.get("jvmGcTime", 0),
            "shuffle_write_bytes": s.get("shuffleWriteBytes", 0),
            "spill_bytes": s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0),
            "input_bytes": s.get("inputBytes", 0),
            "output_bytes": s.get("outputBytes", 0),
        })
    return jobs, stages


def spark_figures(spans: list[Span], jobs: list[dict], stages: list[dict], cores: int) -> dict:
    """Spark work attributed to ``spans`` (a job or stage belongs to the
    span during which it was submitted), per span on average."""
    n = len(spans)
    if not n:
        return {}
    wall = sum(s.seconds for s in spans)
    sj = [j for j in jobs if any(s.start <= j["start"] <= s.end for s in spans)]
    ss = [g for g in stages if any(s.start <= g["start"] <= s.end for s in spans)]
    covered = sum(
        union_length([(j["start"], j["end"]) for j in sj], s.start, s.end) for s in spans
    )
    run_ms = sum(g["run_ms"] for g in ss)
    return {
        "ops": n,
        "wall_ms_per_op": 1000.0 * wall / n,
        "jobs_per_op": len(sj) / n,
        "stages_per_op": len(ss) / n,
        "tasks_per_op": sum(g["tasks"] for g in ss) / n,
        "executor_run_ms_per_op": run_ms / n,
        "executor_cpu_ms_per_op": sum(g["cpu_ms"] for g in ss) / n,
        "gc_ms_per_op": sum(g["gc_ms"] for g in ss) / n,
        "shuffle_write_bytes_per_op": sum(g["shuffle_write_bytes"] for g in ss) / n,
        "spill_bytes_per_op": sum(g["spill_bytes"] for g in ss) / n,
        "input_bytes_per_op": sum(g["input_bytes"] for g in ss) / n,
        "output_bytes_per_op": sum(g["output_bytes"] for g in ss) / n,
        "core_busy_share": run_ms / 1000.0 / (wall * cores) if wall else 0.0,
        "driver_gap_share": 1.0 - covered / wall if wall else 0.0,
    }


# --- memory and calibration -------------------------------------------------

def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + py_kb) / 1024.0


def retained_mb(spark) -> dict[str, float]:
    """Memory the run keeps, in MB: driver JVM heap in use after full
    GCs, its non-heap pools (metaspace, code cache) and this process's
    resident set. Caches, memos and leaked broadcasts show up here;
    transient peaks, which depend on when the collector happens to run,
    do not."""
    jvm = spark._jvm  # noqa: SLF001
    # Spark's ContextCleaner frees broadcast, shuffle and cached blocks
    # only after a GC has dropped their last reference, and the freed
    # blocks go at the next GC: collect, let the cleaner run, collect.
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    mf = jvm.java.lang.management.ManagementFactory
    parts = {"heap": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20}
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Non-heap memory":
            parts[str(pool.getName())] = pool.getUsage().getUsed() / 2**20
    with open("/proc/self/status") as f:
        parts["python_rss"] = next(
            int(line.split()[1]) for line in f if line.startswith("VmRSS:")) / 1024.0
    return parts


def cpu_calibration_s(reps: int = 3) -> float:
    """Best-of-``reps`` wall of a fixed pure-Python integer loop: a
    host-speed reference recorded beside every run, so runs on a busy
    host can be read against it."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * 2654435761) % 1000003
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies from /proc/stat (user nice system idle iowait
    irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a run with a high share ran on a busy host."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def environment(spark, seed: int, cores: int, trace: bool) -> dict:
    """What a reader needs to compare two runs."""
    return {
        "seed": seed,
        "spark_version": spark.version,
        "master": spark.sparkContext.master,
        "cores": cores,
        "host_cpus": os.cpu_count(),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "trace": trace,
        "cpu_calibration_s": cpu_calibration_s(),
    }
