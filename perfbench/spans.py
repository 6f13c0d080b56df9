"""Measurement helpers: statistics, host stamps, peak RSS, and the traced
run's span records read from Spark's own status APIs.

Spans are recorded only around calls the benchmark makes into the
program; nothing inside the program is instrumented. A span's Spark jobs
are found through a per-span job group, and each job's stages through
``statusStore().lastStageAttempt``.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least 10 samples beyond it, by
    nearest rank. Below 21 samples that percentile is under the median, so
    the maximum is given instead and ``beyond`` says so."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return {"value": 0.0, "pct": None, "n": 0, "beyond": 0}
    if n < 21:
        return {"value": s[-1], "pct": 100.0, "n": n, "beyond": 0}
    k = n - 11
    return {"value": s[k], "pct": round(100.0 * (k + 1) / n, 1), "n": n, "beyond": n - 1 - k}


def union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of ``(start_ms, end_ms)`` intervals
    (jobs of one span can run concurrently)."""
    total, hi = 0, None
    for a, b in sorted(intervals):
        if hi is None or a > hi:
            total += b - a
            hi = b
        elif b > hi:
            total += b - hi
            hi = b
    return total / 1e3


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters from ``/proc/stat`` (user,
    nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def child_pids() -> dict[int, list[int]]:
    """Parent pid -> child pids, for every process in ``/proc``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


class PeakRss:
    """Samples the summed RSS of every descendant of this process (the
    driver JVM and the Python workers it forks) and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        kids = child_pids()
        todo, total = list(kids.get(os.getpid(), [])), 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("run_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "memoryBytesSpilled", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


class Tracer:
    """Span recorder. Disabled, ``span`` and ``catalyst`` do nothing, so
    the untraced run pays for nothing but a flag test."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._tag = uuid.uuid4().hex[:8]

    @contextmanager
    def span(self, op: str, phase: str):
        """Time one phase of one operation. Jobs started on this thread
        inside the block land in the span's own job group."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        group = f"pb-{self._tag}-{len(self.spans)}"
        sc.setJobGroup(group, f"{op}:{phase}")
        rec = {"op": op, "phase": phase, "group": group, "start": time.perf_counter()}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            sc.setJobGroup(f"pb-{self._tag}-idle", "idle")
            self.spans.append(rec)

    def catalyst(self, rec: dict, df) -> None:
        """Attach the Catalyst phase times of ``df``'s own QueryExecution
        (the one a collect or toPandas drain runs on)."""
        if not self.enabled:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            rec[f"{name}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0

    def storage_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    def resolve(self, group: str) -> dict:
        """Aggregate the stages of every job in ``group``."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        out = {k: 0 for k, _, _ in STAGE_FIELDS}
        out.update(jobs=0, stages=0, peak_memory_bytes=0)
        intervals = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            info = sc.statusTracker().getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            job = jsc.statusStore().job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime(),
                                  job.completionTime().get().getTime()))
            for sid in info.stageIds:
                try:
                    st = jsc.statusStore().lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                out["stages"] += 1
                for key, attr, scale in STAGE_FIELDS:
                    out[key] += getattr(st, attr)() * scale
                out["peak_memory_bytes"] = max(
                    out["peak_memory_bytes"], st.peakExecutionMemory()
                )
        out["job_wall_s"] = union_s(intervals)
        return out

    def finish(self) -> None:
        """Resolve every recorded span's Spark work (outside any timed
        region)."""
        for rec in self.spans:
            if "jobs" not in rec:
                rec.update(self.resolve(rec.pop("group")))
