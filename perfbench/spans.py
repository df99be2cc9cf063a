"""Spans and resource samples taken from outside the engine.

A span wraps one call into an engine layer. It tags the call's Spark jobs
with a job group of its own, and on exit reads those jobs and their stages
back from Spark's status store (this works with ``spark.ui.enabled=false``).
Spans are kept in memory and written out by the caller when the run ends.

Resource samples come from ``/proc``: CPU seconds of the whole process tree
(the Python driver plus the JVM it launched), and the Python driver's peak
RSS with its high-water mark reset on demand.
"""

from __future__ import annotations

import ctypes
import gc
import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

import pyarrow as pa
from py4j.protocol import Py4JJavaError

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    rows: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {**asdict(self), "wall_s": self.wall_s}


class JobCounter:
    """Job groups and the status-store reads behind them."""

    _ids = itertools.count()

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def open_group(self, name: str) -> str:
        group = f"{name}#{next(self._ids)}"
        self.sc.setJobGroup(group, name)
        return group

    def close_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        self.drain()
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def fill(self, span: Span, group: str) -> None:
        """Add the group's job, stage, task, CPU, shuffle and spill totals."""
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        job_ids = self.job_ids(group)
        stage_ids: set[int] = set()
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        span.jobs = len(job_ids)
        for stage_id in sorted(stage_ids):
            try:
                data = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # no attempt recorded: the stage never ran
                continue
            if data.status().toString() == "SKIPPED":
                continue
            span.stages += 1
            span.tasks += data.numCompleteTasks()
            span.executor_cpu_s += data.executorCpuTime() / 1e9
            span.executor_run_s += data.executorRunTime() / 1e3
            span.shuffle_read_bytes += data.shuffleReadBytes()
            span.shuffle_write_bytes += data.shuffleWriteBytes()
            span.spill_bytes += data.memoryBytesSpilled() + data.diskBytesSpilled()
            span.input_bytes += data.inputBytes()

    def storage_mb(self) -> float:
        """Memory and disk held by cached RDD blocks, in MB."""
        infos = self._jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class Tracer:
    """Records spans when enabled; a no-op context otherwise."""

    def __init__(self, jobs: JobCounter, enabled: bool):
        self.jobs = jobs
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield Span(name, 0.0)
            return
        group = self.jobs.open_group(name)
        span = Span(name, time.perf_counter())
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self.jobs.close_group()
        self.jobs.fill(span, group)
        self.spans.append(span)

    @contextmanager
    def paused(self, pause: bool = True):
        """Switch span recording off for a block (warm-up views, untraced set-ups)."""
        saved = self.enabled
        self.enabled = saved and not pause
        try:
            yield
        finally:
            self.enabled = saved


# --- /proc samples ---------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_LIBC = ctypes.CDLL("libc.so.6")
_LIBC.malloc_trim.argtypes = [ctypes.c_size_t]
_LIBC.malloc_trim.restype = ctypes.c_int


def child_pids() -> dict[int, list[int]]:
    """Parent pid -> child pids, for every process in /proc."""
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while scanning
            continue
        tree.setdefault(int(fields[1]), []).append(int(entry))
    return tree


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and all its descendants (the
    JVM and any Python workers), including descendants already reaped."""
    tree = child_pids()
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        todo.extend(tree.get(pid, ()))
    return total / _CLK_TCK


def reset_peak_rss() -> None:
    """Reset this process's RSS high-water mark to its live memory: collect
    garbage and hand freed heap and Arrow pool pages back to the OS first,
    so the mark does not start from whatever the allocators retained."""
    gc.collect()
    pa.default_memory_pool().release_unused()
    _LIBC.malloc_trim(0)
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    """This process's RSS high-water mark since the last reset, in MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc/self/status")
