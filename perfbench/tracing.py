"""Traced mode: spans around calls into the program's public functions, and
readers for Spark's status tracker, the driver's MXBeans and process RSS.

Spans are recorded from the benchmark's own code by replacing a function
attribute with a timing wrapper; the program itself is not edited. A target
that no longer exists is listed in ``Tracer.missing`` instead of raising, so
a later refactor shows up as a missing layer, not as a crash.
"""

from __future__ import annotations

import functools
import importlib
import os
import resource
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, int] = defaultdict(int)
        self.missing: list[str] = []
        self._lock = threading.Lock()

    def add(self, span: str, ms: float) -> None:
        with self._lock:
            self.spans[span].append(ms)

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def timed(self, span: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(span, (time.perf_counter() - t0) * 1e3)

        return wrapper

    def wrap(self, target: str, span: str, make=None) -> None:
        """Replace ``module:attr`` or ``module:Class.attr`` with a wrapper.

        ``make(fn)`` builds a custom wrapper; the default times each call
        under ``span`` (milliseconds)."""
        mod_name, _, path = target.partition(":")
        try:
            owner = importlib.import_module(mod_name)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            fn = getattr(owner, attr)
        except (ImportError, AttributeError):
            self.missing.append(target)
            return
        setattr(owner, attr, (make or (lambda f: self.timed(span, f)))(fn))


def wrap_layout_cache(tracer: Tracer) -> None:
    """cache.calls / cache.misses from SessionLayoutCache.get_or_build: a
    miss is a call that runs its ``build`` callable."""

    def make(fn):
        @functools.wraps(fn)
        def get_or_build(self, spark, sf_dir, build):
            if not tracer.enabled:
                return fn(self, spark, sf_dir, build)
            tracer.count("cache.calls")

            def counted_build():
                tracer.count("cache.misses")
                return build()

            return fn(self, spark, sf_dir, counted_build)

        return get_or_build

    tracer.wrap(
        "nyc_taxi_pyspark_spark.catalog._cache:SessionLayoutCache.get_or_build",
        "cache.get_or_build",
        make,
    )


def job_group_stats(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of one job group, read from the
    status tracker (works with the UI disabled)."""
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info is not None else ():
            stage = tracker.getStageInfo(stage_id)
            if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                continue  # skipped stage: its output was reused
            out["stages"] += 1
            out["tasks"] += stage.numCompletedTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out


def jvm_gc(sc) -> tuple[float, int]:
    """Cumulative driver GC time (ms) and collection count."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    ms = n = 0
    for bean in mf.getGarbageCollectorMXBeans():
        ms += max(bean.getCollectionTime(), 0)
        n += max(bean.getCollectionCount(), 0)
    return float(ms), int(n)


def jvm_heap_used_mb(sc) -> float:
    mf = sc._jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def persisted_storage(sc) -> tuple[int, float]:
    """Persisted RDDs holding blocks, and their memory + disk size in MB."""
    n, size = 0, 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        if info.numCachedPartitions() > 0:
            n += 1
            size += info.memSize() + info.diskSize()
    return n, size / 2**20


def jvm_pid(sc) -> int | None:
    proc = getattr(sc._gateway, "proc", None)
    return getattr(proc, "pid", None)


def peak_rss_mb(sc) -> float:
    """Peak RSS of this Python process plus the driver JVM it launched."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = jvm_pid(sc)
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1
