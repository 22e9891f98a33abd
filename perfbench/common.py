"""Shared plumbing: Spark lifecycle, seeded inputs, job counting, spans and
summary statistics.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``.
The engine is driven only through its public functions; nothing here
reaches into a private helper of ``datalake2anomali_spark``.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import shutil
import statistics
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: Driver heap for the benchmark's JVM.  sf0.1 needs well under 1 GB; a
#: bounded heap keeps the peak-RSS metric about the program, not about how
#: lazily an 8 GB heap is collected.
DRIVER_MEMORY = "2g"


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# -- Spark lifecycle ---------------------------------------------------------


class SparkRun:
    """One benchmark process's Spark session, work directory and clocks.

    ``start`` launches the JVM through the engine's own session factory on
    ``local[<cpus available to this process>]``; ``close`` stops the session,
    ends the JVM, waits for it, and returns its peak RSS in MB (the kernel's
    high-water mark of the largest waited-for child — the JVM).
    """

    def __init__(self, workload: str, seed: int):
        self.dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.spark = None
        self.start_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start(self):
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep Spark's block manager, Python's tempfiles and the JVM's
        # java.io.tmpdir inside the checkout; -UsePerfData stops the JVM
        # from writing its hsperfdata file under /tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        # glibc's per-thread malloc arenas would make the JVM's native
        # footprint, and so its peak RSS, depend on thread timing
        os.environ["MALLOC_ARENA_MAX"] = "2"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options -Xms{DRIVER_MEMORY} --conf spark.ui.showConsoleProgress=false pyspark-shell"
        )
        # Python workers import the engine and the benchmark's probe sink
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        from datalake2anomali_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        self.start_s = time.perf_counter() - t
        return self.spark

    def jvm_gc_ms(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def jvm_heap_used_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm
        usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return usage.getUsed() / 2**20

    def close(self) -> float:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.dir, ignore_errors=True)
        return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0


# -- seeded inputs -----------------------------------------------------------

ORDER_STATUS = np.array(["O", "F", "P"])
ORDER_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def gen_orders(rng: np.random.Generator, n: int = 150_000) -> pa.Table:
    """sf0.1-shaped ``orders``: unique ``o_orderkey``, dates 1995-01-01 ..
    2001-08-01 (80 calendar months)."""
    lo, hi = np.datetime64("1995-01-01"), np.datetime64("2001-08-01")
    days = rng.integers(0, (hi - lo).astype(int) + 1, n)
    keys = rng.permutation(n).astype(np.int64)
    if len(np.unique(keys)) != n:
        raise RuntimeError("generated o_orderkey is not unique")
    return pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
            "o_orderstatus": rng.choice(ORDER_STATUS, n),
            "o_totalprice": np.round(rng.uniform(800.0, 560_000.0, n), 2),
            "o_orderdate": (lo + days).astype("datetime64[us]"),
            "o_orderpriority": rng.choice(ORDER_PRIORITY, n),
        }
    )


def gen_events(rng: np.random.Generator, n: int = 100_000) -> pa.Table:
    """sf0.1-shaped ``events``: unique ``event_id``, ``ts`` over January 2024
    (30 event dates)."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 1500, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.uniform(0.0, 560.0, n), 2),
            "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
        }
    )


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# -- job counting ------------------------------------------------------------


class JobCounter:
    """Counts Spark jobs per operation through job groups.

    A job group is a thread-local property, so it must be set on the thread
    that submits the jobs: the benchmark thread for direct calls, the
    stream-execution thread (inside the foreachBatch function) for a
    stream's batches.  ``no_stray_jobs`` fails the run if a job ran without
    a group meanwhile — a job submitted from a thread pool that drops the
    group (e.g. ``io.catalog``'s pooled commits) would otherwise go
    uncounted.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    @contextlib.contextmanager
    def group(self, label: str):
        """Count this thread's jobs inside the block; the enclosing group,
        if any, is restored on exit.  Yields a dict whose ``jobs`` is set
        when the block ends."""
        gid = f"pb-{label}-{uuid.uuid4().hex[:8]}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(gid, label)
        box = {"jobs": 0}
        try:
            yield box
        finally:
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev)
            box["jobs"] = len(self.tracker.getJobIdsForGroup(gid))

    @contextlib.contextmanager
    def no_stray_jobs(self):
        before = set(self.tracker.getJobIdsForGroup(None))
        yield
        stray = set(self.tracker.getJobIdsForGroup(None)) - before
        if stray:
            raise RuntimeError(
                f"{len(stray)} Spark job(s) ran outside the benchmark's job "
                "groups (a pooled thread dropped the group); job counts would be wrong"
            )


# -- spans -------------------------------------------------------------------


class Trace:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end of the run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


def span_s(rec: dict) -> float:
    return rec["end"] - rec["start"]
