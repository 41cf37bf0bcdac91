"""What both workloads share: the engine's lifetime, its resource
readings, the run's failure accounting and the statistics."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field

import host

TAIL_Q = 0.75  # latency_p75_s; every run is sized for >= 40 samples


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values)


@dataclass
class Engine:
    """Owns the SparkSession and the JVM behind it.  Sessions come only
    from the program's ``build_session``; restarting one reuses the JVM."""

    spark: object | None = None
    jvm_pid: int = 0
    versions: dict = field(default_factory=dict)

    def start(self):
        """``build_session()``: returns the running session if there is one."""
        from spark_streaming_postgres_lab2_spark.session import build_session
        from pyspark import SparkContext

        self.spark = build_session()
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.versions = self.versions or host.versions(self.spark)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def restart(self):
        self.stop()
        return self.start()

    @property
    def jvm(self):
        from pyspark import SparkContext

        return SparkContext._gateway.jvm

    def cpu_s(self) -> float:
        return host.engine_cpu_s(self.jvm_pid)

    def peak_rss_mb(self) -> float:
        return host.peak_rss_mb(self.jvm_pid)

    def retained_heap_mb(self) -> float:
        """JVM heap still in use after a full collection: what the engine
        holds on to (cached and checkpointed blocks, state, query
        history), free of the heap sizing the collector chose."""
        jvm = self.jvm
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return heap.getUsed() / 2**20

    def shutdown(self, timeout: float = 60.0) -> None:
        """Stop the session, close the gateway and wait for the JVM (and
        with it the Python workers it forked) to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        workers = host.descendants(proc.pid)
        gateway.shutdown()
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
        # the workers are not our children, so poll until they are gone
        wait_for(lambda: not any(host.alive(p) for p in workers), timeout)


@dataclass
class Tally:
    """Operations and checks attempted and failed in one run."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def check(self, name: str, expected, actual) -> bool:
        if expected == actual:
            return self.op(True, "")
        return self.op(False, f"check {name}: expected {_short(expected)}, got {_short(actual)}")


def _short(v) -> str:
    s = repr(v)
    return s if len(s) <= 120 else s[:117] + "..."


def wait_for(predicate, timeout: float, poll: float = 0.05) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if predicate():
            return True
        time.sleep(poll)
    return predicate()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
