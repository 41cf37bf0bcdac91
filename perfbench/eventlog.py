"""Reduce a Spark event log to per-unit layer totals.

The traced run enables Spark's own event log (uncompressed JSON lines,
one directory per application in Spark 4) for the session it creates.
This module reads it back and sums, per key, what the tasks spent:
jobs, stages, tasks, task run and CPU time, GC, scan, shuffle and spill
bytes.  A job's key comes from its properties: the micro-batch id that
Structured Streaming stamps on every job of an epoch
(``streaming.sql.batchId``), or the job group the benchmark sets around
each query (``spark.jobGroup.id``).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from typing import Callable

# plan nodes whose stages hand rows to Python workers
PYTHON_SCOPES = ("Pandas", "Arrow", "Python")

FIELDS = (
    "jobs", "stages", "tasks", "python_rdd_stages", "task_run_ms", "task_cpu_ms",
    "task_noncpu_ms", "gc_ms", "scan_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes",
)


def enable(jvm, log_dir: str) -> None:
    """Make the next SparkContext created in this JVM write an event log
    to ``log_dir``: a new SparkConf loads ``spark.*`` JVM properties."""
    os.makedirs(log_dir, exist_ok=True)
    for k, v in _props(log_dir).items():
        jvm.java.lang.System.setProperty(k, v)


def disable(jvm) -> None:
    for k in _props(""):
        jvm.java.lang.System.clearProperty(k)


def _props(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def _events(log_dir: str):
    files = [f for f in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(f) and not f.endswith(".crc")
             and not os.path.basename(f).startswith("appstatus")]
    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        if rdd.get("Name") == "PythonRDD":
            return True
        scope = rdd.get("Scope")
        if scope and any(s in json.loads(scope).get("name", "") for s in PYTHON_SCOPES):
            return True
    return False


def reduce(log_dir: str, key_of: Callable[[dict], str | None]) -> dict[str, dict[str, float]]:
    """``{key: {field: total}}`` for the jobs ``key_of(properties)``
    assigns a key; jobs it maps to ``None`` are left out."""
    stage_key: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = key_of(ev.get("Properties") or {})
            if key is None:
                continue
            out[key]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_key[sid] = key
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = stage_key.get(info["Stage ID"])
            if key is None:
                continue
            out[key]["stages"] += 1
            out[key]["python_rdd_stages"] += _is_python_stage(info)
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if key is None or not m:
                continue
            acc = out[key]
            run_ms = m.get("Executor Run Time", 0)
            cpu_ms = m.get("Executor CPU Time", 0) / 1e6
            shuffle_r = m.get("Shuffle Read Metrics", {})
            acc["tasks"] += 1
            acc["task_run_ms"] += run_ms
            acc["task_cpu_ms"] += cpu_ms
            acc["task_noncpu_ms"] += max(0.0, run_ms - cpu_ms)
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            acc["scan_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            acc["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            acc["shuffle_read_bytes"] += (shuffle_r.get("Remote Bytes Read", 0)
                                          + shuffle_r.get("Local Bytes Read", 0))
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)


def mean_per_key(per_key: dict[str, dict[str, float]], keys: list[str]) -> dict[str, float]:
    """Field-wise mean over ``keys`` (a key with no jobs counts as zeros)."""
    if not keys:
        return dict.fromkeys(FIELDS, 0.0)
    zero = dict.fromkeys(FIELDS, 0.0)
    return {f: sum(per_key.get(k, zero)[f] for k in keys) / len(keys) for f in FIELDS}
