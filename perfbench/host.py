"""Readings from ``/proc``: CPU time and peak memory of the engine's
processes, and the host evidence recorded with every run."""

from __future__ import annotations

import os
import platform
import sys

TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:  # the process or thread has exited
        return None
    # field 2 (comm) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the Python workers below the JVM)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(f"/proc/{entry}/stat")
            if f is not None:
                parent[int(entry)] = int(f[1])
    found: list[int] = []
    frontier = [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def alive(pid: int) -> bool:
    """The process exists and has not exited (a zombie has exited)."""
    f = _stat_fields(f"/proc/{pid}/stat")
    return f is not None and f[0] != "Z"


def process_cpu_s(pid: int, with_children: bool = True) -> float:
    f = _stat_fields(f"/proc/{pid}/stat")
    if f is None:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17 (index 11-14 after comm)
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / TICK


def thread_cpu_s(tid: int) -> float:
    f = _stat_fields(f"/proc/self/task/{tid}/stat")
    return 0.0 if f is None else (int(f[11]) + int(f[12])) / TICK


def engine_cpu_s(jvm_pid: int) -> float:
    """User+system CPU seconds of the JVM, the Python workers below it
    (live ones, and exited ones reaped into the JVM's child counters)
    and this process, which runs the session's own Python (``foreachBatch``
    callbacks, result collection)."""
    total = process_cpu_s(jvm_pid) + process_cpu_s(os.getpid(), with_children=False)
    return total + sum(process_cpu_s(p) for p in descendants(jvm_pid))


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident set (``VmHWM``) of the JVM, its live
    Python workers and this process."""
    total_kb = 0
    for pid in [jvm_pid, os.getpid(), *descendants(jvm_pid)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def steal_and_load() -> dict:
    """Cumulative CPU steal share since boot and the 1-minute loadavg;
    two readings bracket a run, and their difference is the steal share
    during it."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    steal = cpu[7] if len(cpu) > 7 else 0
    return {"jiffies_total": sum(cpu[:8]), "jiffies_steal": steal, "loadavg_1m": load1}


def steal_share(start: dict, end: dict) -> float:
    total = end["jiffies_total"] - start["jiffies_total"]
    return (end["jiffies_steal"] - start["jiffies_steal"]) / total if total > 0 else 0.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "executable": os.path.basename(sys.executable),
    }
