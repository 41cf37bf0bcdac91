"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 20 --trace 0

Run from the repository root.  Drives the program only through its
public entry points with its default configuration on
``local[<cores>]``, checks the outputs, and prints as its last stdout
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``.  The line
before it (``# evidence {...}``) records the host and run details.
Everything the run writes goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

import harness
import host

T_PROCESS = time.time()  # set-up time counts from here: before pyspark is imported
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_live", "query_mix")  # each one a module of this directory


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host.cores())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    os.environ.pop("SPARK_GRAFT_CACHE_TABLES", None)


def _capture_stderr(path: str) -> int:
    """Send fd 2 (this process and the JVM it launches) to ``path``;
    return a duplicate of the original stderr."""
    saved = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    return saved


def _error_lines(path: str) -> list[str]:
    with open(path, errors="replace") as fh:
        return [ln.rstrip() for ln in fh if " ERROR " in ln]


def main(argv: list[str]) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import spark_streaming_postgres_lab2_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    spec = _spec()
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    log_path = os.path.join(work, "stderr.log")
    real_stderr = _capture_stderr(log_path)

    engine = harness.Engine()
    tally = harness.Tally()
    evidence: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                      "trace": args.trace, "cores": host.cores()}
    h0 = host.steal_and_load()
    metrics: dict = {}
    crashed = None
    try:
        wl = importlib.import_module(args.workload)
        # a traced run measures an untraced and a traced window of half the time each
        window_s = args.seconds / 2 if args.trace else args.seconds
        e2e, layers, ev = wl.run(engine, args.seed, window_s, bool(args.trace),
                                 work, T_PROCESS, tally)
        evidence.update(ev, versions=engine.versions, peak_rss_mb=engine.peak_rss_mb())
        metrics = layers if args.trace else e2e
    except Exception:  # noqa: BLE001 - the run is reported failed below
        crashed = traceback.format_exc()
    finally:
        engine.shutdown()
    h1 = host.steal_and_load()
    evidence.update(
        loadavg_1m_start=h0["loadavg_1m"], loadavg_1m_end=h1["loadavg_1m"],
        steal_share=host.steal_share(h0, h1), wall_s=time.time() - T_PROCESS,
        problems=tally.problems, error_log_lines=_error_lines(log_path)[:20],
    )
    os.dup2(real_stderr, 2)
    if args.trace and not crashed:
        # layers the workload does not run read zero
        metrics = {n: metrics.get(n, 0.0) if n.startswith(wl.NOT_EXERCISED) else metrics.get(n)
                   for n in names}
    missing = [n for n in names if metrics.get(n) is None]
    if crashed or missing:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.stderr.write(crashed or f"perfbench: metrics not measured: {missing}\n")
        return 1
    shutil.rmtree(work, ignore_errors=True)
    print("# evidence " + json.dumps(evidence, default=str))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": max(1, tally.attempted),
        "failed": tally.failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
