"""Workload ``query_mix``: closed-loop passes over a fixed list of
``queries()`` entries, one query at a time.

The list mixes the reference analytics surface and TPC-H-style SQL
(JVM scans, joins, aggregations and windows, no Python workers) with
LLM-corpus operators (``functions/similarity.py``: Arrow/pandas workers
and collects into Python inside the ``queries()`` call).  A query's
latency runs from the ``queries()[name](spark, dir)`` call to the last
row collected, so work the function does eagerly
counts.  The first pass is an untimed warm-up; the timed passes follow
until ``--seconds`` have passed, at least ``MIN_PASSES`` of them, each
in an order drawn from the seed.  Results of the last timed pass are
checked against the DuckDB oracle of ``oracle_sql()``.  Two corpus
queries without an oracle run once, untimed, after the warm-up pass and
are checked against a committed row count and hash.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import random
import time
import traceback

import eventlog
from harness import TAIL_Q, Engine, Tally, fresh_dir, median, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

QUERIES = [
    # reference analytics views and TPC-H-style SQL
    "hourly_event_summary", "sessionization", "tpch_q1", "nation_profit", "funnel_conversion",
    # corpus operators
    "embedding_near_dup", "ann_ivfpq_adc_audit", "similarity_topk",
]
# queries without a DuckDB oracle: run once after the warm-up pass,
# untimed, and checked against expected_rows.json
ROWS_ONLY = ["minhash_near_dup_fast", "ann_ivf_topk"]
SETUP_QUERY = "hourly_event_summary"  # the program's entry() query
MIN_PASSES = 5  # 40 latency samples
NOT_EXERCISED = ("sources.", "streaming.", "sinks.", "quality.", "retry.", "monitoring.",
                 "baseline.")
EXPECTED_ROWS = os.path.join(HERE, "expected_rows.json")
# the 0.01-scale fixture tables the repository's own tests and
# tools/parity_check.py read, committed here so the benchmark is self-contained
DATA = os.path.join(HERE, "data", "sf0.01")


def parity_tools():
    """The repository's oracle harness, ``tools/parity_check.py``."""
    spec = importlib.util.spec_from_file_location(
        "parity_check", os.path.join(ROOT, "tools", "parity_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def rows_digest(parity, rows, columns) -> str:
    return hashlib.sha256(repr(parity.canon(rows, columns)).encode()).hexdigest()


def _pass(spark, data: str, qs: dict, order: list[str], tally: Tally,
          results: dict | None = None, group: str | None = None) -> tuple[dict[str, float], float]:
    """Run each query once.  Return the latency of each query that
    succeeded and the seconds spent inside the ``queries()`` calls
    themselves; a query that raises counts as a failed operation.  With
    ``group``, the jobs of a query's call and of its collect are tagged
    with the job groups ``<group>.<name>.build`` and ``<group>.<name>.run``."""
    sc = spark.sparkContext
    out, build = {}, 0.0
    for name in order:
        t0 = time.perf_counter()
        try:
            if group:
                sc.setJobGroup(f"{group}.{name}.build", name)
            df = qs[name](spark, data)
            build += time.perf_counter() - t0
            if group:
                sc.setJobGroup(f"{group}.{name}.run", name)
            rows = df.collect()
        except Exception as exc:  # noqa: BLE001 - counted in `failed`, the run goes on
            tally.op(False, f"query {name}: {traceback.format_exception_only(exc)[-1].strip()}")
            continue
        out[name] = time.perf_counter() - t0
        tally.op(True, "")
        if results is not None:
            results[name] = (rows, df.columns, df.dtypes)
    return out, build


def _orders(seed: int):
    """Each pass's query order, drawn from the run seed."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(QUERIES, len(QUERIES))


def run(engine: Engine, seed: int, seconds: float, trace: bool, work: str,
        t_process: float, tally: Tally) -> tuple[dict, dict, dict]:
    import __spark_entry__

    qs = __spark_entry__.queries()
    spark = engine.start()
    qs[SETUP_QUERY](spark, DATA).collect()
    setup = time.time() - t_process  # includes imports, JVM launch and the first query
    orders = _orders(seed)
    t0 = time.time()
    _pass(spark, DATA, qs, next(orders), tally)
    cold = time.time() - t0
    results: dict = {}
    _pass(spark, DATA, qs, ROWS_ONLY, tally, results)

    cpu0, t_start = engine.cpu_s(), time.time()
    passes: list[dict[str, float]] = []
    while len(passes) < MIN_PASSES or time.time() - t_start < seconds:
        passes.append(_pass(spark, DATA, qs, next(orders), tally, results)[0])
    cpu = engine.cpu_s() - cpu0
    e2e = _e2e(passes, cpu)
    e2e.update(setup_s=setup, retained_heap_mb=engine.retained_heap_mb())
    check_results(results, DATA, tally)
    evidence = {"passes": len(passes), "samples": sum(len(p) for p in passes),
                "cold_pass_s": cold, "latencies_s": passes}
    if not trace:
        return e2e, {}, evidence
    layers = {f"queries.{n}.warm_s": median([p[n] for p in passes if n in p] or [0.0])
              for n in QUERIES}
    layers["queries.cold_pass_s"] = cold
    layers.update(_traced(engine, DATA, qs, orders, len(passes), work, tally, e2e))
    return e2e, layers, evidence


def _e2e(passes: list[dict[str, float]], cpu: float) -> dict:
    lat = [t for p in passes for t in p.values()]
    return {
        "latency_p50_s": median(lat),
        "latency_p75_s": percentile(lat, TAIL_Q),
        "batch_s": median([sum(p.values()) for p in passes]),
        "cpu_s_per_batch": cpu / len(passes),
    }


def check_results(results: dict, data: str, tally: Tally) -> None:
    """Hash-compare each result with the DuckDB oracle; queries without
    an oracle against their committed row count and hash."""
    import duckdb

    import __spark_entry__

    parity = parity_tools()
    oracles = __spark_entry__.oracle_sql()
    with open(EXPECTED_ROWS) as fh:
        expected = json.load(fh)
    con = duckdb.connect()
    try:
        parity.register_fixture_views(con, data)
        for name in QUERIES + ROWS_ONLY:
            if name not in results:  # the query failed; counted already
                continue
            rows, cols, dtypes = results[name]
            if name not in oracles:
                tally.check(f"{name}.rows_hash", expected.get(name),
                            {"rows": len(rows), "sha256": rows_digest(parity, rows, cols)})
                continue
            rel = con.sql(oracles[name])
            drows, dcols = rel.fetchall(), rel.columns
            tally.check(f"{name}.oracle_types", [], parity.type_problems(dtypes, dcols, rel.types))
            tally.check(f"{name}.oracle_rows", parity.canon(drows, dcols), parity.canon(rows, cols))
    finally:
        con.close()


def _traced(engine: Engine, data: str, qs: dict, orders, n_passes: int, work: str,
            tally: Tally, untraced: dict) -> dict:
    # the untraced counterpart of the traced set-up: a new session on the
    # same, already running JVM
    t0 = time.time()
    spark = engine.restart()
    qs[SETUP_QUERY](spark, data).collect()
    warm_setup = time.time() - t0
    log_dir = fresh_dir(f"{work}/eventlog-queries")
    eventlog.enable(engine.jvm, log_dir)
    try:
        t0 = time.time()
        spark = engine.restart()
        qs[SETUP_QUERY](spark, data).collect()
        setup = time.time() - t0
        jsc = spark.sparkContext._jsc
        cpu0 = engine.cpu_s()
        passes, build_s = [], []
        for i in range(n_passes):
            lat, build = _pass(spark, data, qs, next(orders), tally, group=f"p{i}")
            passes.append(lat)
            build_s.append(build)
        cpu = engine.cpu_s() - cpu0
        rdds = jsc.getPersistentRDDs().size()
        rdd_bytes = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
        e2e = _e2e(passes, cpu)
        e2e.update(setup_s=setup, retained_heap_mb=engine.retained_heap_mb())
        peak_rss = engine.peak_rss_mb()
        engine.stop()  # closes the event log
    finally:
        eventlog.disable(engine.jvm)
    per_group = eventlog.reduce(log_dir, lambda props: props.get("spark.jobGroup.id"))
    per_pass: dict[str, dict[str, float]] = {}
    eager_jobs = 0.0
    for group, acc in per_group.items():
        p = group.split(".", 1)[0]
        if not p.startswith("p"):
            continue
        tot = per_pass.setdefault(p, dict.fromkeys(eventlog.FIELDS, 0.0))
        for k, v in acc.items():
            tot[k] += v
        if group.endswith(".build"):
            eager_jobs += acc["jobs"]
    layers = {f"spark.{k}": v for k, v in eventlog.mean_per_key(
        per_pass, [f"p{i}" for i in range(n_passes)]).items()}
    layers.update({
        "queries.build_ms": 1000.0 * median(build_s),
        "queries.eager_jobs": eager_jobs / n_passes,
        "queries.checkpoint_rdds": float(rdds),
        "queries.checkpoint_bytes": float(rdd_bytes),
        "memory.peak_rss_mb": peak_rss,
    })
    layers.update({f"overhead.{k}": e2e[k] - untraced[k] for k in untraced})
    layers["overhead.setup_s"] = e2e["setup_s"] - warm_setup
    return layers
