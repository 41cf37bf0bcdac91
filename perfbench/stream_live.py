"""Workload ``stream_live``: the streaming pipeline under open-loop
file arrivals.

Traffic: one CSV file of 125 events every 0.2 s (625 events/s), with 5%
of each file's rows redelivered from earlier files.  The pipeline runs
as ``build_pipeline(...).start()`` ships it, on its own directories,
with two settings that depart from the defaults: a 1 s processing-time
trigger (default 10 s) and at most 64 files per trigger (default 1), a
cap that never binds at this rate; README.md gives the reasons.  Each
micro-batch takes the files that arrived while the previous one ran, so
the backlog stays bounded; a file's latency is its wait for the next
epoch plus that epoch's run.
The reference's one-file-every-5 s shape is too slow to give a tail
percentile within one run.

Latency of a file runs from the time its publish was due to the commit
of the epoch that consumed it, after all three sinks are written: the
file-to-epoch map is the file source's own log in the checkpoint
(``sources/0``) and the commit time is the modification time of the
epoch's ``commits/<id>`` entry, so nothing is added to the pipeline to
observe it.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import time
from collections import Counter
from datetime import datetime

from spark_streaming_postgres_lab2_spark.config import StreamingConfig
from spark_streaming_postgres_lab2_spark.operators.enrich import transform_and_enrich
from spark_streaming_postgres_lab2_spark.operators.validate import validate
from spark_streaming_postgres_lab2_spark.schema.registry import get_registry
from spark_streaming_postgres_lab2_spark.streaming.pipeline import build_pipeline

import eventlog
from harness import TAIL_Q, Engine, Tally, fresh_dir, median, percentile, wait_for
from publisher import FileSchedule, Publisher
from tracing import SinkTracing

CADENCE_S = 0.2
EVENTS_PER_FILE = 125
REDELIVER_SHARE = 0.05
TRIGGER_S = 1
MAX_FILES_PER_TRIGGER = 64
DRAIN_TIMEOUT_S = 60.0
LEAD_IN_S = 4.0  # published before the measured window, to reach steady state
NOT_EXERCISED = ("queries.",)
BACKLOG_FILES, BACKLOG_EVENTS, BACKLOG_FILES_PER_TRIGGER = 12, 2000, 4


def _config(base: str, max_files: int = MAX_FILES_PER_TRIGGER) -> StreamingConfig:
    return StreamingConfig(
        input_path=f"{base}/in",
        checkpoint_path=f"{base}/checkpoint",
        output_path=f"{base}/out",
        trigger_seconds=TRIGGER_S,
        max_files_per_trigger=max_files,
    )


def _epochs_of_files(checkpoint: str) -> dict[str, int]:
    """File name -> id of the epoch that read it.  The file source logs
    each file under its own offset counter (``sources/0``), which skips
    the epochs that read no files; the offset log (``offsets/<id>``)
    records that counter at each epoch, so the epoch that read a file is
    the first one whose recorded offset reaches the file's."""
    by_offset: dict[str, int] = {}
    for path in glob.glob(f"{checkpoint}/sources/0/*"):
        name = os.path.basename(path)
        if name.startswith(".") or name.endswith(".crc"):
            continue
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:  # line 1 is the log version
                entry = json.loads(line)
                by_offset[os.path.basename(entry["path"])] = entry["batchId"]
    epochs: list[tuple[int, int]] = []
    for path in glob.glob(f"{checkpoint}/offsets/[0-9]*"):
        if os.path.basename(path).isdigit():
            with open(path) as fh:
                lines = fh.read().splitlines()
            if len(lines) >= 3:  # version, metadata, then the source's offset
                epochs.append((json.loads(lines[2])["logOffset"], int(os.path.basename(path))))
    epochs.sort()
    offsets = [o for o, _ in epochs]
    out = {}
    for name, off in by_offset.items():
        i = bisect.bisect_left(offsets, off)
        if i < len(epochs):
            out[name] = epochs[i][1]
    return out


def _commit_times(checkpoint: str) -> dict[int, float]:
    return {
        int(os.path.basename(p)): os.path.getmtime(p)
        for p in glob.glob(f"{checkpoint}/commits/[0-9]*")
        if os.path.basename(p).isdigit()
    }


def _epoch_start(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


class LivePipeline:
    """One pipeline on its own directories, fed by its own publisher."""

    def __init__(self, engine: Engine, base: str, schedule: FileSchedule):
        fresh_dir(base)
        self.cfg = _config(base)
        self.pipeline = build_pipeline(engine.spark, self.cfg)
        self.publisher = Publisher(schedule, self.cfg.input_path, f"{base}/staging", CADENCE_S)
        self.query = None

    def start(self) -> bool:
        """Publish the set-up file, start the query and wait for the
        commit of its first epoch."""
        os.makedirs(self.cfg.input_path, exist_ok=True)
        os.makedirs(self.publisher.staging, exist_ok=True)
        self.publisher.publish_now(0, time.time())
        self.query = self.pipeline.start()
        return wait_for(lambda: 0 in _commit_times(self.cfg.checkpoint_path), DRAIN_TIMEOUT_S)

    def measure(self, engine: Engine, lead: int) -> dict:
        """Publish the rest of the schedule on time, the first ``lead``
        files to reach steady state, and wait until every file is
        committed.  CPU is read at the first and last measured publish,
        both in steady state."""
        start = time.time() + 0.2
        self.publisher.start(start, first=1)
        files = len(self.publisher.schedule.batches) - 1
        window = (start + lead * CADENCE_S, start + files * CADENCE_S)
        cpu = []
        for t in window:
            time.sleep(max(0.0, t - time.time()))
            cpu.append(engine.cpu_s() - self.publisher.cpu_s())
        ckpt = self.cfg.checkpoint_path

        def drained() -> bool:
            log, commits = _epochs_of_files(ckpt), _commit_times(ckpt)
            return len(self.publisher.published) == files + 1 and all(
                p.name in log and log[p.name] in commits for p in self.publisher.published)

        ok = wait_for(drained, DRAIN_TIMEOUT_S, poll=0.1)
        self.publisher.stop()
        # an epoch's progress is recorded just after its commit entry is written
        epochs = set(_epochs_of_files(ckpt).values()) & set(_commit_times(ckpt))
        ok = ok and wait_for(lambda: epochs <= {
            p["batchId"] for p in self.query.recentProgress}, DRAIN_TIMEOUT_S, poll=0.1)
        progress = [dict(p) for p in self.query.recentProgress]
        self.query.stop()
        return {"drained": ok, "cpu_rate": (cpu[1] - cpu[0]) / (window[1] - window[0]),
                "progress": progress, "lead": lead,
                "log": _epochs_of_files(ckpt), "commits": _commit_times(ckpt)}

    def metrics(self, m: dict) -> tuple[dict, dict, dict, list[int]]:
        """End-to-end and per-layer figures of one measured window, the
        run evidence, and the ids of the epochs that read measured files."""
        published = self.publisher.published
        pub = published[1 + m["lead"]:]
        log, commits = m["log"], m["commits"]
        done = [p for p in pub if p.name in log and log[p.name] in commits]
        lat = [commits[log[p.name]] - p.due for p in done]
        epochs = sorted({log[p.name] for p in done})
        by_id = {p["batchId"]: p for p in m["progress"]}
        data = [by_id[b] for b in epochs if b in by_id]
        nodata = {p["batchId"] for p in m["progress"] if epochs and epochs[0] <= p["batchId"]
                  and p["numInputRows"] == 0} - set(epochs)
        wait = [_epoch_start(by_id[log[p.name]]) - p.due for p in done if log[p.name] in by_id]

        def pending(t: float) -> int:
            return sum(1 for q in published if q.at <= t and not (
                q.name in log and commits.get(log[q.name], float("inf")) <= t))

        def dur(key: str) -> list[float]:
            return [p["durationMs"].get(key, 0) for p in data]

        rows_read = sum(q.rows for q in published if log.get(q.name) in set(epochs))
        state = data[-1]["stateOperators"][0] if data and data[-1]["stateOperators"] else {}
        batch_s = median(dur("triggerExecution")) / 1000.0
        e2e = {
            "latency_p50_s": median(lat),
            "latency_p75_s": percentile(lat, TAIL_Q),
            "batch_s": batch_s,
            # epochs run back to back under this load
            "cpu_s_per_batch": m["cpu_rate"] * batch_s,
        }
        layers = {
            "sources.list_ms": median(dur("latestOffset")),
            "sources.get_batch_ms": median(dur("getBatch")),
            "sources.queue_wait_ms": 1000.0 * median(wait),
            "sources.backlog_files_max": float(max(pending(p.at) for p in done)),
            "sources.input_rows_ratio": sum(p["numInputRows"] for p in data) / rows_read,
            "streaming.planning_ms": median(dur("queryPlanning")),
            "streaming.add_batch_ms": median(dur("addBatch")),
            "streaming.wal_commit_ms": median(dur("walCommit")),
            "streaming.commit_offsets_ms": median(dur("commitOffsets")),
            "streaming.nodata_epochs": float(len(nodata)),
            "streaming.state_rows": float(state.get("numRowsTotal", 0)),
            "streaming.state_bytes": float(state.get("memoryUsedBytes", 0)),
        }
        late = self.publisher.lateness_s(1)
        evidence = {
            "files": len(pub), "samples": len(lat), "epochs": len(epochs),
            "publisher_lateness_s_max": max(late), "publisher_lateness_s_median": median(late),
        }
        return e2e, layers, evidence, epochs


def check_sinks(spark, live: LivePipeline, tally: Tally, label: str) -> int:
    """Compare the three sinks with a batch recomputation of
    validate -> transform_and_enrich over the files published; return
    the number of redelivered valid rows the dedup stage dropped."""
    cfg = live.cfg
    files = [os.path.join(cfg.input_path, p.name) for p in live.publisher.published]
    raw = (spark.read.schema(get_registry().get_schema()).option("header", "true")
           .csv(files))
    expected = [(r.event_id, r.is_valid, r.validation_errors) for r in
                transform_and_enrich(validate(raw)).select(
                    "event_id", "is_valid", "validation_errors").collect()]
    sink = live.pipeline.router.sink
    valid = [r.event_id for r in spark.read.parquet(sink.events_path).select("event_id").collect()]
    dead = Counter((r.event_id, r.validation_errors) for r in spark.read.parquet(
        sink.dead_letter_path).select("event_id", "validation_errors").collect())
    qm = spark.read.parquet(sink.metrics_path).selectExpr(
        "sum(total_rows) t", "sum(valid_rows) v", "sum(invalid_rows) i").first()
    expected_valid = [e for e, ok, _ in expected if ok]
    published = sum(p.rows for p in live.publisher.published)
    tally.check(f"{label}.rows_read", published, len(expected))
    tally.check(f"{label}.valid_set", sorted(set(expected_valid)), sorted(valid))
    tally.check(f"{label}.redeliveries_kept_once", len(set(valid)), len(valid))
    tally.check(f"{label}.dead_letter",
                Counter((e, err) for e, ok, err in expected if not ok), dead)
    tally.check(f"{label}.metrics_total_rows", len(valid) + sum(dead.values()), qm.t)
    tally.check(f"{label}.metrics_valid_rows", len(valid), qm.v)
    tally.check(f"{label}.metrics_invalid_rows", sum(dead.values()), qm.i)
    return len(expected_valid) - len(valid)


LEAD_FILES = round(LEAD_IN_S / CADENCE_S)


def _files(seconds: float) -> int:
    """Files after the set-up file: the lead-in, then the measured ones."""
    return LEAD_FILES + max(1, round(seconds / CADENCE_S))


def _window(engine: Engine, live: LivePipeline, tally: Tally, label: str):
    m = live.measure(engine, LEAD_FILES)
    tally.op(m["drained"], f"{label}: not every published file was committed")
    done = sum(1 for p in live.publisher.published[1:]
               if p.name in m["log"] and m["log"][p.name] in m["commits"])
    tally.attempted += done  # each committed file is one operation
    return m


def run(engine: Engine, seed: int, seconds: float, trace: bool, work: str,
        t_process: float, tally: Tally) -> tuple[dict, dict, dict]:
    schedule = FileSchedule.generate(seed, _files(seconds) + 1, EVENTS_PER_FILE, REDELIVER_SHARE)
    engine.start()
    live = LivePipeline(engine, f"{work}/live", schedule)
    tally.op(live.start(), "set-up: first epoch not committed")
    setup = time.time() - t_process  # includes imports, JVM launch and the first epoch
    m = _window(engine, live, tally, "window")
    e2e, layers, evidence, _ = live.metrics(m)
    e2e["setup_s"] = setup
    e2e["retained_heap_mb"] = engine.retained_heap_mb()
    dropped = check_sinks(engine.spark, live, tally, "sinks")
    evidence.update(redelivered_rows=schedule.redelivered,
                    dedup_dropped_rows=dropped)
    if not trace:
        return e2e, {}, evidence
    return e2e, _traced(engine, schedule, work, tally, e2e), evidence


def _traced(engine: Engine, schedule: FileSchedule, work: str, tally: Tally,
            untraced: dict) -> dict:
    # the untraced counterpart of the traced set-up: a new session on the
    # same, already running JVM
    t0 = time.time()
    engine.restart()
    warm = LivePipeline(engine, f"{work}/live-warm", schedule)
    tally.op(warm.start(), "warm set-up: first epoch not committed")
    warm_setup = time.time() - t0
    warm.query.stop()
    log_dir = fresh_dir(f"{work}/eventlog-live")
    eventlog.enable(engine.jvm, log_dir)
    try:
        t0 = time.time()
        engine.restart()
        live = LivePipeline(engine, f"{work}/live-traced", schedule)
        with SinkTracing(live.pipeline) as tr:
            tally.op(live.start(), "traced set-up: first epoch not committed")
            setup = time.time() - t0
            tr.spans.counts.clear()
            m = _window(engine, live, tally, "traced window")
        e2e, layers, _, epochs = live.metrics(m)
        e2e.update(setup_s=setup, retained_heap_mb=engine.retained_heap_mb())
        layers["memory.peak_rss_mb"] = engine.peak_rss_mb()
        layers["streaming.dedup_dropped_rows"] = float(
            check_sinks(engine.spark, live, tally, "traced sinks"))
        layers.update(tr.layer_metrics(epochs))
        engine.stop()  # closes the event log
    finally:
        eventlog.disable(engine.jvm)
    per_epoch = eventlog.reduce(
        log_dir, lambda props: props.get("streaming.sql.batchId"))
    spark_layer = eventlog.mean_per_key(per_epoch, [str(b) for b in epochs])
    layers.update({f"spark.{k}": v for k, v in spark_layer.items()})
    layers.update({f"overhead.{k}": e2e[k] - untraced[k] for k in untraced})
    layers["overhead.setup_s"] = e2e["setup_s"] - warm_setup
    layers.update(_backlog_baselines(engine, work, tally))
    return layers


def _backlog_baselines(engine: Engine, work: str, tally: Tally) -> dict:
    """One closed-loop backlog drain (``availableNow``) on ``local[1]``,
    the single-thread baseline, and the same drain on all cores."""
    out = {}
    cores = os.environ["SPARK_GRAFT_CPUS"]
    backlog = FileSchedule.generate(7, BACKLOG_FILES, BACKLOG_EVENTS, REDELIVER_SHARE)
    for label, cpus in (("local1", "1"), ("localN", cores)):
        os.environ["SPARK_GRAFT_CPUS"] = cpus
        try:
            spark = engine.restart()
            base = fresh_dir(f"{work}/backlog-{label}")
            cfg = _config(base, BACKLOG_FILES_PER_TRIGGER)
            pub = Publisher(backlog, cfg.input_path, f"{base}/staging", 0.0)
            os.makedirs(cfg.input_path)
            os.makedirs(pub.staging)
            for i in range(BACKLOG_FILES):
                pub.publish_now(i, time.time())
            rows = sum(p.rows for p in pub.published)
            t0 = time.time()
            q = build_pipeline(spark, cfg).start(trigger_once=True)
            ok = q.awaitTermination(DRAIN_TIMEOUT_S * 2)
            wall = time.time() - t0
            tally.op(bool(ok) and q.exception() is None, f"backlog drain {label} failed")
            out[f"baseline.{label}_events_per_s"] = rows / wall
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = cores
    return out
