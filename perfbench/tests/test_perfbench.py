"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The end-to-end tests run each workload in its short mode (``--seconds
1``) through ``run.py``, untraced and traced, and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
from harness import percentile  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int, cwd: str = ROOT, timeout: float = 400):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_short_run_reports_every_metric_and_passes_checks(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, evidence, last = proc.stdout.strip().splitlines()
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, evidence
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == wanted
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    elif workload == "stream_live":
        # the file source's input-row counter is reported as measured
        assert result["metrics"]["sources.input_rows_ratio"]["value"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = _run("stream_live", 0, cwd=str(tmp_path), timeout=120)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_percentile_is_nearest_rank():
    values = list(range(1, 41))
    assert percentile(values, 0.75) == 30  # ten values lie above it
    assert percentile(values, 0.5) == 20
    assert percentile([5.0], 0.75) == 5.0


def _write_log(path, events):
    os.makedirs(path)
    with open(os.path.join(path, "events_1_app"), "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def test_eventlog_reduce_sums_tasks_per_job_key(tmp_path):
    log = str(tmp_path / "eventlog_v2_app")
    scope = json.dumps({"id": "3", "name": "MapInPandas"})
    metrics = {"Executor Run Time": 100, "Executor CPU Time": 40_000_000, "JVM GC Time": 5,
               "Input Metrics": {"Bytes Read": 10},
               "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
               "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
               "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4}
    _write_log(log, [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"streaming.sql.batchId": "4"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "RDD Info": [{"Name": "x", "Scope": scope}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "RDD Info": []}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": metrics},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": metrics},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": metrics},
    ])
    out = eventlog.reduce(str(tmp_path), lambda p: p.get("streaming.sql.batchId"))
    assert set(out) == {"4"}
    got = out["4"]
    assert (got["jobs"], got["stages"], got["tasks"], got["python_rdd_stages"]) == (1, 2, 2, 1)
    assert got["task_run_ms"] == 200 and got["task_cpu_ms"] == 80 and got["task_noncpu_ms"] == 120
    assert (got["gc_ms"], got["scan_bytes"], got["shuffle_write_bytes"]) == (10, 20, 14)
    assert (got["shuffle_read_bytes"], got["spill_bytes"]) == (6, 14)
    assert eventlog.mean_per_key(out, ["4", "5"])["tasks"] == 1


def test_files_map_to_the_epoch_that_read_them(tmp_path):
    import stream_live

    ckpt = tmp_path / "checkpoint"
    (ckpt / "sources" / "0").mkdir(parents=True)
    (ckpt / "offsets").mkdir()
    # source offsets 0 and 1; epoch 1 read no files (a no-data epoch)
    for off, names in ((0, ["a.csv"]), (1, ["b.csv", "c.csv"])):
        lines = ["v1"] + [json.dumps({"path": f"file:///in/{n}", "batchId": off}) for n in names]
        (ckpt / "sources" / "0" / str(off)).write_text("\n".join(lines))
    for epoch, off in ((0, 0), (1, 0), (2, 1)):
        (ckpt / "offsets" / str(epoch)).write_text(f'v1\n{{}}\n{{"logOffset":{off}}}')
    assert stream_live._epochs_of_files(str(ckpt)) == {"a.csv": 0, "b.csv": 2, "c.csv": 2}


def test_file_schedule_is_a_function_of_the_seed():
    from publisher import FileSchedule

    def ids(seed):
        s = FileSchedule.generate(seed, 4, 20, 0.1)
        return [[e["event_id"] for e in b] for b in s.batches], s.redelivered

    assert ids(1) == ids(1)
    assert ids(1) != ids(2)
    batches, redelivered = ids(1)
    assert redelivered == 6 and len(batches[1]) == 22
