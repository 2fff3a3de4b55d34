"""The benchmark's own test.

    python3 -m pytest perfbench -q

Smoke mode runs every workload at both trace settings on tiny inputs and
asserts that every metric BENCHMARK.json names is printed with its unit
and that every output check passed.  The event-log joiner is tested on a
hand-built log.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import sparktrace  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(cwd: str, workload: str, trace: int, smoke: bool = True):
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    cmd[0] = sys.executable
    if smoke:
        cmd.append("--smoke")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_prints_every_metric_with_its_unit(workload, trace):
    p = run_bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(str(tmp_path), SPEC["workloads"][0]["name"], 0, smoke=False)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_join_event_log():
    def task(stage, launch, finish, run_ms, write=0, out=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                                 "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
                                 "Shuffle Read Metrics": {"Local Bytes Read": write},
                                 "Output Metrics": {"Bytes Written": out}}}

    op = {sparktrace.OP_KEY: "pagerank"}
    ckpt = {**op, sparktrace.SUB_KEY: "save_state#3"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Properties": op},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": op},
        task(0, 1000, 1100, 100, write=2_000_000),
        task(0, 1000, 1100, 100),
        task(0, 1000, 1400, 400),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Accumulables": [
            {"Name": "time to run Python workers", "Value": "250"},
            {"Name": "data sent to Python workers", "Value": 3_000_000}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1200, "Properties": ckpt},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": ckpt},
        task(1, 1200, 1300, 100, out=5_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
        # untagged job (warm-up or check): ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}, "Properties": {}},
        task(2, 3000, 9000, 6000),
    ]
    m = sparktrace.join_event_log(events, ["pagerank", "slm"], {"pagerank": 3.0})
    assert m["pagerank.jobs"] == 2 and m["pagerank.stages"] == 2 and m["pagerank.tasks"] == 4
    assert m["pagerank.job_busy_s"] == pytest.approx(1.0)  # [1.0, 2.0] s, overlapping jobs
    assert m["pagerank.driver_s"] == pytest.approx(2.0)
    assert m["pagerank.exec_run_s"] == pytest.approx(0.7)
    assert m["pagerank.exec_cpu_s"] == pytest.approx(0.7)
    assert m["pagerank.task_skew"] == pytest.approx(4.0)
    assert m["pagerank.shuffle_write_mb"] == pytest.approx(2.0)
    assert m["checkpoint.mb_written"] == pytest.approx(5.0)
    assert m["kernels.py_run_s"] == pytest.approx(0.25)
    assert m["kernels.py_mb_sent"] == pytest.approx(3.0)
    assert m["slm.jobs"] == 0 and m["slm.driver_s"] == 0
