"""Self-tests of the benchmark (not of the program it measures).

    python3 -m pytest -q perfbench/test_perfbench.py

The end-to-end cases run ``perfbench/run.py`` as a subprocess at about
20k turns; each starts its own JVM, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs, tracing
from perfbench.run import unstolen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> tuple[dict, list[str]]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def assert_metrics(res: dict, specs: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_end_to_end_metric(workload):
    res, _ = result(bench("--workload", workload, "--seconds", "1", "--turns", "20000"))
    assert_metrics(res, SPEC["end_to_end"])
    assert res["correct"] and res["failed"] == 0
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0, m["name"]


def test_perturbed_expected_count_fails_the_check():
    res, lines = result(bench(
        "--workload", "route_fanout", "--seconds", "1", "--turns", "20000",
        "--perturb-expected",
    ))
    assert not res["correct"]
    assert res["failed"] / res["attempted"] > 0
    assert any(line.startswith("# FAILED") for line in lines)


def test_traced_run_attributes_cpu_to_every_layer():
    res, lines = result(bench(
        "--workload", "patterndb_50", "--seconds", "1", "--turns", "20000", "--trace", "1",
    ))
    assert_metrics(res, SPEC["per_layer"])
    assert res["correct"]
    [groups_line] = [line for line in lines if line.startswith("# groups ")]
    groups = json.loads(groups_line[len("# groups "):])
    layer_groups = {g: m for g, m in groups.items() if g.startswith("layer:")}
    assert len(layer_groups) >= 12
    for g, m in layer_groups.items():
        assert m["cpu_s"] > 0, g
    spans = os.path.join(ROOT, "perfbench", "out", "spans-patterndb_50-7.jsonl")
    names = {json.loads(line)["name"] for line in open(spans)}
    assert {"setup", "layer:transcripts", "layer:patterndb", "layer:checkpoint_run"} <= names


def test_fails_without_the_program():
    bare = os.path.join(ROOT, "perfbench", "out", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
        ignore=shutil.ignore_patterns("out", "__pycache__"),
    )
    try:
        proc = bench("--workload", "route_fanout", "--seconds", "1", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_inputs_are_a_function_of_the_seed():
    a = inputs.events_table(5000, 25, seed=1, hot_convs=5)
    assert a.equals(inputs.events_table(5000, 25, seed=1, hot_convs=5))
    assert not a.equals(inputs.events_table(5000, 25, seed=2, hot_convs=5))
    users = a.column("user_id").to_numpy()
    assert 0.25 < (users < 5).mean() < 0.35  # the hot share


def test_group_metrics_maps_tasks_through_job_stages(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "layer:a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
         "Task Metrics": {"Executor CPU Time": 2_000_000_000, "Executor Run Time": ms,
                          "JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}}
        for sid, ms in ((0, 1000), (1, 3000), (1, 1000), (2, 5000))
    ]
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = tracing.group_metrics(str(tmp_path))
    assert set(g) == {"layer:a"}
    assert g["layer:a"]["tasks"] == 3
    assert g["layer:a"]["cpu_s"] == pytest.approx(6.0)
    assert g["layer:a"]["gc_s"] == pytest.approx(0.3)
    assert g["layer:a"]["shuffle_write_bytes"] == 30
    assert g["layer:a"]["stage_run_ms"] == {0: [1000], 1: [3000, 1000]}



def test_unstolen_time_subtracts_steal_down_to_the_cpu_floor():
    assert unstolen(5.0, 1.5, 8.0, 4) == pytest.approx(3.5)
    assert unstolen(5.0, 0.0, 8.0, 4) == pytest.approx(5.0)
    # steal on every vCPU at once: the pass cannot have been shorter
    # than its CPU seconds spread over all vCPUs
    assert unstolen(10.0, 9.5, 8.0, 4) == pytest.approx(2.0)
