"""Toy-size end-to-end runs of every workload through the command line, as
the benchmark's caller runs it."""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd, *args, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


_toy_runs: dict = {}


def _toy(workload, trace):
    if (workload, trace) not in _toy_runs:
        _toy_runs[workload, trace] = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "3", "--trace",
                                          trace, "--toy")
    return _toy_runs[workload, trace]


WORKLOADS = [w["name"] for w in _spec()["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_toy_run_prints_every_metric(workload, trace):
    p = _toy(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in want]
    for m in want:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    if trace == "0":
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in want)
    assert any(ln.startswith("metric error_rate = 0 ") for ln in lines)
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_runs"))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_inputs_traced_or_not(workload):
    records = []
    for trace in ("0", "1"):
        p = _toy(workload, trace)
        assert p.returncode == 0, p.stderr[-3000:]
        records.append(json.loads(p.stdout.split("\n", 1)[0].removeprefix("run ")))
    assert records[0]["input_digest"] == records[1]["input_digest"]
    assert records[0]["ops" if workload == "mixed_ingest" else "batches"] >= 1


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "crawl_dedup", "--seed", "1", "--seconds", "1", "--trace", "0", timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""
