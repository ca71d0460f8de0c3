"""The benchmark's own tests: a smoke run of every workload on the sf0.001
tables, the trace invariants, and the refusal to run without the engine.

    python3 -m pytest perfbench/tests -q

Each smoke run is a fresh Spark process (about 30 s), six in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        SPEC["command"]
        + ["--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "sf0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.fixture(scope="module")
def runs():
    cache: dict = {}

    def get(workload: str, trace: int):
        if (workload, trace) not in cache:
            p = run_bench(workload, trace)
            assert p.returncode == 0, p.stderr[-3000:]
            lines = p.stdout.strip().splitlines()
            cache[workload, trace] = (json.loads(lines[-2]), json.loads(lines[-1]))
        return cache[workload, trace]

    return get


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_prints_every_named_metric(runs, workload, trace):
    _, result = runs(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_trace_invariants(runs, workload):
    detail, _ = runs(workload, 1)
    with open(detail["trace_file"]) as f:
        trace = json.load(f)
    spans = {s["id"]: s for s in trace["spans"]}
    assert spans
    eps = 1e-6
    for s in spans.values():
        assert s["self_s"] >= -eps, s
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start_s"] - eps <= s["start_s"] <= s["end_s"] <= p["end_s"] + eps
    # Every job Spark ran while the wrappers were in is owned by one span.
    owned = [j for s in spans.values() for j in s["jobs"]]
    assert sorted(owned) == sorted(int(j) for j in trace["jobs"])
    assert trace["unattributed_jobs"] == []
    assert sum(s["self_s"] for s in spans.values()) <= sum(trace["traced_passes_s"]) + eps


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's own
    files, a run exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    p = run_bench(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
