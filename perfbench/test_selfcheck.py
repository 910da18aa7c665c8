"""Self-checks of the benchmark's tracing (not part of the engine's suite).

    python3 -m pytest perfbench/test_selfcheck.py -q

Runs factory traced once and job_resume traced twice (about 5 minutes on
4 cores) and asserts that the labelled spans account for the traced op's
stage task time to within 5 %, and that span job counts and CC iteration
counts repeat exactly across two traced runs of the same seed. The first
test needs no Spark: it pins BENCHMARK.json to the metric names run.py
prints.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

SEED = 11
WORKLOADS = ("factory", "job_resume")


def _traced(workload: str) -> dict:
    subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=600,
    )
    path = run.WORK / "traces" / f"{workload}-seed{SEED}.json"
    return json.loads(path.read_text())


@pytest.fixture(scope="module")
def first_runs():
    return {w: _traced(w) for w in WORKLOADS}


def test_benchmark_json_names_match_run():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS


@pytest.mark.parametrize("workload", WORKLOADS)
def test_labelled_task_time_reconciles(first_runs, workload):
    trace = first_runs[workload]["trace"]
    assert trace["total_task_s"] > 0
    assert abs(trace["labelled_task_s"] - trace["total_task_s"]) <= 0.05 * trace["total_task_s"]
    assert all(first_runs[workload]["checks"].values())


def test_jobs_and_iterations_repeat(first_runs):
    again = _traced("job_resume")
    key = lambda run_: [(s["name"], s["jobs"], s["counters"].get("iterations"))
                        for s in run_["trace"]["spans"]]
    assert key(again) == key(first_runs["job_resume"])
    assert again["metrics"]["canon.cc.iterations"] > 0
