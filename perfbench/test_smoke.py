"""Seeded smoke test of the benchmark on the smallest test data (sf0.001).

Each workload runs for one round of its op mix in its own process.  The
tests assert that every metric ``BENCHMARK.json`` names is emitted with
its unit, that an expected result poisoned on purpose
(``--corrupt-check``) is counted as a failure, and that the benchmark
refuses to run without the package next to it.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes: every run starts its own Spark driver.
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
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SMALL = {**os.environ, "PERFBENCH_DATA": run.test_data_dirs()["sf0.001"]}
#: per-call layer metrics each workload must time in a traced run
LAYER_CALLS = {
    "read_mix": ["plans.builder.build_ms", "plans.optimizer.optimize_ms",
                 "functions.retrieval.bm25_ms",
                 "functions.similarity.ivfpq_probe_ms",
                 "functions.retrieval.index_build_s",
                 "functions.similarity.index_build_s"],
    "dml_mixed": ["plans.builder.build_ms", "database.dml.commit_ms",
                  "partitioned.merge_ms", "partitioned.delete_ms",
                  "mview.refresh_ms", "transactions.commit_ms"],
}


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), *extra]
    out = subprocess.run(cmd, cwd=ROOT, env=SMALL, capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def assert_metrics(result: dict, kind: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float)
               for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_poisoned_check(workload):
    report, result = bench(workload, 0, "--corrupt-check")
    assert_metrics(result, "end_to_end")
    assert result["attempted"] >= 1
    # no op failed; the one poisoned expectation is the only failure
    assert report["ops"]["failed_ops"] == 0
    assert result["failed"] >= 1 and not result["correct"]
    assert report["error_rate"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_per_layer_metrics(workload):
    report, result = bench(workload, 1)
    assert_metrics(result, "per_layer")
    assert result["correct"] and result["failed"] == 0
    assert report["layer_ms"]
    metrics = result["metrics"]
    assert all(metrics[m]["value"] > 0 for m in LAYER_CALLS[workload])


def test_refuses_to_run_without_the_package():
    bare = os.path.join(HERE, "_work", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_work", "_out",
                                                      "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             WORKLOADS[0], "--seed", "1", "--seconds", "1",
             "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
