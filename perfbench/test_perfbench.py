"""Tiny-scale self-test of the benchmark (not part of ``tests/``).

    python -m pytest perfbench/test_perfbench.py -q

For each workload: one traced run prints every metric BENCHMARK.json
names, with its unit, runs on the pinned core count, passes its own
output checks and accounting and writes its span file; one run that
damages an output before the checks reports the damage as failed
operations.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload: str, *extra: str) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints(workload):
    lines, result = run_bench(workload, "--trace", "1")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    printed = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1] if len(ln.split()) == 3}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert printed.get(m["name"]) == m["unit"], m["name"]
    assert {m["name"] for m in SPEC["per_layer"]} == set(result["metrics"])
    assert printed["error_rate"] == "ratio"
    cores = max(1, min(4, (os.cpu_count() or 1) - 1))
    assert f" master local[{cores}] " in lines[0]  # the session Spark really started
    assert any(ln.startswith("accounting ok:") for ln in lines)
    assert os.path.isfile(
        os.path.join(ROOT, ".perfbench_work", "spans", f"{workload}-7.json"))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_counts_as_error(workload):
    lines, result = run_bench(workload, "--trace", "0", "--corrupt")
    assert result["failed"] >= 1 and not result["correct"]
    assert {m["name"] for m in SPEC["end_to_end"]} == set(result["metrics"])
    rate = next(ln for ln in lines if ln.startswith("error_rate "))
    assert float(rate.split()[1]) > 0
