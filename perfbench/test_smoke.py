"""Smoke test of the benchmark at sf0.001.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced for one second each and checks
that the last stdout line names every metric of BENCHMARK.json with its
unit, then corrupts a checked output and the end-state check and expects
each run to report the failure. About five minutes on four cores: each
run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
           *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert out["metrics"]["ok_frac"]["value"] == 1.0


@pytest.mark.parametrize("template", ["cy_union", "w_set"])
def test_corrupted_output_counts_as_failure(template):
    # cy_union: a checked read's rows; w_set: the end-state balance check
    out = _run("graph_cypher", 0, "--corrupt", template)
    assert out["correct"] is False and out["failed"] >= 1
    assert out["metrics"]["ok_frac"]["value"] < 1.0
