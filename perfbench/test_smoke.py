"""Smoke test of the benchmark itself: one pass per workload on the
sf0.001-sized tables, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that every metric of BENCHMARK.json prints with its unit, that the
report line carries error_rate, and that error_rate is 0.
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


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--preset", "smoke"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    report = json.loads(next(x for x in lines if x.startswith("report "))[len("report "):])
    return report, json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints_and_nothing_fails(workload, trace):
    report, result = bench(workload, trace)
    assert report["error_rate"] == 0
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


def test_refuses_outside_a_checkout():
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                          "analytics"], cwd=HERE, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and out.stdout == ""
