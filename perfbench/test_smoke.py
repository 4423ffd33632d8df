"""Smoke test of the benchmark: every workload, one short run each.

    python3 -m pytest perfbench/test_smoke.py -q

Takes several minutes (each run starts Spark, and generates sf0.1-sized tables). Checks the result
line's shape, that every metric BENCHMARK.json names prints with its unit,
and that no execution failed its correctness check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)

RUNS = [(w, 0) for w in ("llm_dedup", "bus_live", "sql_batch", "stream_replay")]
RUNS += [(w["name"], 1) for w in SPEC["workloads"]]


@pytest.mark.parametrize("workload,trace", RUNS)
def test_workload_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    expected = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in expected} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    with open(os.path.join(HERE, "out", f"{workload}-seed7-trace{trace}.json"), encoding="utf-8") as fh:
        assert json.load(fh)["failed_ratio"] == 0


def test_refuses_ab_knob():
    env = dict(os.environ, NYUKI_LSH_GRAM_BLOCK="512")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "llm_dedup",
         "--seed", "1", "--seconds", "1"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
