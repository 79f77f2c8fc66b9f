"""Fast test of the benchmark itself, at smoke size (a few minutes).

Run from the repo root:  python -m pytest perfbench/test_perfbench.py -q

Every workload runs once, traced: the JSON line must carry every per-layer
metric of BENCHMARK.json with its unit, and the printed table every
end-to-end metric with its unit. A tampered output row must raise
error_share and clear ``correct``.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, *extra: str) -> tuple[dict, dict[str, tuple[float, str]]]:
    """Run one smoke-size benchmark; returns the JSON result and the printed
    table as {name: (value, unit)}."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    table = {}
    for line in lines[:-1]:
        name, value, *unit = line.split()
        table[name] = (float(value), " ".join(unit))
    return json.loads(lines[-1]), table


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted_with_its_unit(workload):
    result, table = bench(workload, "--trace", "1")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)
    for m in SPEC["end_to_end"]:
        value, unit = table[m["name"]]
        assert unit == m["unit"] and value > 0, m["name"]
    assert table["error_share"] == (0.0, "ratio")


@pytest.mark.parametrize("workload", ["extract_mixed", "registry"])
def test_tampered_output_row_raises_error_share(workload):
    result, table = bench(workload, "--trace", "0", "--tamper")
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert result["correct"] is False and result["failed"] >= 1
    assert table["error_share"][0] > 0
