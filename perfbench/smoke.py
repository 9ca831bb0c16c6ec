"""Smoke test of the benchmark itself, at tiny input size.

    python3 -m pytest perfbench/smoke.py -q

For each workload it runs the benchmark untraced and traced, and checks
that each run is correct, prints exactly the metric names BENCHMARK.json
declares, and that both runs produce identical correctness digests.
About a minute per run on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, seed: int = 5) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    full_path = os.path.join(
        ROOT, ".perfbench", "results", f"{workload}-seed{seed}-trace{trace}.json"
    )
    with open(full_path) as f:
        return last, json.load(f)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_tiny(workload):
    untraced, full0 = _run(workload, 0)
    traced, full1 = _run(workload, 1)
    for res in (untraced, traced):
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(untraced["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert set(traced["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    for res in (untraced, traced):
        for name, m in res["metrics"].items():
            assert m["unit"] == units[name]
            assert isinstance(m["value"], float)
    for name in ("setup_s", "events_per_s", "commit_s_p50"):
        assert untraced["metrics"][name]["value"] > 0
    assert full0["digests"] and full0["digests"] == full1["digests"]
    assert "trace_overhead" in full1
