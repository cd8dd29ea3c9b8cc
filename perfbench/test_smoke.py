"""Smoke test of the benchmark: every workload (the listed ones and
``ingest_resume``) once at a tenth of its size, traced, from the root of
the checkout.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that the result line names every per-layer metric with its unit,
that the trace file holds every end-to-end metric with its unit, and that
the correctness gate passes (``ingest_resume``: fails only as documented).
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


def run_traced(workload: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1", "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    prov_line, result_line = out.stdout.strip().splitlines()[-2:]
    prov = json.loads(prov_line)["provenance"]
    with open(os.path.join(ROOT, prov["trace_file"])) as f:
        trace = json.load(f)
    return json.loads(result_line), trace


@pytest.mark.parametrize(
    "workload", [w["name"] for w in SPEC["workloads"]] + ["ingest_resume"]
)
def test_workload(workload):
    result, trace = run_traced(workload)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(result["metrics"][m["name"]]["value"], (int, float))
    for m in SPEC["end_to_end"]:
        assert trace["untraced"][m["name"]]["unit"] == m["unit"]
        assert trace["untraced"][m["name"]]["value"] > 0
    if workload == "ingest_resume":
        # Known failure of the program: a doc whose annotation has no
        # entities leaves no row in the sink, so the resume anti-join lets it
        # through and the NLP service is called for it again. The rows are
        # right; only the call count is off. Drop this branch once fixed.
        failures = trace["provenance"]["ingest"]["failures"]
        assert failures["calls"] > 0
        assert result["failed"] == failures["calls"], failures
        return
    assert result["failed"] == 0 and result["correct"], trace["provenance"]
