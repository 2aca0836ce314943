"""Smoke test of the benchmark at tiny size: every workload runs and passes
its gate, and the gate counts a perturbed output and a raised exception as
failed calls.

    python3 -m pytest perfbench/test_smoke.py -q

Each case is one benchmark process (about 30-60 s on 4 cores).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def bench(workload: str, trace: int = 0, inject: str = "none") -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny", "--inject", inject],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["asof_probes", "incremental_delta"])
def test_workload_passes_its_gate(workload):
    out = bench(workload)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 4
    assert set(out["metrics"]) == {
        "setup_s", "job_s", "rows_per_s", "worker_peak_rss_mb"}
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("inject", ["perturb", "raise"])
def test_gate_counts_failures(inject):
    out = bench("asof_probes", inject=inject)
    assert not out["correct"]
    assert out["failed"] / out["attempted"] > 0


@pytest.mark.parametrize("workload, layer_metric", [
    ("asof_probes", "asof.python_bytes_sent"),
    ("incremental_delta", "io.write_amplification"),
])
def test_trace_reports_every_layer_metric(workload, layer_metric):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = bench(workload, trace=1)
    assert out["correct"]
    assert set(out["metrics"]) == {m["name"] for m in spec["per_layer"]}
    assert out["metrics"][layer_metric]["value"] > 0
