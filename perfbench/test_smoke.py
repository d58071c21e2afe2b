"""Smoke test of the benchmark on the sf0.001 fixtures: every metric is
emitted with its unit for each workload it applies to, the final line
keeps its shape, and no operation fails.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own JVM; the four cases take about four minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402

# end-to-end metrics each workload prints by name, with their units
NAMED = {
    "batch": {
        "setup_s": "s",
        "pass_s": "s",
        "lane_p50_s": "s",
        "lane_tail_s": "s",
        "failed_frac": "ratio",
        "jvm_peak_rss_mb": "MB",
    },
    "stream": {
        "setup_s": "s",
        "freshness_p50_s": "s",
        "freshness_p95_s": "s",
        "stream_capacity_eps": "events/s",
        "failed_frac": "ratio",
        "jvm_peak_rss_mb": "MB",
    },
}


def _run(workload: str, trace: int) -> list[str]:
    proc = subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload", workload,
            "--seed", "1",
            "--seconds", "1",
            "--trace", str(trace),
            "--sf", "sf0.001",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.splitlines()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(NAMED))
def test_every_metric_emitted_with_unit(workload, trace):
    lines = _run(workload, trace)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())

    printed = {}
    for line in lines[1:-1]:
        parts = line.split()
        if len(parts) >= 3:
            printed.setdefault(parts[0], (float(parts[1]), parts[2]))
    for name, unit in NAMED[workload].items():
        assert printed[name][1] == unit, name
    assert printed["failed_frac"][0] == 0.0
    context = json.loads(lines[0])["context"]
    assert context["workload"] == workload and context["seed"] == 1
    assert context["why"] and context["cwd"] == ROOT
