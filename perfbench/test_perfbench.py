"""The benchmark's own test: every workload at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that one command prints every named metric with its unit (the
end-to-end set untraced, the per-layer set traced), that the run's
correctness checks pass, and that the per-layer self times of the traced
flow path add up to the wall time of that path measured on its own (the
Engine's standing query for it, run alone on the same input).
Each case starts its own JVM; the whole file takes several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import E2E_MAP  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
# the self times and the separate path timing are each the fastest of two
# sub-second availableNow runs on a shared host: they agree to a few
# percent at full size and to ~10% at the test's tiny size; a layer timed
# twice (or left out) moves the sum by far more
ADD_UP_REL = 0.25


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "4", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=ROOT, check=True, capture_output=True, text=True,
        timeout=600).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed(workload):
    report, result = run(workload, 0)
    assert result["correct"], report["notes"]
    assert result["attempted"] >= 1 and result["failed"] == 0
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert set(result["metrics"]) == set(units) == set(E2E_MAP[workload])
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name]
        assert m["value"] > 0, name
    # the report line carries every figure with its sample count
    for name, m in report["metrics"].items():
        assert {"value", "unit", "n"} <= set(m), name
    for key in ("nproc", "seed", "loadavg_before", "loadavg_after",
                "spark", "python"):
        assert key in report["report"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_layers_add_up(workload):
    report, result = run(workload, 1)
    assert result["correct"], report["notes"]
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert set(result["metrics"]) == set(units)
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name]
    met = {k: v["value"] for k, v in result["metrics"].items()}
    if workload == "datapipe_heavy":
        assert met["datapipe.contamination.jobs"] > 0
        return
    assert met["trace.chain_wall_s"] > 0
    assert met["trace.self_sum_s"] == pytest.approx(
        met["trace.chain_wall_s"], rel=ADD_UP_REL)
    assert met["engine.input_passes"] == pytest.approx(
        met["engine.queries"])


def test_stop_tree_ends_orphaned_descendants():
    # a grandchild in its own session whose parent has exited, as an
    # action script or a Python worker outliving the JVM would be
    code = (
        "import os, subprocess, procstat\n"
        "procstat.adopt_orphans()\n"
        "subprocess.run(['setsid', 'bash', '-c', 'sleep 60 & exit 0'])\n"
        "before = [p for p, _ in procstat.tree() if p != os.getpid()]\n"
        "left = procstat.stop_tree()\n"
        "after = [p for p, _ in procstat.tree() if p != os.getpid()]\n"
        "print(len(before), len(left), len(after))\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=HERE, check=True,
                         capture_output=True, text=True, timeout=60)
    assert out.stdout.split() == ["1", "1", "0"]
