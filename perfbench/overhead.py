"""Tracing overhead: traced minus untraced, for each end-to-end metric.

    python3 perfbench/overhead.py --workload wire_mix --seed 1 --seconds 8

Runs the untraced and the traced benchmark for the same workload and
seed, one after the other in fresh processes, and prints one JSON line:
``{metric: {"untraced": u, "traced": t, "overhead": t - u, "unit": ...}}``
for every figure both report lines carry (the traced run measures the
same phases with its spans, wrappers and event log on). The traced
datapipe run takes its ``batch_*`` figures from one pass (it prices
twelve queries) instead of the mean over ten or more.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def report(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace),
         "--scale", str(args.scale)],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-2])["metrics"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench-overhead")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)
    plain, traced = report(args, 0), report(args, 1)
    out = {}
    for key, m in plain.items():
        t = traced.get(key, {}).get("value")
        if isinstance(m["value"], (int, float)) and isinstance(t, (int, float)):
            out[key] = {"untraced": m["value"], "traced": t,
                        "overhead": t - m["value"], "unit": m["unit"]}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
