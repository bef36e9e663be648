"""Benchmark entry point.

    python3 perfbench/run.py --workload wire_mix --seed 1 --seconds 8 --trace 0

Workloads: ``wire_mix`` (flows.py) and ``datapipe_heavy`` (datapipe.py);
see README.md. The run builds its
inputs from ``--seed``, measures for about ``--seconds`` seconds, checks
every output against a reference computed from the generator's truth,
prints one report line with every measured figure (value, unit, sample
count, environment stamp) and, as the last line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end figures named in
BENCHMARK.json; with ``--trace 1`` the run is the separate traced run and
the metrics are the per-layer figures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("wire_mix", "datapipe_heavy")

def pin_environment(run_dir: str, trace: bool) -> int:
    """Everything the JVM and its Python workers inherit must be set
    before pyspark launches the JVM."""
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TZ"] = "UTC"
    time.tzset()
    conf = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        evdir = os.path.join(run_dir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{evdir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
    return ncpu


def start_spark():
    """JVM + session through the program's own session helper."""
    from xenoeye_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("xenoeye-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def fmt_metrics(raw: dict) -> dict:
    """name -> {value, unit, n} for every public figure (keys starting
    with '_' are internal)."""
    out = {}
    for k, v in raw.items():
        if k.startswith("_"):
            continue
        val, unit, n = v
        if isinstance(val, float) and not math.isfinite(val):
            val = None  # a missed latency sample: over any limit
        out[k] = {"value": val, "unit": unit, "n": n}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (the tiny self-test runs "
                         "use 0.1; timed runs use 1)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "xenoeye_spark")):
        print(f"perfbench: no xenoeye_spark package next to {HERE}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ncpu = pin_environment(run_dir, bool(args.trace))
    os.environ["PERFBENCH_SCALE"] = str(args.scale)
    sys.path[:0] = [ROOT, HERE]
    procstat = __import__("procstat")
    # every process the run starts (JVM, Python workers, the sender,
    # action scripts) is ended and waited for on every way out
    procstat.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load0 = (procstat.loadavg(), procstat.steal_s())
    try:
        report, result = run(args, run_dir, ncpu, load0)
    finally:
        close_jvm()
        left = procstat.stop_tree()
        shutil.rmtree(run_dir, ignore_errors=True)
    if left:
        print(f"perfbench: had to signal {left}", file=sys.stderr)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


def close_jvm() -> None:
    """Close the JVM's stdin: pyspark's gateway JVM exits when it reads
    EOF there (its Python workers follow), which it otherwise does only
    after this process has exited."""
    ctx = sys.modules.get("pyspark.core.context")
    gw = ctx.SparkContext._gateway if ctx is not None else None
    if gw is not None and gw.proc is not None and gw.proc.stdin is not None:
        gw.proc.stdin.close()


def run(args, run_dir: str, ncpu: int, load0) -> tuple[dict, dict]:
    """Runs the workload; returns the report and the result objects."""
    import procstat

    with procstat.RssPeak() as rss:
        spark, jvm_s = start_spark()
        print(f"perfbench: session up in {jvm_s:.1f}s", file=sys.stderr)
        try:
            if args.trace:
                import tracing as tracemod

                res = tracemod.run_traced(spark, args.workload, run_dir,
                                          args.seed, args.seconds)
            elif args.workload == "wire_mix":
                import flows

                res = flows.run_wire_mix(spark, run_dir, args.seed,
                                         args.seconds)
            else:
                import datapipe

                res = datapipe.run_datapipe(spark, run_dir, args.seed,
                                            args.seconds)
        finally:
            spark.stop()
    m = res["metrics"]
    if "after_stop" in res:
        res["after_stop"](m)
    m["jvm_session_s"] = (jvm_s, "s", 1)
    m["peak_rss_mb"] = (rss.peak / 2**20, "MB", 1)
    for part, v in rss.parts.items():
        m[f"peak_rss_{part}_mb"] = (v / 2**20, "MB", 1)
    ck = res["ck"]
    m["failed_frac"] = (ck.failed / max(1, ck.attempted), "ratio",
                        ck.attempted)
    if "engine_setup_s" in m:
        v, _, n = m["engine_setup_s"]
        m["setup_s"] = (jvm_s + v, "s", n)
    import pyspark

    stamp = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        "nproc": ncpu,
        "loadavg_before": load0[0], "loadavg_after": procstat.loadavg(),
        "steal_s": procstat.steal_s() - load0[1],
        "spark": pyspark.__version__, "python": platform.python_version(),
    }
    report = {"report": stamp, "metrics": fmt_metrics(m),
              "notes": ck.notes}
    if "spans" in res:
        report["spans"] = res["spans"]

    if args.trace:
        names = res["per_layer"]
    else:
        names = E2E_MAP[args.workload]
    metrics = {}
    for public, key in names.items():
        if key not in m:
            raise KeyError(f"metric {key} missing from the {args.workload} run")
        val, unit, _ = m[key]
        metrics[public] = {"value": val, "unit": unit}
    return report, {"correct": ck.failed == 0, "attempted": ck.attempted,
                    "failed": ck.failed, "metrics": metrics}


# end-to-end name in BENCHMARK.json -> the workload's own figure
E2E_MAP = {
    "wire_mix": {
        "setup_s": "setup_s",
        "capacity_cpu_s": "drain_cpu_s",
    },
    "datapipe_heavy": {
        "setup_s": "setup_s",
        "capacity_cpu_s": "batch_cpu_s",
    },
}


if __name__ == "__main__":
    raise SystemExit(main())
