"""The traced run: per-layer figures for one workload.

Separate from the timed runs (end-to-end figures come from ``--trace 0``).
Spans (name, start, end, parent) and counts are kept in memory and
reported when the run ends. They come from four places, all in the
benchmark's own files; the library is not modified:

1. Materialisation times. On the drain input, cumulative prefixes of the
   flow path run as availableNow queries into a noop sink, through the
   library's public calls (decode_packets_df -> apply_devices ->
   MoConfig.filtered -> MoConfig.fwm_result -> fwm_sql_export, and the
   mavg / action / classification branches). A layer's self time is its
   prefix's time minus the previous prefix's. The Engine's own standing
   query for the same path, built by ``Engine.builders`` and timed alone
   on the same input, is the independent wall time those self times
   must add up to (``trace.chain_wall_s`` against ``trace.self_sum_s``).
2. Sink wrappers around ``fwm_sql_export``, ``AlertActionSink`` and
   ``ClassificationLoop.process_batch`` (Engine imports fwm_sql_export at
   call time, so patching the module attribute reaches it).
3. Streaming progress (``recentProgress``: durationMs phases and
   stateOperators) of every standing query.
4. The Spark event log (enabled through the launch configuration that
   run.py sets) and /proc samples splitting CPU between the JVM and its
   Python workers.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import datapipe as dp
import flows as fl
import gen
import procstat

DP_ALL = [
    "bpe_encode", "bpe_train", "contamination", "substring_dedup",
    "dedup_minhash_lsh", "dedup_minhash_lsh_expr", "dedup_ngram_jaccard",
    "incremental_dedup", "kmv_distinct", "stratified_sample", "ppl_split",
    "image_phash_neardup",
]
DP_FIELDS = [("s", "s"), ("cpu_s", "CPU-s"), ("shuffle_bytes", "B"),
             ("spill_bytes", "B"), ("jobs", "count")]

# every per-layer figure, with its unit (a layer a workload does not
# exercise reports 0); all are "lower is better" except HIGHER
HIGHER = {"sources.decode_flows_per_s", "sources.parse_flows_per_s_1t",
          "sources.flows_out"}
LAYER_METRICS = {
    "sources.decode_s": "s",
    "sources.decode_flows_per_s": "flows/s",
    "sources.parse_flows_per_s_1t": "flows/s",
    "sources.python_cpu_s": "CPU-s",
    "sources.flows_out": "count",
    "sources.drop_frac": "ratio",
    "bridge.spool_lag_s": "s",
    "bridge.files": "count",
    "bridge.udp_drops": "count",
    "engine.queries": "count",
    "engine.input_passes": "ratio",
    "engine.triggers": "count",
    "engine.planning_ms": "ms",
    "engine.get_batch_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.lag_end_s": "s",
    "dsl.filter_s": "s",
    "dsl.selectivity": "ratio",
    "enrich.s": "s",
    "enrich.lookups": "count",
    "fwm.s": "s",
    "fwm.batch_ms_p50": "ms",
    "fwm.shuffle_bytes": "B",
    "fwm.groups": "count",
    "export.s": "s",
    "export.files": "count",
    "export.rows": "count",
    "export.bytes": "B",
    "mavg.s": "s",
    "mavg.batch_ms_p50": "ms",
    "mavg.state_rows": "count",
    "mavg.state_bytes": "B",
    "mavg.commit_ms": "ms",
    "mavg.python_cpu_s": "CPU-s",
    "act.s": "s",
    "act.events": "count",
    "classify.s": "s",
    "classify.batch_ms_p50": "ms",
    "spark.executor_cpu_s": "CPU-s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.tasks": "count",
    "proc.jvm_cpu_s": "CPU-s",
    "proc.python_cpu_s": "CPU-s",
    "trace.chain_wall_s": "s",
    "trace.self_sum_s": "s",
}
for _q in DP_ALL:
    for _f, _u in DP_FIELDS:
        LAYER_METRICS[f"datapipe.{_q}.{_f}"] = _u


class Tracer:
    """In-memory spans and counts."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, str | None]] = []
        self.counts: dict[str, float] = {}
        self._undo: list = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter(), parent))

    def add(self, key: str, n: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    def summary(self) -> dict:
        """Per span name: parent, count and total seconds."""
        out: dict[str, dict] = {}
        for name, t0, t1, parent in self.spans:
            d = out.setdefault(name, {"parent": parent, "n": 0, "s": 0.0})
            d["n"] += 1
            d["s"] += t1 - t0
        return out

    def _patch(self, owner, attr, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from xenoeye_spark.streaming import fwm_stream
        from xenoeye_spark.streaming.act import AlertActionSink
        from xenoeye_spark.streaming.classify_stream import ClassificationLoop

        tr = self

        def wrap_export(orig):
            def fwm_sql_export(*a, **kw):
                with tr.span("export.sink", "fwm"):
                    path = orig(*a, **kw)
                if path:
                    tr.add("export.files")
                    tr.add("export.bytes", os.path.getsize(path))
                    with open(path) as fh:
                        tr.add("export.rows", sum(1 for _ in fh) - 2)
                return path
            return fwm_sql_export

        def wrap_batch(name):
            def make(orig):
                def process_batch(self, df, epoch_id):
                    with tr.span(name, "engine"):
                        return orig(self, df, epoch_id)
                return process_batch
            return make

        def wrap_exec(orig):
            def _exec(self, *a, **kw):
                tr.add("act.events")
                return orig(self, *a, **kw)
            return _exec

        self._patch(fwm_stream, "fwm_sql_export", wrap_export)
        self._patch(AlertActionSink, "process_batch", wrap_batch("act.sink"))
        self._patch(AlertActionSink, "_exec", wrap_exec)
        self._patch(ClassificationLoop, "process_batch",
                    wrap_batch("classify.sink"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


# ------------------------------------------------------------ event log

def read_event_log(ev_dir: str) -> dict:
    """Task totals overall and per ``perfbench.layer`` job property."""
    stage_layer: dict[int, str] = {}
    job_layer: dict[int, str] = {}
    tasks = []
    paths = [os.path.join(d, f) for d, _, fs in os.walk(ev_dir) for f in fs
             if not f.startswith(".")]
    for path in paths:
        with open(path) as fh:
            for ln in fh:
                if '"Event"' not in ln:
                    continue
                ev = json.loads(ln)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    layer = (ev.get("Properties") or {}).get("perfbench.layer")
                    if layer:
                        job_layer[ev["Job ID"]] = layer
                        for sid in ev.get("Stage IDs", []):
                            stage_layer[sid] = layer
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append((ev.get("Stage ID"), {
                        "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc": tm.get("JVM GC Time", 0) / 1e3,
                        "shuffle": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                    }))
    total = {"cpu": 0.0, "gc": 0.0, "shuffle": 0, "spill": 0, "tasks": 0}
    per: dict[str, dict] = {}
    for sid, t in tasks:
        for d in (total, per.setdefault(stage_layer.get(sid, ""), {
                "cpu": 0.0, "gc": 0.0, "shuffle": 0, "spill": 0,
                "tasks": 0})):
            for k in ("cpu", "gc", "shuffle", "spill"):
                d[k] += t[k]
            d["tasks"] += 1
    jobs: dict[str, int] = {}
    for layer in job_layer.values():
        jobs[layer] = jobs.get(layer, 0) + 1
    return {"total": total, "per": per, "jobs": jobs}


# ------------------------------------------------------------- progress

def progress_stats(progress: list[tuple[str, list]], kind: str) -> dict:
    """durationMs / stateOperators figures of the queries whose name
    marks them as ``kind`` (fwm queries carry no name)."""
    durs, commit, rows, mem = [], 0.0, 0, 0
    for name, ps in progress:
        qk = ("fwm" if name in (None, "fwm") or ".fwm." in str(name)
              else "mavg" if (".mavg." in name or ".under." in name)
              else "classify" if ".clsf." in name else "other")
        if qk != kind:
            continue
        for p in ps:
            if p.get("numInputRows", 0):
                durs.append(p["durationMs"].get("triggerExecution", 0))
            for so in p.get("stateOperators", []):
                commit += so.get("commitTimeMs", 0)
        if ps:
            for so in ps[-1].get("stateOperators", []):
                rows += so.get("numRowsTotal", 0)
                mem += so.get("memoryUsedBytes", 0)
    return {"batch_ms_p50": statistics.median(durs) if durs else 0.0,
            "commit_ms": commit, "state_rows": rows, "state_bytes": mem}


def engine_stats(progress: list[tuple[str, list]], n_rows: int) -> dict:
    rows = trig = plan = getb = wal = 0
    for _, ps in progress:
        for p in ps:
            rows += p.get("numInputRows", 0)
            trig += 1
            d = p.get("durationMs", {})
            plan += d.get("queryPlanning", 0)
            getb += d.get("getBatch", 0) + d.get("latestOffset", 0)
            wal += d.get("walCommit", 0) + d.get("commitOffsets", 0)
    return {"engine.queries": len(progress),
            "engine.input_passes": rows / max(1, n_rows),
            "engine.triggers": trig, "engine.planning_ms": plan,
            "engine.get_batch_ms": getb, "engine.wal_commit_ms": wal}


# ------------------------------------------------------------- prefixes

PREFIX_ROUNDS = 2


def time_prefix(spark, run_dir: str, tag: str, df, n_rows: int,
                fn=None) -> dict:
    """Run one prefix as an availableNow query into a noop sink (or
    ``foreachBatch(fn)``), PREFIX_ROUNDS times with fresh checkpoints;
    the fastest round's wall and worker CPU, and the sink's output rows.
    Only the first round's jobs carry the layer tag in the event log."""
    best = None
    for k in range(PREFIX_ROUNDS):
        w = (df.writeStream.format("noop") if fn is None
             else df.writeStream.foreachBatch(fn))
        w = w.option("checkpointLocation",
                     os.path.join(run_dir, "pfx", tag, str(k)))
        spark.sparkContext.setLocalProperty("perfbench.layer",
                                            tag if k == 0 else None)
        c0 = procstat.cpu_split()
        r = fl.drain_once([(tag, lambda w=w: w)], n_rows)
        c1 = procstat.cpu_split()
        spark.sparkContext.setLocalProperty("perfbench.layer", None)
        cur = {"wall": r["wall"] or float("nan"),
               "workers_cpu": c1["workers"] - c0["workers"],
               "out_rows": sum(p.get("sink", {}).get("numOutputRows", 0)
                               or 0 for _, ps in r["progress"] for p in ps),
               "dead": r["dead"]}
        if best is None or cur["wall"] < best["wall"]:
            best = {**cur, "dead": (best or {}).get("dead", []) + cur["dead"]}
    return best


def flow_prefixes(spark, run_dir: str, res: dict) -> dict:
    """Cumulative prefixes of one standing-query path (the edge MO's fwm
    with its export, plus the mavg / act and classification branches)
    over the drain input. Returns {layer: prefix timing}; ``"_chain"``
    holds the independent full-path timing (see engine_path)."""
    from pyspark.sql import functions as F

    from xenoeye_spark.config.main import XenoeyeConfig
    from xenoeye_spark.config.mo import ClassificationConfig
    from xenoeye_spark.enrich.devices import apply_devices, load_devices_conf
    from xenoeye_spark.operators.classify import ClassDB
    from xenoeye_spark.sources.netflow import decode_packets_df
    from xenoeye_spark.streaming.act import AlertActionSink
    from xenoeye_spark.streaming.classify_stream import ClassificationLoop
    from xenoeye_spark.streaming.fwm_stream import fwm_sql_export
    from xenoeye_spark.streaming.mavg_stream import mavg_alert_stream

    base = os.path.join(run_dir, "pfx_cfg")
    script, _ = fl.stamp_script(base)
    cfg = XenoeyeConfig.from_file(fl.wire_config(base, script, 0))
    eng = cfg.build_engine(exp_dir=os.path.join(base, "exp"),
                           state_dir=os.path.join(base, "state"))
    n_rows = res["metrics"]["packets"][0]
    src = (spark.readStream
           .schema("data binary, dev_ip long, recv_ts timestamp")
           .parquet(res["spool"]))
    dec = decode_packets_df(src.repartition("dev_ip"),
                            journal_paths=res["journal"])
    enr = apply_devices(dec, load_devices_conf(cfg.devices))
    mo = eng.mos[0]                           # edge
    dsl = mo.filtered(enr, eng.ctx)

    out = {}
    for tag, df in [("sources.read", src), ("sources.decode", dec),
                    ("enrich", enr), ("dsl", dsl)]:
        out[tag] = time_prefix(spark, run_dir, tag, df, n_rows)
    fwm = mo.fwm[0]

    def fwm_only(batch, epoch):
        mo.fwm_result(batch, fwm, eng.ctx).write.format("noop") \
            .mode("overwrite").save()

    groups: dict[int, int] = {}  # per epoch; every round rewrites it

    def fwm_export(batch, epoch):
        # the batch is evaluated once, by the export's own collect; the
        # group count is read back from the file it wrote
        path = fwm_sql_export(mo.fwm_result(batch, fwm, eng.ctx), "pfx",
                              os.path.join(run_dir, "pfx_exp"), epoch)
        if path:
            with open(path) as fh:
                groups[epoch] = sum(1 for _ in fh) - 2

    out["fwm"] = time_prefix(spark, run_dir, "fwm", enr, n_rows, fwm_only)
    out["export"] = time_prefix(spark, run_dir, "export", enr, n_rows,
                                fwm_export)
    out["export"]["groups"] = sum(groups.values())
    out["_chain"] = engine_path(run_dir, cfg, enr, f"{mo.name}.fwm.{fwm.name}",
                                n_rows)

    # mavg / act branch off the MO's filtered stream
    mavg = mo.mavg[0]
    proj = dsl.select(
        *[f.column(eng.ctx).alias(f.sql_name) for f in mavg.key_fields],
        (mavg.val_fields[0].column(eng.ctx)
         * F.coalesce(F.col("sampling_rate"), F.lit(1))).alias("_mval"),
        F.col("ts"))
    keys = [f.sql_name for f in mavg.key_fields]
    ol = mavg.overlimit[0]
    alerts = mavg_alert_stream(
        proj, keys, "_mval", window_sec=mavg.time,
        threshold=ol.default[0], back2norm_sec=ol.back2norm_time,
        ts_col="ts", buckets=8 * spark.sparkContext.defaultParallelism)
    out["mavg"] = time_prefix(spark, run_dir, "mavg", alerts, n_rows)
    sink = AlertActionSink("pfx", mavg.name, ol.name, keys,
                           os.path.join(run_dir, "pfx_notif"),
                           run_scripts=False)
    out["act"] = time_prefix(spark, run_dir, "act", alerts, n_rows,
                             sink.process_batch)
    # classification: the wire_mix MOs have no such section, so the
    # benchmark's own section runs on the enriched stream
    cl = ClassificationConfig.from_dict(fl.CLASSIFY)
    cproj = enr.select(
        *[f.column(eng.ctx).alias(f.sql_name) for f in cl.fields],
        cl.val.column(eng.ctx).alias("_cval"))
    loop = ClassificationLoop(
        [f.sql_name for f in cl.fields], "_cval", cl.top_percents,
        class_db=ClassDB(os.path.join(run_dir, "pfx_clsf"), "pfx", 0))
    out["classify"] = time_prefix(spark, run_dir, "classify", cproj, n_rows,
                                  loop.process_batch)
    return out


def engine_path(run_dir: str, cfg, flows, qname: str, n_rows: int) -> dict:
    """The Engine's own standing query ``qname`` alone over the drain
    input, PREFIX_ROUNDS times with a fresh engine; the fastest round.
    It is built by ``Engine.builders`` (its own sink and batch handler),
    not from the prefixes, so it is an independent timing of the path
    whose layer self times the prefixes split up."""
    best = {"wall": float("inf"), "dead": []}
    for k in range(PREFIX_ROUNDS):
        base = os.path.join(run_dir, "chain", str(k))
        eng = cfg.build_engine(exp_dir=os.path.join(base, "exp"),
                               state_dir=os.path.join(base, "state"))
        make = dict(eng.builders(flows))[qname]
        r = fl.drain_once([(qname, make)], n_rows)
        best["dead"] += r["dead"]
        best["wall"] = min(best["wall"], r["wall"] or float("inf"))
    return best


def wire_bridge_stats(res: dict) -> dict:
    """Spool lag: marker send -> the spool file holding it renamed."""
    import pyarrow.parquet as pq

    m = res["metrics"]
    sent = {mid: s for mid, _, s in m.get("_paced_sent", [])}
    spool = m.get("_paced_spool")
    lags, files = [], 0
    if spool and os.path.isdir(spool):
        for f in sorted(os.listdir(spool)):
            if not f.endswith(".parquet") or f.startswith("."):
                continue
            files += 1
            p = os.path.join(spool, f)
            mtime = os.stat(p).st_mtime_ns / 1e9
            for data in pq.read_table(p, columns=["data"])["data"]:
                b = data.as_py()
                # marker packets: v5, first record's dst in the marker net
                if len(b) >= 24 + 48 and b[:2] == b"\x00\x05":
                    dst = int.from_bytes(b[28:32], "big")
                    mid = dst - gen.MARKER_NET
                    if mid in sent:
                        lags.append(mtime - sent[mid])
    return {"bridge.spool_lag_s": statistics.median(lags) if lags else 0.0,
            "bridge.files": files,
            "bridge.udp_drops": m.get("udp_drops", (0,))[0]}


def parse_rate_1t(res: dict) -> float:
    """Single-threaded baseline: plain parse_packet over the drain input."""
    import pyarrow.parquet as pq

    from xenoeye_spark.sources.netflow import TemplateJournal, parse_packet

    store = TemplateJournal.replay(*res["journal"])
    t = pq.read_table(res["spool"])
    pkts = list(zip(t["data"].to_pylist(), t["dev_ip"].to_pylist()))
    t0 = time.perf_counter()
    n = 0
    for data, ip in pkts:
        n += len(parse_packet(data, store, ip))
    return n / (time.perf_counter() - t0)


def self_times(pfx: dict, chain: list[str]) -> dict:
    prev, out = 0.0, {}
    for tag in chain:
        out[tag] = pfx[tag]["wall"] - prev
        prev = pfx[tag]["wall"]
    return out


# ------------------------------------------------------------------ run

def run_traced(spark, workload: str, run_dir: str, seed: int,
               seconds: float) -> dict:
    tr = Tracer()
    cpu0 = procstat.cpu_split()
    vals = {k: 0.0 for k in LAYER_METRICS}
    tr.install()
    try:
        if workload == "datapipe_heavy":
            res = _traced_datapipe(spark, run_dir, seed, seconds, vals)
        else:
            res = _traced_flows(spark, run_dir, seed, seconds, vals, tr)
    finally:
        tr.uninstall()
    cpu1 = procstat.cpu_split()
    vals["proc.jvm_cpu_s"] = cpu1["jvm"] - cpu0["jvm"]
    vals["proc.python_cpu_s"] = cpu1["workers"] - cpu0["workers"]
    ev_dir = os.path.join(run_dir, "eventlog")

    def after_stop(m):
        ev = read_event_log(ev_dir)
        t = ev["total"]
        vals.update({
            "spark.executor_cpu_s": t["cpu"], "spark.gc_s": t["gc"],
            "spark.shuffle_write_bytes": t["shuffle"],
            "spark.spill_bytes": t["spill"], "spark.tasks": t["tasks"],
        })
        if workload == "datapipe_heavy":
            for q in DP_ALL:
                p = ev["per"].get(q, {})
                vals[f"datapipe.{q}.shuffle_bytes"] = p.get("shuffle", 0)
                vals[f"datapipe.{q}.spill_bytes"] = p.get("spill", 0)
                vals[f"datapipe.{q}.jobs"] = ev["jobs"].get(q, 0)
        else:
            vals["fwm.shuffle_bytes"] = (
                ev["per"].get("fwm", {}).get("shuffle", 0)
                - ev["per"].get("dsl", {}).get("shuffle", 0))
        for k, u in LAYER_METRICS.items():
            m[k] = (vals[k], u, 1)

    res["spans"] = tr.summary()
    res["after_stop"] = after_stop
    res["per_layer"] = {k: k for k in LAYER_METRICS}
    return res


def _traced_datapipe(spark, run_dir, seed, seconds, vals) -> dict:
    sc = spark.sparkContext

    def tag(name):
        sc.setLocalProperty("perfbench.layer", name)

    # one measured pass: the traced run prices every query,
    # the timed runs give the end-to-end figures
    res = dp.run_datapipe(spark, run_dir, seed, 0, names=DP_ALL,
                          on_query=tag, min_passes=1)
    sc.setLocalProperty("perfbench.layer", None)
    m = res["metrics"]
    for q in DP_ALL:
        vals[f"datapipe.{q}.s"] = m[f"query.{q}.s"][0]
        vals[f"datapipe.{q}.cpu_s"] = m[f"query.{q}.cpu_s"][0]
    return res


def _traced_flows(spark, run_dir, seed, seconds, vals, tr) -> dict:
    res = fl.run_wire_mix(spark, run_dir, seed, seconds)
    m = res["metrics"]
    n_flows = m["flows"][0]
    # engine figures: the last measured drain (every query reads all input)
    vals.update(engine_stats(res["reps"][-1]["progress"], m["packets"][0]))
    vals["engine.lag_end_s"] = m["lag_end_s"][0]
    paced = m["_paced_progress"]
    for kind in ("fwm", "mavg", "classify"):
        st = progress_stats(paced, kind)
        vals[f"{kind}.batch_ms_p50"] = st["batch_ms_p50"]
    dst = progress_stats(res["reps"][-1]["progress"], "mavg")
    vals["mavg.state_rows"] = dst["state_rows"]
    vals["mavg.state_bytes"] = dst["state_bytes"]
    vals["mavg.commit_ms"] = dst["commit_ms"]
    # sink wrapper counts over the whole workload run
    for k in ("export.files", "export.rows", "export.bytes", "act.events"):
        vals[k] = tr.counts.get(k, 0)

    pfx = flow_prefixes(spark, run_dir, res)
    chain_run = pfx.pop("_chain")
    vals["fwm.groups"] = pfx["export"]["groups"]
    vals.update(wire_bridge_stats(res))
    vals["sources.parse_flows_per_s_1t"] = parse_rate_1t(res)
    dec = pfx["sources.decode"]
    flows_out = dec["out_rows"]
    vals["sources.flows_out"] = flows_out
    vals["sources.drop_frac"] = 1 - flows_out / max(1, n_flows)
    vals["sources.python_cpu_s"] = (
        dec["workers_cpu"] - pfx["sources.read"]["workers_cpu"])
    vals["enrich.lookups"] = flows_out  # one devices match per flow
    st = self_times(pfx, ["sources.read", "sources.decode", "enrich", "dsl",
                          "fwm", "export"])
    vals["sources.decode_s"] = st["sources.decode"]
    vals["sources.decode_flows_per_s"] = (
        flows_out / st["sources.decode"] if st["sources.decode"] > 0
        else 0.0)
    vals["enrich.s"] = st["enrich"]
    vals["dsl.filter_s"] = st["dsl"]
    vals["dsl.selectivity"] = (pfx["dsl"]["out_rows"]
                               / max(1, pfx["enrich"]["out_rows"]))
    vals["fwm.s"] = st["fwm"]
    vals["export.s"] = st["export"]
    vals["mavg.s"] = pfx["mavg"]["wall"] - pfx["dsl"]["wall"]
    vals["mavg.python_cpu_s"] = (pfx["mavg"]["workers_cpu"]
                                 - pfx["dsl"]["workers_cpu"])
    vals["act.s"] = pfx["act"]["wall"] - pfx["mavg"]["wall"]
    vals["classify.s"] = pfx["classify"]["wall"] - pfx["enrich"]["wall"]
    vals["trace.chain_wall_s"] = chain_run["wall"]
    vals["trace.self_sum_s"] = sum(st.values())
    if chain_run["dead"] or any(v["dead"] for v in pfx.values()):
        res["ck"].check(False, "traced prefix query died")
    return res
