"""The flow workload ``wire_mix``.

It has two phases.

Drain (capacity): a fixed, pre-written input runs through every standing
query from ``Engine.builders()`` under ``availableNow``. mavg's
silent-watch timeout keeps such queries alive, so completion is read from
each query's committed progress (input rows summed over its batches) and
the queries are stopped once all input is committed. The drain repeats
with a fresh engine (fresh checkpoint, state and export dirs) until its
share of the run is used; each repetition also times engine set-up.

Paced (latency): a separate sender process emits on a fixed schedule:
UDP export packets over loopback to the collector daemon
(``xenoeye_spark.__main__.main``, run in this process so it shares the
JVM). Each marker flow is timed from when it was due to the export file
that contains it and to the NEW action script that stamps its alert.

A fresh JVM's first micro-batches pay JIT and Python-worker start-up
(~20 s on 4 cores), which no timed figure should contain: the paced
phase runs first, with background traffic until the daemon's queries are
warm, and the drains run afterwards.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import pickle
import socket
import statistics
import subprocess
import sys
import threading
import time

import numpy as np
import pandas as pd

import gen
import procstat

HERE = os.path.dirname(os.path.abspath(__file__))

# fwm windows / mavg windows are short so that processing, not a fixed
# trigger wait, dominates latency
FWM_TIME = 1
MAVG_TIME = 2
BIG = 1e15
# classification section: the wire_mix MOs follow the reference shape
# without one, so the traced run prices this section on its own path
CLASSIFY = {"fields": ["dst port"], "val": "octets desc", "top-percents": 90,
            "time": FWM_TIME}
DRAIN_TIMEOUT = 60.0
# drain completion poll: each poll costs Py4J calls and progress-JSON
# parsing that land in the measured CPU, and the drain's wall time comes
# from the batches' own end stamps, so polling faster buys no accuracy
POLL_S = 0.2
# longest warm-up of the paced daemon
WARM_MAX = 60.0
# longest wait after the last send for the last outputs; a marker still
# missing then counts as failed and as over any latency limit
TAIL = 20.0
# paced samples per run: p95 then has ten samples beyond it
MIN_SAMPLES = 210


def note(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result)."""
    print(f"perfbench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


def _write(path: str, text: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)
    return path


def stamp_script(run_dir: str) -> tuple[str, str]:
    """NEW action script: appends ``mo key wall_time`` to a log."""
    log = os.path.join(run_dir, "alerts.log")
    path = _write(os.path.join(run_dir, "stamp_alert.sh"),
                  "#!/bin/bash\n"
                  f'echo "$1 $5 $EPOCHREALTIME" >> {log}\n')
    os.chmod(path, 0o755)
    return path, log


def read_alerts(log: str) -> list[tuple[str, int, float]]:
    if not os.path.exists(log):
        return []
    out = []
    with open(log) as fh:
        for ln in fh:
            p = ln.split()
            if len(p) == 3:
                out.append((p[0], int(p[1]), float(p[2])))
    return out


def parse_sql_export(path: str) -> tuple[list[str], list[tuple]]:
    """(columns, rows) of one fwm SQL export file."""
    with open(path) as fh:
        text = fh.read()
    head, _, body = text.partition(" VALUES\n")
    cols = head[head.rindex("(") + 1:head.rindex(")")].split(", ")
    rows = []
    for ln in body.rstrip(";\n").split(",\n"):
        vals = []
        for v in ln.strip()[1:-1].split(", "):
            if v == "NULL":
                vals.append(None)
            elif v.startswith("'"):
                vals.append(v.strip("'"))
            else:
                vals.append(int(v) if v.lstrip("-").isdigit() else float(v))
        rows.append(tuple(vals))
    return cols, rows


def exports(exp_dir: str, table: str) -> list[tuple[str, float, list[str], list[tuple]]]:
    """Every export file of ``table``: (path, mtime, columns, rows)."""
    out = []
    d = os.path.join(exp_dir, table)
    if not os.path.isdir(d):
        return out
    for f in sorted(os.listdir(d)):
        if f.endswith(".sql") and not f.startswith("."):
            p = os.path.join(d, f)
            cols, rows = parse_sql_export(p)
            out.append((p, os.stat(p).st_mtime_ns / 1e9, cols, rows))
    return out


def window_str(ts) -> np.ndarray:
    w = (np.floor(np.asarray(ts, dtype=float) / FWM_TIME) * FWM_TIME)
    return np.array([str(dt.datetime.fromtimestamp(x, dt.timezone.utc)
                         .replace(tzinfo=None)) for x in w])


def quantile(vals, q: float) -> float:
    s = sorted(vals)
    if not s:
        return float("nan")
    i = min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))
    return s[i]


# ------------------------------------------------------------------ drain

def _progress_rows(q) -> tuple[int, float]:
    """(input rows committed, wall time the last batch ended)."""
    seen: dict[int, tuple[int, float]] = {}
    for p in q.recentProgress:
        start = dt.datetime.fromisoformat(
            p["timestamp"].replace("Z", "+00:00")).timestamp()
        end = start + p.get("batchDuration", 0) / 1000.0
        seen[p["batchId"]] = (p.get("numInputRows", 0), end)
    rows = sum(r for r, _ in seen.values())
    last = max((e for r, e in seen.values() if r), default=0.0)
    return rows, last


def drain_once(builders, n_rows: int,
               timeout: float = DRAIN_TIMEOUT) -> dict:
    """Start every builder under availableNow, wait until each query has
    committed ``n_rows`` input rows, then stop them all. Times are wall
    clock."""
    t_start = time.time()
    c0 = procstat.cpu_total()
    queries, first_active = [], None
    for _, make in builders:
        queries.append(make().trigger(availableNow=True).start())
        if first_active is None:
            first_active = time.time()
    # fwm queries carry no queryName, so track queries by position
    dead, done_at = [], {}
    while time.time() - t_start < timeout:
        for i, q in enumerate(queries):
            if i in done_at:
                continue
            if q.exception() is not None:
                dead.append(str(q.name))
                done_at[i] = time.time()
                continue
            rows, last = _progress_rows(q)
            if rows >= n_rows:
                done_at[i] = last
        if len(done_at) == len(queries):
            break
        time.sleep(POLL_S)
    t_end = max(done_at.values()) if len(done_at) == len(queries) else None
    per_query = [round(done_at.get(i, t_start) - t_start, 2)
                 for i in range(len(queries))]
    cpu = procstat.cpu_total() - c0
    progress = [(name, list(q.recentProgress))
                for (name, _), q in zip(builders, queries)]
    for q in queries:
        try:
            q.stop()
        except Exception as ex:  # noqa: BLE001 — a dead query is reported
            dead.append(f"{q.name}: {ex}")
    return {
        "first_active": first_active,
        "start": t_start,
        "wall": (t_end - t_start) if t_end else None,
        "cpu": cpu,
        "dead": dead,
        "progress": progress,
        "queries": [name for name, _ in builders],
        "per_query": per_query,
    }


# --------------------------------------------------------------- checking

class Checker:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str, n: int = 1) -> bool:
        self.attempted += n
        if not ok:
            self.failed += n
            if len(self.notes) < 20:
                self.notes.append(what)
        return ok


def reference_topn(truth: pd.DataFrame, key: list[str], limit: int | None):
    """Per-window SUM(value) by key; top-N by value desc then key asc,
    the rest rolled into one NULL-keyed row (operators/topn.py)."""
    agg = truth.groupby(["time"] + key, as_index=False)["value"].sum()
    if limit is None:
        return {tuple(r): v for *r, v in agg.itertuples(index=False)}
    out = {}
    for w, g in agg.groupby("time"):
        g = g.sort_values(["value"] + key, ascending=[False] + [True] * len(key))
        for r in g.head(limit).itertuples(index=False):
            out[tuple(r[:-1])] = r[-1]
        rest = g.iloc[limit:]
        if len(rest):
            out[(w,) + (None,) * len(key)] = rest["value"].sum()
    return out


def exported_table(files) -> dict:
    out: dict = {}
    for _, _, cols, rows in files:
        for r in rows:
            k = tuple(r[:-1])
            out[k] = out.get(k, 0) + r[-1]
    return out


def compare_tables(ck: Checker, got: dict, want: dict, what: str) -> None:
    """One attempt per expected row plus one per unexpected row."""
    bad = sum(1 for k, v in want.items() if got.get(k) != v)
    extra = sum(1 for k in got if k not in want)
    ck.attempted += len(want) + extra
    ck.failed += bad + extra
    if bad or extra:
        ck.notes.append(f"{what}: {bad} wrong/missing of {len(want)}, "
                        f"{extra} unexpected")


# ---------------------------------------------------------------- results

def latency_stats(samples: list[float], missing: int, prefix: str) -> dict:
    """Median and p95 with the sample count; a missing sample counts as
    over any limit, so it enters as +inf."""
    vals = samples + [float("inf")] * missing
    return {
        f"{prefix}_p50_s": (quantile(vals, 0.50), "s", len(vals)),
        f"{prefix}_p95_s": (quantile(vals, 0.95), "s", len(vals)),
    }


def paced_latencies(ck: Checker, sent: list[tuple[int, float, float]],
                    export_at: dict[int, float], alert_at: dict[int, float]):
    exp_l, al_l, miss_e, miss_a = [], [], 0, 0
    for mid, due, _ in sent:
        if mid in export_at:
            exp_l.append(export_at[mid] - due)
        else:
            miss_e += 1
        if mid in alert_at:
            al_l.append(alert_at[mid] - due)
        else:
            miss_a += 1
    # one attempt per marker for its export and one for its alert
    ck.attempted += 2 * len(sent)
    ck.failed += miss_e + miss_a
    if miss_e or miss_a:
        ck.notes.append(f"paced: {miss_e} markers never exported, "
                        f"{miss_a} planted alerts never fired")
    late = [s - d for _, d, s in sent]
    out = {}
    out.update(latency_stats(exp_l, miss_e, "export_latency"))
    out.update(latency_stats(al_l, miss_a, "alert_latency"))
    out["generator_late_p50_s"] = (quantile(late, 0.5), "s", len(late))
    out["generator_late_max_s"] = (max(late) if late else 0.0, "s", len(late))
    return out


def run_sender(mode: str, schedule, target: str, run_dir: str,
               lead: float, tag: str = "") -> tuple[subprocess.Popen, str, float]:
    sched_path = os.path.join(run_dir, f"schedule_{mode}{tag}.pkl")
    with open(sched_path, "wb") as fh:
        pickle.dump(schedule, fh)
    log = os.path.join(run_dir, f"sent_{mode}{tag}.log")
    start_wall = time.time() + lead
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "sender.py"), mode, sched_path,
         target, f"{start_wall:.6f}", log])
    return proc, log, start_wall


def read_sent(log: str) -> list[tuple[int, float, float]]:
    out = []
    with open(log) as fh:
        for ln in fh:
            p = ln.split()
            if len(p) == 3:
                out.append((int(p[0]), float(p[1]), float(p[2])))
    return out


def wait_for(pred, timeout: float, step: float = 0.1) -> bool:
    t0 = time.time()
    while time.time() - t0 < timeout:
        if pred():
            return True
        time.sleep(step)
    return pred()


def summarize_drains(reps: list[dict], n_flows: int) -> dict:
    """Medians over the drains; a drain that never completed (already a
    failed check) counts as taking the whole drain timeout."""
    walls = [r["wall"] or DRAIN_TIMEOUT for r in reps]
    cpus = [r["cpu"] for r in reps]
    setups = [r["setup"] for r in reps]
    mw, mc = statistics.median(walls), statistics.median(cpus)
    return {
        "engine_setup_s": (statistics.median(setups), "s", len(setups)),
        "drain_wall_s": (mw, "s", len(walls)),
        "drain_cpu_s": (mc, "CPU-s", len(cpus)),
        "drain_flows_per_s": (n_flows / mw, "flows/s", len(walls)),
        "flows_per_cpu_s": (n_flows / mc, "flows/CPU-s", len(cpus)),
    }


def drain_loop(build, n_rows: int, n_flows: int, budget: float, check,
               min_reps: int = 3, max_reps: int = 6) -> tuple[list, dict]:
    """Fresh-engine drains of the full input until ``budget`` seconds are
    used. ``build(i)`` returns (builders, ctx)."""
    reps = []
    t0 = time.time()
    while len(reps) < max_reps and (len(reps) < min_reps
                                    or time.time() - t0 < budget):
        i = len(reps) + 1
        ts = time.perf_counter()
        builders, ctx = build(i)
        setup_part = time.perf_counter() - ts
        r = drain_once(builders, n_rows)
        r["setup"] = setup_part + (r["first_active"] - r["start"])
        check(i, r, ctx)
        note(f"drain {i}: setup {r['setup']:.2f}s wall {r['wall']} "
            f"cpu {r['cpu']:.1f}s per query {r['per_query']}")
        reps.append(r)
    return reps, summarize_drains(reps, n_flows)


# =============================================================== wire_mix

WIRE = dict(n_flows=20_000, n_dst=10_000, drain_markers=40,
            topn=100, rate=24.0, warmup=1.0,
            # paced traffic per tick: the marker's v5 packet carries
            # marker_bg background flows, plus bg_per_tick packets of
            # packet_flows flows from exporters drawn by share: 11 flows
            # per tick, ~770 flows/s at 70 ticks/s (--seconds 6), a
            # fifth of the drain capacity
            marker_bg=4, bg_per_tick=1, packet_flows=6)
WIRE_MO = {
    "edge": {
        "filter": "proto 6 or proto 17",
        "fwm": [{"name": "top_dst", "fields": ["dst host", "octets desc"],
                 "time": FWM_TIME, "limit": None}],
        "mavg": [{"name": "dst_rate", "fields": ["dst host", "octets"],
                  "time": MAVG_TIME, "buckets": "auto",
                  "overlimit": [{"name": "hi", "default": [1e8],
                                 "back2norm-time": 1}]}],
    },
    "web": {
        "filter": "proto 6 and dst port 80 or 443",
        "fwm": [{"name": "top_src", "fields": ["src host", "dst port",
                                               "octets desc"],
                 "time": FWM_TIME, "limit": None}],
        "mavg": [{"name": "src_rate", "fields": ["src host", "octets"],
                  "time": MAVG_TIME, "buckets": "auto",
                  "overlimit": [{"name": "hi", "default": [BIG]}]}],
    },
}


def wire_config(base: str, script: str, port: int) -> str:
    """xenoeye.conf + mo tree + devices.conf for one engine instance."""
    mo_dir = os.path.join(base, "mo")
    for name, conf in WIRE_MO.items():
        conf = json.loads(json.dumps(conf))
        for f in conf["fwm"]:
            f["limit"] = WIRE["topn"]
        if name == "edge":
            conf["mavg"][0]["overlimit"][0]["action-script"] = script
        _write(os.path.join(mo_dir, name, "mo.conf"), json.dumps(conf))
    devices = _write(os.path.join(base, "devices.conf"), gen.devices_conf())
    return _write(os.path.join(base, "xenoeye.conf"), json.dumps({
        "capture": [{"socket": {"listen-on": "127.0.0.1", "port": port}}],
        "templates": {"db": os.path.join(base, "state", "templates")},
        "devices": devices,
        "mo-dir": mo_dir,
    }))


def _spool(pk: gen.Packets, out_dir: str, ts: np.ndarray,
           roll: int = 1000) -> None:
    """Write packets as the bridge would: rolling (data, dev_ip,
    recv_ts) parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for k, i in enumerate(range(0, len(pk.data), roll)):
        sl = slice(i, i + roll)
        pq.write_table(pa.table({
            "data": pa.array(pk.data[sl], type=pa.binary()),
            "dev_ip": pa.array(pk.dev_ip[sl], type=pa.int64()),
            "recv_ts": pa.array((ts[sl] * 1e6).astype(np.int64),
                                type=pa.timestamp("us")),
        }), os.path.join(out_dir, f"p{k:05d}.parquet"))


def wire_drain_truth(pk: gen.Packets, ts: np.ndarray) -> pd.DataFrame:
    """One row per generated flow, stamped with its packet's arrival."""
    parts = []
    for t, when in zip(pk.truth, ts):
        if t is not None:
            parts.append(t.assign(ts=when))
    return pd.concat(parts, ignore_index=True)


def run_wire_mix(spark, run_dir: str, seed: int, seconds: float) -> dict:
    from xenoeye_spark.config.main import XenoeyeConfig
    from xenoeye_spark.enrich.devices import apply_devices, load_devices_conf
    from xenoeye_spark.sources.netflow import TemplateJournal, decode_packets_df

    rng = np.random.default_rng(seed)
    ck = Checker()
    ts0 = gen.BASE_TS + (seed % 1000) * 10
    # template announcements go to the journal, as the bridge does
    tj = TemplateJournal(os.path.join(run_dir, "drain_templates"))
    for pkt, ex in gen.template_packets(0):
        tj.append_packet(pkt, ex.dev_ip)
    tj.close()
    spool = os.path.join(run_dir, "drain_spool")
    marker_ids = np.arange(gen.scaled(WIRE["drain_markers"], 2)) + 1
    marker_dst = set((gen.MARKER_NET + marker_ids).tolist())
    inp: dict = {}

    def prepare():
        """The full drain input and its reference results (built while
        the paced daemon warms up)."""
        t_gen = time.perf_counter()
        pk = gen.wire_mix_packets(rng, gen.scaled(WIRE["n_flows"], 500),
                                  WIRE["n_dst"], marker_ids)
        ck.check(gen.self_check(pk) > 0,
                 "generator self-check decoded nothing")
        ts = ts0 + np.sort(rng.random(len(pk.data))) * 4.0
        _spool(pk, spool, ts)
        truth = wire_drain_truth(pk, ts)
        truth["time"] = window_str(truth["ts"])
        web = truth[(truth.proto == 6) & truth.dport.isin([80, 443])]
        inp.update(
            packets=len(pk.data), flows=len(truth),
            edge=reference_topn(truth.rename(columns={"dst": "k"}), ["k"],
                                WIRE["topn"]),
            web=reference_topn(web.rename(columns={"src": "k1",
                                                   "dport": "k2"}),
                               ["k1", "k2"], WIRE["topn"]),
            gen_s=time.perf_counter() - t_gen)

    def build(i):
        base = os.path.join(run_dir, f"drain{i}")
        script, _ = stamp_script(base)
        cfg = XenoeyeConfig.from_file(wire_config(base, script, 0))
        eng = cfg.build_engine(exp_dir=os.path.join(base, "exp"),
                               state_dir=os.path.join(base, "state"))
        packets = (spark.readStream
                   .schema("data binary, dev_ip long, recv_ts timestamp")
                   .parquet(spool))
        flows = decode_packets_df(packets.repartition("dev_ip"),
                                  journal_paths=(tj.json_path, tj.pkts_path))
        flows = apply_devices(flows, load_devices_conf(cfg.devices))
        return eng.builders(flows), base

    def check(i, r, base):
        ck.check(not r["dead"], f"drain {i}: dead queries {r['dead']}",
                 n=len(r["queries"]))
        ck.check(r["wall"] is not None, f"drain {i}: not drained")
        exp = os.path.join(base, "exp")
        compare_tables(ck, exported_table(exports(exp, "edge.fwm.top_dst")),
                       inp["edge"], f"drain {i} edge.top_dst")
        compare_tables(ck, exported_table(exports(exp, "web.fwm.top_src")),
                       inp["web"], f"drain {i} web.top_src")
        log = os.path.join(base, "alerts.log")
        wait_for(lambda: len(read_alerts(log)) >= len(marker_dst), 3.0)
        check_alerts(ck, read_alerts(log), marker_dst, f"drain {i}")

    # paced first: its daemon takes the JVM's cold start while the
    # drain input is built, and the drains then run warm
    paced = run_wire_paced(spark, run_dir, rng, 0.5 * seconds, ck,
                           while_warming=prepare)
    reps, metrics = drain_loop(build, inp["packets"], inp["flows"],
                               budget=0.4 * seconds, check=check)
    metrics.update(paced)
    metrics["gen_s"] = (inp["gen_s"], "s", 1)
    metrics["flows"] = (inp["flows"], "flows", 1)
    metrics["packets"] = (inp["packets"], "packets", 1)
    return {"metrics": metrics, "ck": ck, "reps": reps,
            "spool": spool, "journal": (tj.json_path, tj.pkts_path)}


def check_alerts(ck: Checker, alerts, planted: set, what: str) -> None:
    """NEW alerts must be exactly the planted keys, each once."""
    keys = [k for _, k, _ in alerts]
    got = set(keys)
    missing, spurious = planted - got, got - planted
    dup = len(keys) - len(got)
    ck.attempted += len(planted) + len(spurious) + dup
    ck.failed += len(missing) + len(spurious) + dup
    if missing or spurious or dup:
        ck.notes.append(f"{what} alerts: {len(missing)} planted missing, "
                        f"{len(spurious)} spurious, {dup} repeated")


def wire_schedule(rng, tick: float, n_warm: int, n_ticks: int,
                  first_id: int):
    """(offset, marker_id, (ip, packet)) items: templates, ``n_warm``
    ticks of background only, then ``n_ticks`` ticks each with one
    marker packet; background packets from the exporters by share on
    every tick; templates re-announced halfway through the markers."""
    sched = []
    for pkt, ex in gen.template_packets(0):
        sched.append((0.0, -1, (ex.ip, pkt)))
    ids = first_id + np.arange(n_ticks)
    for j in range(n_warm + n_ticks):
        off = 0.05 + j * tick
        mid = int(ids[j - n_warm]) if j >= n_warm else -1
        if n_ticks and j == n_warm + n_ticks // 2:
            for pkt, ex in gen.template_packets(j):
                sched.append((off, -1, (ex.ip, pkt)))
        n_mk, n_pk = WIRE["marker_bg"], WIRE["packet_flows"]
        bg = gen._cols(gen.background_flows(
            rng, n_mk + n_pk * WIRE["bg_per_tick"], WIRE["n_dst"]))
        owners = rng.choice(len(gen.EXPORTERS), size=WIRE["bg_per_tick"],
                            p=[e.share for e in gen.EXPORTERS])
        for k, oi in enumerate(owners):
            ex = gen.EXPORTERS[oi]
            recs = bg.iloc[n_mk + n_pk * k: n_mk + n_pk * (k + 1)]
            for pkt, _ in gen.encode(ex, recs, j):
                sched.append((off, -1, (ex.ip, pkt)))
        if mid >= 0:
            recs = pd.concat([gen._cols(gen.marker_flows([mid])),
                              bg.iloc[:n_mk]], ignore_index=True)
            pkt = gen.v5_packet(recs, j)
            sched.append((off, mid, (gen.MARKER_EXPORTER.ip, pkt)))
    return sched, ids


def _free_port() -> int:
    s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def run_wire_paced(spark, run_dir, rng, duration, ck,
                   while_warming=None) -> dict:
    """Paced phase against the collector daemon. ``while_warming()``
    runs while the daemon's queries take their cold start."""
    from xenoeye_spark import __main__ as daemon

    port = _free_port()
    base = os.path.join(run_dir, "paced")
    script, alert_log = stamp_script(base)
    conf = wire_config(base, script, port)
    exp = os.path.join(base, "exp")
    result: dict = {}

    def serve():
        try:
            result["rc"] = daemon.main(
                ["-c", conf, "--state", os.path.join(base, "state"),
                 "--exp", exp])
        except Exception as ex:  # noqa: BLE001 — reported as a failure
            result["error"] = repr(ex)

    n_before = len(spark.streams.active)
    th = threading.Thread(target=serve, daemon=True)
    th.start()
    ok = wait_for(lambda: len(spark.streams.active) - n_before >= 4, 60, 0.05)
    ck.check(ok, "daemon did not start its standing queries")
    queries = list(spark.streams.active)
    tick = 1.0 / max(WIRE["rate"], gen.scaled(MIN_SAMPLES, 20) / duration)
    if FWM_TIME / tick >= WIRE["topn"]:
        # more markers per window than the top-N keeps: some would be
        # rolled into "others" and read as never exported
        raise ValueError(f"marker rate {1 / tick:.0f}/s exceeds the "
                         f"top-{WIRE['topn']} per {FWM_TIME} s window")
    # background traffic at the paced rate until every standing query
    # has finished a batch with input: the first micro-batch of a fresh
    # JVM pays JIT and Python-worker start-up (~20 s on 4 cores)
    warm_sched, _ = wire_schedule(rng, tick, int(WARM_MAX / tick), 0, 0)
    warm_proc, _, _ = run_sender("udp", warm_sched, str(port), run_dir, 0.1,
                                 tag="warm")
    if while_warming is not None:
        while_warming()

    def warm():
        return all(any(p["numInputRows"] for p in q.recentProgress)
                   for q in queries)

    ck.check(wait_for(warm, WARM_MAX, 0.1), "daemon never warmed up")
    warm_proc.terminate()
    warm_proc.wait()
    sched, ids = wire_schedule(rng, tick, int(WIRE["warmup"] / tick),
                               int(duration / tick), first_id=100_000)
    drops0 = procstat.udp_rcvbuf_errors()
    note(f"paced: daemon warm, {len(ids)} markers")
    proc, sent_log, _ = run_sender("udp", sched, str(port), run_dir, 0.1)
    proc.wait()
    marker_dst = {int(gen.MARKER_NET + i): int(i) for i in ids}

    def collect():
        export_at = {}
        for _, mtime, _, rows in exports(exp, "edge.fwm.top_dst"):
            for r in rows:
                mid = marker_dst.get(r[1])
                if mid is not None:
                    export_at.setdefault(mid, mtime)
        alert_at = {}
        for m, k, t in read_alerts(alert_log):
            mid = marker_dst.get(k)
            if mid is not None:
                alert_at.setdefault(mid, t)
        return export_at, alert_at

    t_sent = time.time()
    wait_for(lambda: all(len(x) >= len(ids) for x in collect()),
             TAIL, 0.2)
    lag_end = time.time() - t_sent
    export_at, alert_at = collect()
    drops = procstat.udp_rcvbuf_errors() - drops0
    dead = [q.name for q in queries if q.exception() is not None]
    ck.check(not dead, f"paced: dead queries {dead}", n=len(queries))
    progress = [(q.name or "fwm", list(q.recentProgress)) for q in queries]
    for q in queries:
        q.stop()
    th.join(timeout=30)
    ck.check(not th.is_alive() and "error" not in result,
             f"daemon did not stop cleanly: {result}")
    sent = read_sent(sent_log)
    note(f"paced: tail {lag_end:.1f}s, daemon stopped")
    out = paced_latencies(ck, sent, export_at, alert_at)
    # exported marker values must be exact
    want = {int(gen.MARKER_NET + i): int(gen.MARKER_OCTETS + i * 1000)
            for i in ids}
    bad = 0
    for _, _, _, rows in exports(exp, "edge.fwm.top_dst"):
        for r in rows:
            if r[1] in want and r[2] != want[r[1]]:
                bad += 1
    ck.check(bad == 0, f"paced: {bad} marker rows with wrong totals",
             n=max(1, len(ids)))
    spur = {k for _, k, _ in read_alerts(alert_log)} - set(marker_dst)
    ck.check(not spur, f"paced: {len(spur)} spurious alerts")
    out["paced_markers"] = (len(sent), "count", 1)
    out["udp_drops"] = (drops, "count", 1)
    out["lag_end_s"] = (lag_end, "s", 1)
    out["_paced_progress"] = progress
    out["_paced_spool"] = os.path.join(base, "state", "spool")
    out["_paced_sent"] = sent
    return out
