"""Collector daemon entry — ``python -m xenoeye_spark -c xenoeye.conf``.

The runnable equivalent of the reference's ``xenoeye`` binary
(xenoeye.c:425-523): load the global config, start one UDP bridge per
configured socket capture, stream the bridged packets through the
distributed decoder, and run every monitoring object's standing queries
via the Engine.

Options:
    -c/--config PATH   xenoeye.conf (JSONC), default ./xenoeye.conf
    --spool DIR        bridge spool directory (default <state>/spool)
    --state DIR        state dir (notifications, ext gates)
    --exp DIR          SQL export dir
    --dry-run          print the planned queries and exit (no sources)

The daemon runs until a standing query ends or it is interrupted; then
it stops the rest. Exit status 1 if a query died with an error (each
one's name and exception go to stderr), else 0.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def spool_pcap_captures(spark, entries, spool: str) -> int:
    """Replay pcap-capture entries into the bridge spool.

    A pcap entry whose ``interface`` resolves to file path(s)/glob is
    replayed — datagrams extracted distributed (sources/pcap.py) and
    appended to the same spool the UDP bridges feed, so the standing
    queries consume both identically (the tcpreplay testing model,
    README.md:37). A BPF ``filter`` contributes its ``port N`` terms as
    a destination-port prefilter. Entries naming a real NIC are handled
    by ``start_live_captures`` (AF_PACKET sniffing, pcapture.c parity).
    Returns the number of entries replayed."""
    import glob as globmod
    import re

    from xenoeye_spark.sources.pcap import pcap_packets_df

    done = 0
    for e in entries:
        if e.kind != "pcap" or not e.interface:
            continue
        if not globmod.glob(e.interface):
            continue  # not a file/glob: start_live_captures handles it
        ports = {int(p) for p in re.findall(r"port\s+(\d+)", e.bpf or "")}
        # idempotence across restarts: a marker keyed by the resolved
        # files' (path, mtime, size) skips re-replay — the file source's
        # checkpoint only remembers OLD paths, so a fresh append per
        # start would re-count every pcap flow after each restart
        import hashlib
        import json as jsonmod

        files = sorted(globmod.glob(e.interface))
        sig = hashlib.md5(jsonmod.dumps(
            [(f, os.path.getmtime(f), os.path.getsize(f)) for f in files]
        ).encode()).hexdigest()
        marker = os.path.join(spool, f".pcap_replayed_{sig}")
        if os.path.exists(marker):
            continue
        pcap_packets_df(spark, e.interface, ports or None) \
            .write.mode("append").parquet(spool)
        open(marker, "w").close()
        done += 1
    return done


def start_live_captures(entries, spool: str, template_journal=None) -> list:
    """Start one AF_PACKET live capture per pcap entry whose
    ``interface`` names a NIC rather than file path(s) — the
    pcapture.c path (sources/live.py). Needs CAP_NET_RAW; a denied or
    missing interface logs loudly and is skipped (the reference's
    pcap_open_live fails the same way). Returns the started captures
    (each has .stop(), same lifecycle as UdpBridge)."""
    import glob as globmod

    from xenoeye_spark.sources.live import LiveCapture, parse_bpf_ports

    caps = []
    for e in entries:
        if e.kind != "pcap" or not e.interface or globmod.glob(e.interface):
            continue
        try:
            ports = parse_bpf_ports(e.bpf)
            cap = LiveCapture(
                spool, e.interface, ports=ports,
                template_journal=template_journal,
            ).start()
        except (OSError, ValueError) as err:
            print(
                f"pcap capture {e.interface!r}: no such file(s) and live "
                f"capture failed ({err}) — entry skipped",
                file=sys.stderr,
            )
            continue
        caps.append(cap)
        print(
            f"live capture on {e.interface} "
            f"(ports={sorted(ports) if ports else 'all'}) -> {spool}",
            file=sys.stderr,
        )
    return caps


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="xenoeye_spark")
    ap.add_argument("-c", "--config", default="xenoeye.conf")
    ap.add_argument("--spool", default=None)
    ap.add_argument("--state", default="state")
    ap.add_argument("--exp", default="exp")
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument("--exact-mfreq", action="store_true",
                    help="per-trigger frequency tables for mfreq() in "
                         "MO filters (default: min2 approximation)")
    args = ap.parse_args(argv)

    from xenoeye_spark.config.main import XenoeyeConfig

    cfg = XenoeyeConfig.from_file(args.config)
    eng = cfg.build_engine(exp_dir=args.exp, state_dir=args.state,
                           exact_mfreq=args.exact_mfreq)

    if args.dry_run:
        # plan without a live source: a memory-schema stream stand-in
        from xenoeye_spark.catalog import flow_schema
        from xenoeye_spark.session import get_spark

        spark = get_spark("xenoeye-dry-run")
        spool = args.spool or os.path.join(args.state, "spool")
        os.makedirs(spool, exist_ok=True)
        stream = spark.readStream.schema(flow_schema()).parquet(spool)
        for qname, _ in eng.builders(stream):
            print(qname)
        print(f"# capture: {len(cfg.capture)} netflow + "
              f"{len(cfg.sflow_capture)} sflow entries; "
              f"db-type={cfg.db_type}")
        return 0

    from xenoeye_spark.session import get_spark
    from xenoeye_spark.sources.netflow import (
        TemplateJournal,
        decode_packets_df,
    )
    from xenoeye_spark.sources.udp_bridge import UdpBridge

    spark = get_spark("xenoeye-spark")
    spool = args.spool or os.path.join(args.state, "spool")
    os.makedirs(spool, exist_ok=True)

    # templates survive restarts (reference: persistent tkvdb template DB,
    # "templates": {"db": ...} in xenoeye.conf)
    tj = TemplateJournal(
        cfg.templates_db or os.path.join(args.state, "templates")
    )
    seed = tj.load()
    if seed:
        print(f"{len(seed)} templates restored", file=sys.stderr)

    bridges = []
    for entry in cfg.socket_entries():
        host = "0.0.0.0" if entry.listen_on in ("*", "") else entry.listen_on
        b = UdpBridge(spool, host=host, port=entry.port, template_journal=tj)
        b.start()
        bridges.append(b)
        print(f"listening on UDP {host}:{b.port} -> {spool}", file=sys.stderr)

    n_pcap = spool_pcap_captures(
        spark, cfg.capture + cfg.sflow_capture, spool
    )
    if n_pcap:
        print(f"{n_pcap} pcap capture(s) replayed -> {spool}",
              file=sys.stderr)
    # pcap entries naming a NIC instead of files: sniff live
    # (pcapture.c parity; shares the bridges' stop() lifecycle)
    bridges.extend(
        start_live_captures(
            cfg.capture + cfg.sflow_capture, spool, template_journal=tj
        )
    )

    packets = (
        spark.readStream.schema("data binary, dev_ip long, recv_ts timestamp")
        .parquet(spool)
    )
    # journal_paths: each decode task re-reads the live journal so
    # templates ANNOUNCED MID-RUN decode data in every later micro-batch
    # (not just the batch carrying the announcement); tj.load() above
    # already merged the restored templates into it
    flows = decode_packets_df(
        packets.repartition("dev_ip"),
        journal_paths=(tj.json_path, tj.pkts_path),
    )
    if cfg.devices and os.path.isfile(cfg.devices):
        from xenoeye_spark.enrich.devices import (
            apply_devices,
            load_devices_conf,
        )

        flows = apply_devices(flows, load_devices_conf(cfg.devices))
    queries = eng.start(flows)
    # dump-flows debug sink (CONFIG.md:90-97): console stands in for
    # syslog; any other value is a file path appended per micro-batch
    if cfg.dump_flows and cfg.dump_flows != "none":
        from xenoeye_spark.streaming.debug import dump_flows_stream

        dq = dump_flows_stream(
            flows,
            os.path.join(args.state, "checkpoints", "_dump_flows"),
            console=(cfg.dump_flows == "syslog"),
            path=None if cfg.dump_flows == "syslog" else cfg.dump_flows,
        ).start()
        queries.append(dq)
    # db-export runner (monit-objects-fwm.c:781 spawns it after export
    # ticks): without this the configured script was parsed and never
    # run — .sql files piled up in exp/ and nothing reached the DB
    stop_export = None
    if cfg.db_export:
        import shlex
        import subprocess
        import threading

        stop_export = threading.Event()
        cmdline = f"{cfg.db_export} {shlex.quote(args.exp)}"

        def _export_loop():
            while not stop_export.is_set():
                try:
                    subprocess.run(cmdline, shell=True, timeout=300)
                except Exception as ex:  # noqa: BLE001 — keep shipping
                    print(f"db-export runner failed: {ex}", file=sys.stderr)
                stop_export.wait(30)

        threading.Thread(target=_export_loop, daemon=True).start()
    print(f"{len(queries)} standing queries running", file=sys.stderr)
    try:
        # one ended query ends the daemon: the rest would keep running
        # with a silent gap where the dead one's exports/alerts were
        while all(q.isActive for q in queries):
            time.sleep(1)
    except KeyboardInterrupt:
        pass
    finally:
        # look before stopping the rest: only a query that ended on its
        # own counts as dead
        rc = report_dead_queries(queries)
        if stop_export is not None:
            stop_export.set()
        eng.stop(queries)
        for b in bridges:
            b.stop()
    return rc


def report_dead_queries(queries) -> int:
    """Print each query that ended with an exception (name and error) to
    stderr; the daemon's exit status: 1 if any did, else 0."""
    rc = 0
    for q in queries:
        err = q.exception()
        if err is not None:
            print(f"standing query {q.name!r} died: {err}", file=sys.stderr)
            rc = 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
