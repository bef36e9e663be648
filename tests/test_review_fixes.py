"""Regression tests for the round-4 core-path review findings:
mid-run template persistence across micro-batches, typed per-key limit
coercion, short-record decoder padding, ClickHouse literal escaping,
and the engine's classification ClassDB wiring."""

from __future__ import annotations

import glob
import os
import struct

from pyspark.sql import functions as F

from xenoeye_spark.sources.netflow import (
    TemplateJournal,
    decode_packets_df,
    parse_packet,
    TemplateStore,
)
from test_sources import build_v9  # noqa: E402  (pytest puts tests/ on sys.path)


# --------------------------------------------------- templates mid-run

def test_mid_run_template_reaches_next_batch(spark, tmp_path):
    """A template journaled MID-RUN must decode data packets in LATER
    micro-batches: each decode task starts a fresh TemplateStore, so
    without the per-task journal replay only the batch carrying the
    announcement decodes (and the next batch silently drops flows)."""
    tpl_pkt = build_v9([(8, 4), (1, 4)], [(0x0A000001, 11)], tid=301,
                       source_id=5)
    data_body = int(0x0A000003).to_bytes(4, "big") + int(33).to_bytes(4, "big")
    data_fs = struct.pack(">HH", 301, 4 + len(data_body)) + data_body
    data_pkt = struct.pack(">HHIIII", 9, 1, 0, 1700000000, 2, 5) + data_fs

    tj = TemplateJournal(str(tmp_path / "templates"))
    # bridge journals the announcement while the stream is ALREADY up
    tj.append_packet(tpl_pkt, dev_ip=7)
    tj.close()

    # the "next micro-batch": data-only packet, NO static seed
    df = spark.createDataFrame(
        [(data_pkt, 7, 1.7e9)], "data binary, dev_ip long, recv_ts double"
    ).withColumn("recv_ts", F.col("recv_ts").cast("timestamp"))
    rows = decode_packets_df(
        df, journal_paths=(tj.json_path, tj.pkts_path)
    ).collect()
    assert len(rows) == 1 and rows[0]["ip4_src_addr"] == 0x0A000003

    # without the journal the same batch decodes NOTHING (the bug)
    assert decode_packets_df(df).collect() == []


# ------------------------------------------------------- limits typing

def test_coerce_limit_keys_types():
    from xenoeye_spark.config.limits import coerce_limit_keys, norm_group_key

    limits = {
        ("1.2.3.4", "6"): 100.0,
        ("10.0.0.1", "17"): 200.0,
    }
    got = coerce_limit_keys(limits, ["bigint", "bigint"])
    assert got == {(0x01020304, 6): 100.0, (0x0A000001, 17): 200.0}
    # v6 + MAC to binary
    got6 = coerce_limit_keys({("fe80::1",): 1.0}, ["binary"])
    import socket
    assert got6 == {(socket.inet_pton(socket.AF_INET6, "fe80::1"),): 1.0}
    mac = coerce_limit_keys({("aa:bb:cc:00:11:22",): 2.0}, ["binary"])
    assert mac == {(bytes([0xAA, 0xBB, 0xCC, 0x00, 0x11, 0x22]),): 2.0}
    # pandas hands binary group keys over as bytearray
    assert norm_group_key((bytearray(b"\x01"), 5)) == (b"\x01", 5)


def test_per_key_limit_applied_in_stream(spark, tmp_path):
    """End to end: a CSV limit keyed by dotted-quad must beat the
    section default for that key's LongType group value."""
    from xenoeye_spark.config.limits import (
        coerce_limit_keys, parse_limits_lines,
    )
    from xenoeye_spark.streaming.mavg_stream import mavg_alert_stream

    base = 1_700_000_000
    # two keys, identical traffic; key 16909060 (=1.2.3.4) has a huge
    # per-key limit (never alerts), the other falls to default 0.0
    rows = [(k, float(base + i), 100.0)
            for i in range(10) for k in (16909060, 42)]
    src = tmp_path / "src"
    df = spark.createDataFrame(rows, "k long, ts double, v double") \
        .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1)
    df.write.parquet(str(src / "b0"))

    per_key = coerce_limit_keys(
        parse_limits_lines(["1.2.3.4,1e12"], 1), ["bigint"]
    )
    collected = []

    def build(stream, ckpt, out):
        alerts = mavg_alert_stream(
            stream, ["k"], "v", window_sec=30, threshold=0.0,
            back2norm_sec=5, thresholds=per_key, silent_watch=False,
        )

        def sink(d, e):
            out.extend(d.collect())

        return (
            alerts.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )

    import pyspark.sql.types as T
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ])

    stream = (
        spark.readStream.schema(schema).parquet(str(src / "b0"))
    )
    q = build(stream, str(tmp_path / "ckpt"), collected)
    q.awaitTermination(120)
    alerted = {r["k"] for r in collected}
    assert 42 in alerted          # default 0.0 breached
    assert 16909060 not in alerted  # per-key 1e12 honored


# ------------------------------------------------------ decoder padding

def test_final_short_record_not_dropped_as_padding():
    """A template shorter than 4 bytes must decode its final record —
    the old 'remainder < 4 is padding' check dropped it."""
    tpl = [(4, 1), (5, 1)]  # protocol + src_tos: 2-byte records
    tpl_pkt = build_v9(tpl, [], tid=302, source_id=1)
    store = TemplateStore()
    parse_packet(tpl_pkt, store, dev_ip=1)

    body = bytes([6, 0, 17, 1, 1, 2])  # three 2-byte records
    fs = struct.pack(">HH", 302, 4 + len(body)) + body
    pkt = struct.pack(">HHIIII", 9, 1, 0, 1700000000, 2, 1) + fs
    rows = parse_packet(pkt, store, dev_ip=1)
    assert [(r["protocol"], r["src_tos"]) for r in rows] == [
        (6, 0), (17, 1), (1, 2)
    ]


# -------------------------------------------------------- SQL literals

def test_sql_literal_clickhouse_dialect():
    from xenoeye_spark.streaming.fwm_stream import _sql_literal

    assert _sql_literal(b"\x00\x11\x22") == "'\\x001122'"          # PG bytea
    assert _sql_literal(b"\x00\x11\x22", "clickhouse") == "unhex('001122')"
    assert _sql_literal("a\\b", "clickhouse") == "'a\\\\b'"
    assert _sql_literal("a\\b") == "'a\\b'"
    assert _sql_literal("o'x", "clickhouse") == "'o''x'"


# ------------------------------------------------- classification wiring

def test_engine_classification_writes_class_db(spark, tmp_path):
    """The daemon's classification query persists the filesystem class
    DB (clsf/<mo>/<id>/<class>/{name,stats}) and a user rename in the
    `name` file wins on the next cycle (classification.c parity)."""
    from xenoeye_spark.engine import Engine

    root = tmp_path / "modir" / "border"
    root.mkdir(parents=True)
    (root / "mo.conf").write_text("""
{
  "filter": "",
  "classification": [ {"fields": ["src host"], "val": "octets desc",
                       "top-percents": 99, "time": 1} ]
}
""")
    src_dir = tmp_path / "flows"
    rows = [(1_700_000_000 + i, 0x0A000001, 1000 + i) for i in range(5)]
    df = spark.createDataFrame(
        rows, "ts long, ip4_src_addr long, in_bytes long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(str(src_dir))

    eng = Engine(
        str(tmp_path / "modir"),
        exp_dir=str(tmp_path / "exp"),
        state_dir=str(tmp_path / "state"),
        checkpoint_root=str(tmp_path / "ckpt"),
        run_scripts=False,
        silent_watch=False,
    )
    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    [(qname, make)] = eng.builders(stream)
    assert qname == "border.clsf.0"
    q = make().trigger(availableNow=True).start()
    q.awaitTermination(60)

    class_dirs = glob.glob(
        str(tmp_path / "state" / "clsf" / "border" / "0" / "*")
    )
    assert class_dirs, "class DB directory not written"
    d = class_dirs[0]
    assert os.path.isfile(os.path.join(d, "name"))
    assert os.path.isfile(os.path.join(d, "stats"))


# ------------------------------------------------------- geoip round 2

def test_csv_asn_is_numeric_through_lookup_expr(spark, tmp_path):
    """CSV-loaded AS db must survive lookup_expr's LongType UDF — string
    asn values made the Arrow conversion throw on the first hit."""
    import numpy as np

    from xenoeye_spark.enrich.geoip import load_geodb_dir

    (tmp_path / "as4.csv").write_text("cidr,asn,asd\n10.0.0.0/8,64512,X\n")
    _, asdb = load_geodb_dir(str(tmp_path))
    df = spark.createDataFrame([(0x0A000001,), (0x7F000001,)], "ip long")
    got = {r.ip: r.a for r in df.select(
        "ip", asdb.lookup_expr("asn", F.col("ip")).alias("a")
    ).collect()}
    assert got == {0x0A000001: 64512, 0x7F000001: 0}


def test_geo_fn_dispatches_v6_columns(spark):
    """country(src host6) must reach the v6 LPM: the v4 path casts the
    BinaryType(16) column to long and fails analysis."""
    import ipaddress

    from xenoeye_spark.dsl.compiler import FilterContext, compile_filter
    from xenoeye_spark.enrich.geoip import GeoDB, make_geo_fn

    db = GeoDB([("2001:db8::/32", {"country": "XX"})])
    ctx = FilterContext(geo_fn=make_geo_fn(db, db))
    pred = compile_filter("country(src host6) 'XX'", ctx)
    df = spark.createDataFrame(
        [(ipaddress.IPv6Address("2001:db8::1").packed,),
         (ipaddress.IPv6Address("fe80::1").packed,)],
        "ip6_src_addr binary",
    )
    got = [r[0] for r in df.select(pred).collect()]
    assert got == [True, False]


# ----------------------------------------------------- bridge uniqueness

def test_bridge_spool_names_unique_across_instances(tmp_path):
    """Two bridges sharing one spool (several ports) and a restarted
    bridge (seq resets) must never produce colliding parquet names."""
    from xenoeye_spark.sources.udp_bridge import UdpBridge

    names = set()
    for _ in range(3):
        b = UdpBridge(str(tmp_path), host="127.0.0.1", port=0)
        b._flush([(b"x", 1, 1.0)])
        b.sock.close()
        new = {f for f in os.listdir(tmp_path) if f.endswith(".parquet")}
        added = new - names
        assert len(added) == 1, "flush must create exactly one new file"
        names = new
    assert len(names) == 3


# ---------------------------------------------------- prefix validation

def test_bad_prefix_lengths_rejected():
    from xenoeye_spark.dsl.compiler import (
        CompileError, FilterContext, compile_filter,
    )

    for flt in ("src net 10.0.0.0/33", "src net6 ::1/129",
                "src net6 ::1/200"):
        try:
            compile_filter(flt, FilterContext())
            raise AssertionError(f"{flt!r} must not compile")
        except CompileError:
            pass


# ------------------------------------------------- notif path traversal

def test_notification_path_cannot_escape_dir(tmp_path):
    from xenoeye_spark.streaming.act import AlertActionSink

    sink = AlertActionSink(
        mo_name="mo", mavg_name="m", limit_name="hi", key_cols=["a", "b"],
        notif_dir=str(tmp_path), run_scripts=False,
    )
    p = sink._notif_path(["../../etc/passwd", "x/y"])
    assert os.path.realpath(p).startswith(os.path.realpath(str(tmp_path)))
    assert "/.." not in p and not os.path.basename(p).startswith("..")


# ------------------------------------------------------ DNS truncation

def test_truncated_dns_records_do_not_crash_or_emit_garbage():
    """sFlow captures cut packets mid-record routinely: a truncated AAAA
    must not raise, a truncated A must not emit a malformed address."""
    import struct as st

    from xenoeye_spark.sources.payload import parse_dns_response

    def name(n):
        return b"".join(bytes([len(p)]) + p.encode() for p in n.split(".")) + b"\x00"

    q = name("x.example") + st.pack(">HH", 28, 1)
    # AAAA answer claiming rdlen=16 but payload cut after 3 rdata bytes
    ans = name("x.example") + st.pack(">HHIH", 28, 1, 60, 16) + b"\x20\x01\x0d"
    pkt = st.pack(">HHHHHH", 1, 0x8180, 1, 1, 0, 0) + q + ans
    qname, ips = parse_dns_response(pkt)
    assert qname == "x.example" and ips == []

    # truncated A (rdlen=4, 2 bytes present) -> no '32.1'-style garbage
    ans_a = name("x.example") + st.pack(">HHIH", 1, 1, 60, 4) + b"\x20\x01"
    pkt_a = st.pack(">HHHHHH", 1, 0x8180, 1, 1, 0, 0) + q + ans_a
    _, ips_a = parse_dns_response(pkt_a)
    assert ips_a == []


# -------------------------------------------------- dbexport isolation

def test_pg_export_poison_file_quarantines_alone(tmp_path):
    """One malformed .sql file must not drag good files into expfailed:
    the batch falls back to per-file transactions."""
    import sys
    sys.path.insert(0, "/root/repo/scripts")
    from xe_dbexport import run_export

    (tmp_path / "good_1.sql").write_text("SELECT 1;\n")
    (tmp_path / "poison_2.sql").write_text("SYNTAX ERROR;\n")
    (tmp_path / "good_3.sql").write_text("SELECT 2;\n")
    # shell stand-in for psql -v ON_ERROR_STOP=1: fails iff input
    # contains the poison marker
    cmd = "python3 -c \"import sys; d=sys.stdin.read(); sys.exit(1 if 'SYNTAX ERROR' in d else 0)\""
    shipped, failed = run_export(str(tmp_path), cmd, db_type="pg")
    assert (shipped, failed) == (2, 1)
    import os as _os
    assert sorted(_os.listdir(tmp_path / "expfailed")) == ["poison_2.sql"]
    # good files are gone (shipped), not quarantined
    assert not [f for f in _os.listdir(tmp_path) if f.endswith(".sql")]


def test_sql_export_write_is_atomic(tmp_path, spark):
    """fwm_sql_export must never expose a half-written .sql to the
    sweeping runner — written to a dot-tmp then renamed."""
    from xenoeye_spark.streaming.fwm_stream import fwm_sql_export

    df = spark.createDataFrame([(1, "a")], "v long, k string")
    p = fwm_sql_export(df, "t1", str(tmp_path), 7)
    assert os.path.basename(p) == "t1_7.sql"
    assert not [f for f in os.listdir(tmp_path) if f.endswith(".tmp")]


# ------------------------------------------------------ jsonc strings

def test_jsonc_trailing_comma_removal_spares_strings():
    from xenoeye_spark.config.mo import parse_jsonc

    d = parse_jsonc('{"filter": "a ,] b ,} c", "x": 1,}')
    assert d == {"filter": "a ,] b ,} c", "x": 1}
    assert parse_jsonc('{"a": [1, 2,], /* c */ "b": "x,]",}') == {
        "a": [1, 2], "b": "x,]",
    }


# --------------------------------------------------- reloader new files

def test_mo_reloader_reports_new_files(tmp_path):
    from xenoeye_spark.config.mo import MoReloader

    root = tmp_path / "mo"
    (root / "a").mkdir(parents=True)
    (root / "a" / "mo.conf").write_text('{"filter": ""}')
    r = MoReloader(str(root))
    assert r.check() == []          # nothing changed since priming
    (root / "b").mkdir()
    (root / "b" / "mo.conf").write_text('{"filter": "proto 6"}')
    changed = r.check()
    assert len(changed) == 1        # hot-added object IS reported
    assert r.check() == []          # and only once


# ----------------------------------------------------- classdb roundtrip

def test_classdb_slash_keys_roundtrip(tmp_path):
    from xenoeye_spark.operators.classify import ClassDB

    db = ClassDB(str(tmp_path), "mo", 0)
    db.write_cycle([("a/b", "gen1", 1.0), ("a_b", "gen2", 2.0)])
    names = db.load_names()
    # distinct keys stay distinct (no directory collision) and lookups
    # use the RAW key
    assert names == {"a/b": "gen1", "a_b": "gen2"}


# ------------------------------------------------- multimodal NaN clamp

def test_narrow_image_features_have_no_nan(spark):
    import math

    from xenoeye_spark.datapipe.multimodal import decode_and_featurize

    media = spark.createDataFrame(
        [(1, b"\x01small")], "media_id long, content binary"
    )
    [r] = decode_and_featurize(media, fake=True, feat_dim=64).collect()
    assert len(r.feature) == 64
    assert not any(math.isnan(x) for x in r.feature)


# ----------------------------------------------------------- batch 4

def test_leading_zero_ranges_and_ints():
    from xenoeye_spark.dsl.lexer import parse_int, parse_range

    assert parse_range("010-020") == (8, 16)   # strtol(_, 0): octal
    assert parse_range("08-09") is None        # invalid octal: not a range
    assert parse_int("010") == 8
    assert parse_int("08") is None


def test_classification_stamp_keeps_key_types(spark):
    from xenoeye_spark.streaming.classify_stream import ClassificationLoop

    loop = ClassificationLoop(
        key_cols=["port"], val_col="v", top_percents=99, class_col="c0"
    )
    out_schemas = []
    loop.output_fn = lambda df, e: out_schemas.append(df.schema.simpleString())
    b = spark.createDataFrame([(80, 10.0), (443, 5.0)], "port long, v double")
    loop.process_batch(b, 0)   # epoch 0: no model yet
    loop.process_batch(b, 1)   # model exists now
    assert out_schemas[0] == out_schemas[1]
    assert "port:bigint" in out_schemas[1]   # key type survives stamping


def test_class_key_is_bijective():
    from xenoeye_spark.streaming.classify_stream import ClassificationLoop

    loop = ClassificationLoop(["a", "b"], "v", 90)
    assert loop._class_key(["10_0", "1"]) != loop._class_key(["10", "0_1"])


def test_cc_rejects_string_ids(spark):
    from xenoeye_spark.datapipe.graph import connected_components

    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    try:
        connected_components(pairs)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_stratified_prefilter_samples_null_group(spark, monkeypatch):
    from pyspark.sql import Row as R

    from xenoeye_spark.datapipe.sampling import stratified_sample

    # pin the REAL prefilter path (r13, ADVICE r12) — the default env
    # would route this test-sized input to the bypass and leave the
    # NULL-group re-admit unexercised
    monkeypatch.setenv("XE_STRAT_LOCAL_ROWS", "0")
    rows = [R(doc_id=i, g="x") for i in range(30)] + [
        R(doc_id=100 + i, g=None) for i in range(10)
    ]
    df = spark.createDataFrame(rows)
    plain = {(r.g, r.doc_id) for r in stratified_sample(df, "g", 5).collect()}
    guarded = {
        (r.g, r.doc_id)
        for r in stratified_sample(df, "g", 5, prefilter_factor=4).collect()
    }
    assert plain == guarded
    assert any(g is None for g, _ in guarded)   # NULL group sampled


def test_func_pred_rejects_outer_direction():
    from xenoeye_spark.dsl.parser import ParseError, parse_filter

    try:
        parse_filter("src min(port, port) 443")
        raise AssertionError("expected ParseError")
    except ParseError:
        pass


def test_func_field_name_whitespace_invariant():
    from xenoeye_spark.dsl.fields import parse_field

    a = parse_field("div(octets,packets) desc")
    b = parse_field("div(octets, packets) desc")
    assert a.sql_name == b.sql_name == "div_octets_packets_"


def test_mfreq_observe_bounded_groups(spark):
    """observe() masks executor-side: a wide-domain column must reach
    the driver as <= 65536 rows AND land in the same slots as the
    driver-side &0xFFFF."""
    from xenoeye_spark.streaming.mfreq_stream import MfreqState

    st = MfreqState()
    df = spark.createDataFrame(
        [(i * 65536 + 7,) for i in range(5)] + [(3,)], "a long"
    ).withColumn("b", F.col("a"))
    st.observe(df, "a", "b")
    assert st.freq[7] == 10      # 5 rows x 2 cols, all slot 7
    assert st.freq[3] == 2


# ----------------------------------------------------------- batch 5

def test_db_type_ch_normalized(tmp_path):
    from xenoeye_spark.config.main import XenoeyeConfig

    cfg = XenoeyeConfig.from_dict({"db-type": "ch"})
    assert cfg.db_type == "clickhouse"
    assert XenoeyeConfig.from_dict({"db-type": "pg"}).db_type == "pg"
    try:
        XenoeyeConfig.from_dict({"db-type": "oracle"})
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_pcap_replay_idempotent_across_restarts(spark, tmp_path):
    """Restarting the daemon must not re-append the same pcap flows —
    the marker file keyed by the source files' identity skips them."""
    from test_pcap import build_pcap  # same-dir import
    from xenoeye_spark.__main__ import spool_pcap_captures
    from xenoeye_spark.config.main import CaptureEntry

    pcap = tmp_path / "cap.pcap"
    pcap.write_bytes(build_pcap([(1.0, b"\x00" * 60)]))
    spool = tmp_path / "spool"
    spool.mkdir()
    e = CaptureEntry(kind="pcap", interface=str(pcap))
    assert spool_pcap_captures(spark, [e], str(spool)) == 1
    n1 = len(list(spool.glob("*.parquet")))
    # "restart": same entry replayed again -> skipped
    assert spool_pcap_captures(spark, [e], str(spool)) == 0
    assert len(list(spool.glob("*.parquet"))) == n1


def test_dump_flows_stream_file_sink(spark, tmp_path):
    from pyspark.sql import types as T

    from xenoeye_spark.streaming.debug import dump_flows_stream

    src = tmp_path / "src"
    spark.createDataFrame(
        [(0x0A000001, 80)], "ip4_src_addr long, l4_dst_port long"
    ).coalesce(1).write.parquet(str(src))
    schema = T.StructType([
        T.StructField("ip4_src_addr", T.LongType()),
        T.StructField("l4_dst_port", T.LongType()),
    ])
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = tmp_path / "flows.txt"
    q = dump_flows_stream(
        stream, str(tmp_path / "ckpt"), console=False, path=str(out)
    ).trigger(availableNow=True).start()
    q.awaitTermination(60)
    text = out.read_text()
    assert "ip4_src_addr: 10.0.0.1" in text and "l4_dst_port: 80" in text


def test_bench_final_line_fits_driver_capture():
    """The driver parses only the TAIL of bench stdout, and round 6
    PROVED the window is 2000 bytes (BENCH_r06.json: 2000-byte tail,
    head clipped, parsed=null despite the line being under the old 4KB
    budget). The final JSON line, built with the FULL current query set
    plus every probe field, must parse and fit — the most expensive
    queries survive on the line, the cheap tail degrades to _omitted
    with the complete map in bench_detail.json."""
    import json

    import __spark_entry__ as entrymod
    from bench import FINAL_LINE_MAX_BYTES, build_final_line

    assert FINAL_LINE_MAX_BYTES <= 2000, "driver capture observed at 2000B"
    names = list(entrymod.queries())
    # realistic magnitudes with distinct costs so the greedy order is
    # deterministic: the most expensive queries must be ON the line
    timings = {n: 0.1 + i * 0.07 for i, n in enumerate(names)}
    probe = {
        "flows_per_sec": 999_999_999,
        "flows_per_sec_min": 999_999_999,
        "flows_per_sec_max": 999_999_999,
        "flows_per_sec_per_core": 99_999_999,
        "flows_per_sec_note": "synthetic flows through filter+fwm+topN, "
                              "median of 3 warmed runs in a clean JVM, "
                              "n=100000000, local[32]",
        # r9 probe fields ride the line too — budget must still hold
        "mavg_flows_per_sec": 999_999_999,
        "mavg_flows_per_sec_min": 999_999_999,
        "mavg_flows_per_sec_max": 999_999_999,
        "mavg_note": "n=50000000 keys=500000 buckets=64 median of 6",
        "noisy": False,
    }
    # r10: the spread-flagged names ride the line — budget must hold
    # with three worst-case-length names present
    flagged = sorted(names, key=len, reverse=True)[:3]
    line = build_final_line(timings, 99999.9, 6, "0.1", "subprocess",
                            probe, flagged)
    assert len(line.encode()) <= FINAL_LINE_MAX_BYTES
    parsed = json.loads(line)
    assert parsed["metric"] == "total_query_wall_sec"
    assert parsed["noisy_queries"] == flagged
    shown = {k for k in parsed["queries"] if not k.startswith("_")}
    assert shown <= set(names)
    # the top-cost queries are all on the line
    by_cost = sorted(names, key=lambda n: -timings[n])
    assert set(by_cost[:20]) <= shown
    if shown != set(names):
        assert "_omitted" in parsed["queries"]
    # legacy call shape (no flag list) still renders without the field
    legacy = json.loads(
        build_final_line(timings, 99999.9, 6, "0.1", "subprocess", probe)
    )
    assert "noisy_queries" not in legacy

    # the overflow path degrades to a parseable headline, never truncates
    fat = {f"query_with_a_long_name_{i}": 9999.99 for i in range(400)}
    line2 = build_final_line(fat, 1.0, 3, "0.1", "inline", probe,
                             [f"query_with_a_long_name_{i}" for i in
                              range(3)])
    assert len(line2.encode()) <= FINAL_LINE_MAX_BYTES
    assert json.loads(line2)["value"] == 1.0


# --------------------------------------------------- round-6 review

def test_cell_expr_plain_projection(spark):
    """r6 review fix: _cell_expr must resolve in a PLAIN projection —
    the struct-field form only analyzed when the caller's select also
    contained a generator (generator extraction rewrote the field
    names to col1/col2); the array form is position-addressed and
    context-free."""
    import numpy as np

    from xenoeye_spark.datapipe.similarity import _cell_expr

    cents = np.array([[0.0, 0.0], [10.0, 10.0]])
    df = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [9.0, 9.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.cell for r in df.select(
        "vec_id", _cell_expr(F.col("embedding"), cents).alias("cell")
    ).collect()}
    assert got == {0: 0, 1: 1}

    # tie goes to the LOWER cell (duplicate centroids)
    dup = np.array([[1.0, 1.0], [1.0, 1.0]])
    tie = df.select(_cell_expr(F.col("embedding"), dup).alias("c"))
    assert [r.c for r in tie.collect()] == [0, 0]


def test_widen_delay_keeps_full_interval_grammar():
    """r6 review fix: widen_delay must accept every delay string
    withWatermark accepted before the pre-combine existed (compound,
    milliseconds, days) — not just the window parser's subset."""
    import pytest as _pytest

    from xenoeye_spark.streaming.wutil import interval_ms, widen_delay

    assert interval_ms("500 milliseconds") == 500
    assert interval_ms("1 minute 30 seconds") == 90_000
    assert interval_ms("1 day") == 86_400_000
    assert interval_ms("0 seconds") == 0
    assert widen_delay("1 minute 30 seconds", 60_000) \
        == "150000 milliseconds"
    with _pytest.raises(ValueError):
        interval_ms("1 fortnight")
    with _pytest.raises(ValueError):
        interval_ms("")


def test_decode_ppm_rejects_trailing_bytes():
    """r6 review fix: CRLF after maxval (or any trailing junk) must
    raise, not shift every pixel by one byte silently."""
    import numpy as np
    import pytest as _pytest

    from xenoeye_spark.datapipe.codecs import decode_ppm

    img = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    with _pytest.raises(ValueError, match="trailing"):
        decode_ppm(b"P6\n2 2\n255\r\n" + img.tobytes())
    with _pytest.raises(ValueError, match="trailing"):
        decode_ppm(b"P6\n2 2\n255\n" + img.tobytes() + b"\n")
    assert (decode_ppm(b"P6\n2 2\n255\n" + img.tobytes()) == img).all()


def test_decode_wav_rejects_partial_samples():
    """r6 review fix: an odd 16-bit payload or a partial multi-channel
    frame raises instead of silently dropping samples."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from xenoeye_spark.datapipe.codecs import decode_wav, encode_wav

    def rebuild(payload, n_ch):
        fmt = _struct.pack("<HHIIHH", 1, n_ch, 8000,
                           8000 * n_ch * 2, n_ch * 2, 16)
        out = b"RIFF" + _struct.pack(
            "<I", 4 + 8 + len(fmt) + 8 + len(payload))
        out += b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        out += b"data" + _struct.pack("<I", len(payload)) + payload
        return out

    with _pytest.raises(ValueError, match="odd byte count"):
        decode_wav(rebuild(b"\x00" * 5, 1))
    with _pytest.raises(ValueError, match="partial frame"):
        decode_wav(rebuild(b"\x00" * 6, 2))   # 3 samples over 2 ch
    good = encode_wav(np.zeros((4, 2), dtype=np.int16), 8000)
    arr, rate = decode_wav(good)
    assert arr.shape == (4, 2) and rate == 8000


def test_cap_budget_reserved_column_guards(spark):
    """r6 review fix: domain_cap / token_budget_select refuse inputs
    whose columns collide with their working/output names instead of
    silently overwriting and dropping them."""
    import pytest as _pytest

    from xenoeye_spark.datapipe.sampling import (
        domain_cap, token_budget_select,
    )

    df = spark.createDataFrame(
        [(0, "a", 1, 9)], "doc_id long, g string, _salt int, n long"
    )
    with _pytest.raises(ValueError, match="collide"):
        domain_cap(df, "g", 5)
    with _pytest.raises(ValueError, match="collide"):
        token_budget_select(df, "g", 10, "n")


def test_multiscan_baseline_jpeg_refused_loudly():
    """r7 review fix: a legal baseline JPEG split into multiple SOS
    scans (ns < frame components) must raise NotImplementedError, not
    KeyError on the scan dict miss."""
    import pytest as _pytest
    import numpy as np

    from xenoeye_spark.datapipe.codecs_jpeg import (
        decode_jpeg, encode_jpeg_rgb,
    )

    data = bytearray(
        encode_jpeg_rgb(np.zeros((8, 8, 3), dtype=np.uint8))
    )
    i = data.find(b"\xff\xda")
    assert i >= 0
    # rewrite the 3-component SOS header (len=12, ns=3) into a
    # 1-component one (len=8, ns=1): keep component 1's pair, then the
    # Ss/Se/AhAl trailer; the 4 bytes freed become scan data we never
    # reach
    trailer = bytes(data[i + 11:i + 14])
    data[i + 2:i + 14] = (
        b"\x00\x08\x01" + bytes(data[i + 5:i + 7]) + trailer + b"\x00" * 4
    )
    with _pytest.raises(NotImplementedError, match="multi-scan"):
        decode_jpeg(bytes(data))


def test_png_palette_index_out_of_range_is_valueerror():
    """r7 review fix: palette indices past the PLTE length raise a
    clear ValueError, not a numpy IndexError."""
    import pytest as _pytest
    import numpy as np

    from xenoeye_spark.datapipe.codecs_png import decode_png, encode_png

    pal = np.array([[1, 2, 3], [4, 5, 6], [7, 8, 9]], dtype=np.uint8)
    idx = np.full((2, 2), 4, dtype=np.uint8)          # only 3 entries
    data = encode_png(idx, ctype=3, filter_type=0, palette=pal)
    with _pytest.raises(ValueError, match="palette index"):
        decode_png(data)


def test_lsh_cross_empty_new_batch_clear_error(spark):
    """r7 review fix: lsh_candidate_pairs_cross with sig_len=None on an
    EMPTY new-batch signature table raises a clear ValueError instead
    of TypeError on first() returning None."""
    import pytest as _pytest

    from xenoeye_spark.datapipe.dedup import lsh_candidate_pairs_cross

    schema = "doc_id long, signature array<bigint>"
    empty = spark.createDataFrame([], schema)
    corpus = spark.createDataFrame([(1, [1, 2, 3, 4])], schema)
    with _pytest.raises(ValueError, match="empty"):
        lsh_candidate_pairs_cross(empty, corpus, bands=2)
    # explicit sig_len on an empty batch is fine: zero candidate pairs
    out = lsh_candidate_pairs_cross(empty, corpus, bands=2, sig_len=4)
    assert out.count() == 0


def test_round_sidecar_write_guards(tmp_path):
    """r10: the per-round bench sidecar is claimed only by default-SF
    runs, and never re-claimed once the driver's headline + sidecar
    pair exists (the r9 rule). An sf0.001 smoke run nearly replaced
    the auditable sf0.1 record — this pins the guard."""
    from bench import should_write_round_sidecar

    here = str(tmp_path)
    # fresh round, default SF (env unset): write
    assert should_write_round_sidecar(here, 10, environ={})
    # default SF spelled explicitly (trailing slash tolerated): write
    assert should_write_round_sidecar(
        here, 10, environ={"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1/"}
    )
    # off-default smoke run: never
    assert not should_write_round_sidecar(
        here, 10, environ={"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001"}
    )
    # headline recorded but sidecar missing: still write (completes
    # the pair)
    (tmp_path / "BENCH_r10.json").write_text("{}")
    assert should_write_round_sidecar(here, 10, environ={})
    # full pair present: the record is sealed
    (tmp_path / "BENCH_detail_r10.json").write_text("{}")
    assert not should_write_round_sidecar(here, 10, environ={})
    # ... even for a default-SF re-run
    assert not should_write_round_sidecar(
        here, 10, environ={"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1"}
    )


def test_bench_batch_partition_and_slim_line():
    """r13 (VERDICT r12 #1): the suite runs as two subprocess batches —
    is_media_query must partition the declared query set cleanly (the
    parent unions the parts, so a query claimed by both or neither
    would double-time or vanish), and the slimmed headline line must
    carry MORE per-query entries than the r12 rendering so queries
    stop reading as dropped_from_bench when new ones join. The full
    probe detail stays in the sidecar (asserted by the keys the line
    is allowed to carry)."""
    import json

    import __spark_entry__ as entrymod
    from bench import (
        FINAL_LINE_MAX_BYTES, build_final_line, is_media_query,
    )

    names = list(entrymod.queries())
    media = [n for n in names if is_media_query(n)]
    main = [n for n in names if not is_media_query(n)]
    assert set(media) | set(main) == set(names)
    assert not set(media) & set(main)
    # the r12 polluters are all in the isolated batch
    assert {"image_phash", "image_phash_neardup",
            "audio_fingerprint"} <= set(media)

    timings = {n: 0.4 + (i % 37) * 0.11 for i, n in enumerate(names)}
    probe = {
        "flows_per_sec": 99_999_999, "flows_per_sec_min": 1,
        "flows_per_sec_max": 99_999_999,
        "flows_per_sec_per_core": 9_999_999,
        "flows_per_sec_note": "x" * 120,
        "mavg_flows_per_sec": 9_999_999,
        "mavg_flows_per_sec_min": 1, "mavg_flows_per_sec_max": 9_999_999,
        "mavg_note": "x" * 60, "noisy": True,
    }
    line = build_final_line(timings, 99.9, 3, "0.1", "subprocess",
                            probe, ["a", "b", "c"])
    assert len(line.encode()) <= FINAL_LINE_MAX_BYTES
    parsed = json.loads(line)
    # prose/min-max probe fields are sidecar-only now
    assert "flows_per_sec_note" not in parsed
    assert "flows_per_sec_min" not in parsed
    assert "mavg_note" not in parsed
    # headline figures still ride the line
    assert parsed["flows_per_sec"] == 99_999_999
    assert parsed["mavg_flows_per_sec"] == 9_999_999
    shown = [k for k in parsed["queries"] if not k.startswith("_")]
    # r12's rendering fit ~57 entries; the slim line must beat it by
    # the ~16 VERDICT estimated (>= 75 guards the gain without pinning
    # an exact byte layout)
    assert len(shown) >= 75


def test_env_int_helper(monkeypatch):
    """r13 (ADVICE r12): malformed env knobs raise naming the variable;
    unset or empty falls back to the default (empty == unset is the
    d792618 contract)."""
    import pytest as _pytest

    from xenoeye_spark.datapipe.util import env_int

    monkeypatch.delenv("XE_TEST_KNOB", raising=False)
    assert env_int("XE_TEST_KNOB", 7) == 7
    monkeypatch.setenv("XE_TEST_KNOB", "")
    assert env_int("XE_TEST_KNOB", 7) == 7
    monkeypatch.setenv("XE_TEST_KNOB", "  ")
    assert env_int("XE_TEST_KNOB", 7) == 7
    monkeypatch.setenv("XE_TEST_KNOB", "42")
    assert env_int("XE_TEST_KNOB", 7) == 42
    monkeypatch.setenv("XE_TEST_KNOB", "0")
    assert env_int("XE_TEST_KNOB", 7) == 0
    monkeypatch.setenv("XE_TEST_KNOB", "nope")
    with _pytest.raises(ValueError, match="XE_TEST_KNOB"):
        env_int("XE_TEST_KNOB", 7)
