"""Global xenoeye.conf model tests: the reference CONFIG.md's own sample
must parse, and the ch-codec option must reach ClickHouse export DDL."""

from __future__ import annotations

from xenoeye_spark.config.main import XenoeyeConfig
from xenoeye_spark.streaming.fwm_stream import fwm_sql_export

SAMPLE = """
{
    "capture": [
        {"socket": {"listen-on": "*", "port": "2055"}},
        {"pcap" : {"interface": "eth0", "filter": "udp and port 2055"}}
    ],

    "sflow-capture": [
        {"socket": {"listen-on": "*", "port": "6343"}}
    ],

    "templates": {
        "db": "/var/lib/xenoeye/templates.tkvdb"
    },

    "debug": {
        /* allowed values: "none", "syslog", "/path/to/file.txt" */
        "dump-flows": "none"
    },

    "devices": "/etc/xenoeye/devices.conf",
    "mo-dir": "/var/lib/xenoeye/mo",
    "geodb": "/var/lib/xenoeye/geoip",
    "db-type": "clickhouse",
    "db-export": "/var/lib/xenoeye/scripts/xe-dbexport-pg.sh",
    "ch-codec": "ZSTD(1)"
}
"""


def test_reference_sample_parses(tmp_path):
    p = tmp_path / "xenoeye.conf"
    p.write_text(SAMPLE)
    cfg = XenoeyeConfig.from_file(str(p))
    assert [e.kind for e in cfg.capture] == ["socket", "pcap"]
    assert cfg.capture[0].port == 2055
    assert cfg.capture[1].bpf == "udp and port 2055"
    assert cfg.socket_ports() == [2055, 6343]
    assert cfg.templates_db == "/var/lib/xenoeye/templates.tkvdb"
    assert cfg.mo_dir == "/var/lib/xenoeye/mo"
    assert cfg.db_type == "clickhouse"
    assert cfg.ch_codec == "ZSTD(1)"


def test_build_engine_from_global_config(tmp_path):
    mo = tmp_path / "mo" / "m1"
    mo.mkdir(parents=True)
    (mo / "mo.conf").write_text('{"filter": "", "fwm": []}')
    p = tmp_path / "xenoeye.conf"
    p.write_text('{"mo-dir": "%s", "db-type": "pg"}' % (tmp_path / "mo"))
    eng = XenoeyeConfig.from_file(str(p)).build_engine(
        exp_dir=str(tmp_path / "exp"), state_dir=str(tmp_path / "st")
    )
    assert [m.name for m in eng.mos] == ["m1"]
    assert eng.db_type == "pg"


def test_ch_codec_reaches_ddl(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10), (2, 20)], "time bigint, octets bigint"
    )
    path = fwm_sql_export(
        df, "t1", str(tmp_path), epoch_id=1,
        db_type="clickhouse", ch_codec="ZSTD(1)",
    )
    text = open(path).read()
    assert "octets Nullable(Int64) CODEC(ZSTD(1))" in text
    assert "time Nullable(Int64)," in text  # time column: no codec
    assert "ENGINE = MergeTree" in text


def test_iplists_dir_reaches_filter_context(tmp_path):
    """An mo.conf filter naming an IP list resolves when the global
    config points at an iplists-dir (iplist.c:299-322)."""
    ipd = tmp_path / "iplists"
    ipd.mkdir()
    (ipd / "my-net").write_text("10.0.0.0/8\n# comment\n")
    mo = tmp_path / "mo" / "m1"
    mo.mkdir(parents=True)
    (mo / "mo.conf").write_text(
        '{"filter": "dst net my-net", "fwm": []}'
    )
    cfg = XenoeyeConfig.from_dict(
        {"mo-dir": str(tmp_path / "mo"), "iplists-dir": str(ipd)}
    )
    eng = cfg.build_engine(exp_dir=str(tmp_path / "e"),
                           state_dir=str(tmp_path / "s"))
    assert "my-net" in eng.ctx.iplists
    # compiling the MO's filter with the engine's ctx must succeed
    eng.mos[0].filter_column(eng.ctx)


def test_geodb_dir_separate_tries(tmp_path):
    """Geo and AS CSVs form SEPARATE LPM tries (geoip.c:62-88 vs 91-181):
    an AS /8 answer must survive a more-specific geo-only /16."""
    import numpy as np

    from xenoeye_spark.enrich.geoip import load_geodb_dir, make_geo_fn

    gd = tmp_path / "geodb"
    gd.mkdir()
    (gd / "geo.csv").write_text("cidr,country\n10.0.0.0/8,XX\n10.1.0.0/16,YY\n")
    (gd / "as.csv").write_text("cidr,asn,asd\n10.0.0.0/8,65001,TEST-AS\n")
    geo_db, as_db = load_geodb_dir(str(gd))
    ips = np.array([0x0A000001, 0x0A010001])
    assert list(geo_db.lookup_np(ips, "country", "?")) == ["XX", "YY"]
    # asn normalizes to int at GeoDB build (LongType UDF contract)
    assert list(as_db.lookup_np(ips, "asn", 0)) == [65001, 65001]

    # the config wires it through to a filter context geo_fn
    mo = tmp_path / "mo" / "m1"
    mo.mkdir(parents=True)
    (mo / "mo.conf").write_text('{"filter": "", "fwm": []}')
    cfg = XenoeyeConfig.from_dict(
        {"mo-dir": str(tmp_path / "mo"), "geodb": str(gd)}
    )
    eng = cfg.build_engine(exp_dir=str(tmp_path / "e"),
                           state_dir=str(tmp_path / "s"))
    assert eng.ctx.geo_fn is not None


def test_daemon_exits_nonzero_when_a_query_dies(spark, tmp_path, capsys,
                                                monkeypatch):
    """One standing query whose sink raises on its first batch must end
    the daemon while the other query is still healthy: main() stops the
    rest, reports the dead query's name and error on stderr and returns
    1, instead of polling on while any query is alive. Once for a dying
    mavg sink, once for a dying fwm export."""
    import threading

    from tests.test_sources import build_v5
    from xenoeye_spark import __main__ as daemon
    from xenoeye_spark.streaming import fwm_stream
    from xenoeye_spark.streaming.act import AlertActionSink

    mo = tmp_path / "mo" / "edge"
    mo.mkdir(parents=True)
    (mo / "mo.conf").write_text("""
{
  "filter": "proto 6",
  "fwm": [ {"name": "f1", "fields": ["octets desc", "src host"],
            "time": 2, "limit": 5} ],
  "mavg": [ {"name": "m1", "fields": ["src host", "octets"], "time": 2,
             "overlimit": [ {"name": "hi", "default": [0.5]} ]} ]
}
""")
    conf = tmp_path / "xenoeye.conf"
    conf.write_text('{"mo-dir": "%s", "db-type": "pg"}' % (tmp_path / "mo"))
    spool = tmp_path / "spool"
    pkt = build_v5([{"src": 0x0A000001, "dst": 0x0B000001, "pkts": 2,
                     "octets": 100, "sport": 1111, "dport": 80,
                     "proto": 6}])
    spark.createDataFrame(
        [(bytearray(pkt), 0x7F000001)], "data binary, dev_ip long"
    ).selectExpr("data", "dev_ip", "current_timestamp() AS recv_ts") \
        .coalesce(1).write.parquet(str(spool))

    def broken_sink(self, df, epoch_id):
        raise RuntimeError("alert sink broke")

    def broken_export(*a, **kw):
        raise RuntimeError("fwm export broke")

    cases = [
        ("edge.mavg.m1.octets.hi", "alert sink broke",
         AlertActionSink, "process_batch", broken_sink),
        ("edge.fwm.f1", "fwm export broke",
         fwm_stream, "fwm_sql_export", broken_export),
    ]
    for i, (qname, msg, owner, attr, broken) in enumerate(cases):
        with monkeypatch.context() as mp:
            mp.setattr(owner, attr, broken)
            result: dict = {}
            before = {q.id for q in spark.streams.active}

            def serve():
                result["rc"] = daemon.main([
                    "-c", str(conf), "--spool", str(spool),
                    "--state", str(tmp_path / f"state{i}"),
                    "--exp", str(tmp_path / f"exp{i}"),
                ])

            th = threading.Thread(target=serve, daemon=True)
            th.start()
            try:
                th.join(timeout=180)
                assert not th.is_alive(), \
                    f"daemon kept running past a dead {qname}"
            finally:
                for q in spark.streams.active:
                    if q.id not in before:
                        q.stop()
                th.join(timeout=60)
        assert result.get("rc") == 1
        err = capsys.readouterr().err
        assert f"standing query {qname!r} died" in err and msg in err
        assert not [q for q in spark.streams.active if q.id not in before]
