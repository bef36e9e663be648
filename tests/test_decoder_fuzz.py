"""Decoder robustness: flow decoders consume untrusted UDP payloads, so
no byte string may crash them — truncated, mutated, or random input must
decode to zero-or-more rows, never raise. Hypothesis drives the byte
generation; mutations of VALID packets probe the interesting branches.

The columnar decoder (``decode_batch``, what ``decode_packets_df`` runs)
is checked differentially: on generated, mutated and random packet
batches it must give exactly the rows of the scalar ``parse_packet``."""

from __future__ import annotations

import datetime as dt
import struct

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from xenoeye_spark.catalog import flow_schema
from xenoeye_spark.sources.netflow import (
    TemplateStore,
    decode_batch,
    parse_packet,
)
from xenoeye_spark.sources.pcap import iter_pcap, udp_from_frame
from xenoeye_spark.sources.payload import parse_dns_response, parse_tls_sni
from xenoeye_spark.sources.sflow import parse_ethernet, parse_sflow
from tests.test_pcap import build_eth_ipv4_udp, build_pcap
from tests.test_sources import build_ipfix, build_sflow, build_v5, build_v9

VALID = [
    build_v5([{"src": 1, "dst": 2, "pkts": 1, "octets": 10,
               "sport": 1, "dport": 2, "proto": 6}]),
    build_v9([(8, 4), (12, 4), (1, 4)], [(1, 2, 10)]),
    build_ipfix([(8, 4), (12, 4), (1, 4)], [(1, 2, 10)]),
    build_sflow([build_eth_ipv4_udp(1, 2, 3, 4, b"x" * 8)]),
]


def _decode_all(data: bytes) -> None:
    store = TemplateStore()
    rows = parse_packet(data, store)
    assert isinstance(rows, list)
    rows = parse_sflow(data)
    assert isinstance(rows, list)
    parse_ethernet(data)
    udp_from_frame(data)
    parse_dns_response(data)
    parse_tls_sni(data)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=600))
def test_random_bytes_never_crash(data):
    _decode_all(data)


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(VALID),
    st.integers(min_value=0, max_value=599),
    st.integers(min_value=0, max_value=255),
)
def test_mutated_valid_packets_never_crash(pkt, pos, val):
    b = bytearray(pkt)
    b[pos % len(b)] = val
    _decode_all(bytes(b))


@settings(max_examples=100, deadline=None)
@given(
    st.sampled_from(VALID),
    st.integers(min_value=0, max_value=200),
)
def test_truncated_valid_packets_never_crash(pkt, cut):
    _decode_all(pkt[: max(0, len(pkt) - cut)])


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_pcap_reader_never_crashes(data):
    # a valid header followed by arbitrary record bytes must not raise;
    # fully arbitrary bytes may raise ValueError (bad magic) but nothing else
    try:
        list(iter_pcap(data))
    except ValueError:
        pass
    hdr = struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1)
    list(iter_pcap(hdr + data))


def test_valid_packets_still_decode():
    store = TemplateStore()
    assert parse_packet(VALID[0], store)
    assert parse_packet(VALID[1], TemplateStore())
    assert parse_packet(VALID[2], TemplateStore())
    assert parse_sflow(VALID[3])


@given(st.binary(max_size=200))
@settings(max_examples=300, deadline=None)
def test_packet_has_templates_never_crashes(data):
    from xenoeye_spark.sources.netflow import packet_has_templates
    packet_has_templates(data)  # any bytes: bool out, no exception


@given(st.binary(max_size=120), st.integers(0, 2**32 - 1))
@settings(max_examples=100, deadline=None)
def test_template_journal_survives_garbage_and_torn_tail(tmp_path_factory,
                                                         data, dev_ip):
    """Journal replay must tolerate arbitrary journaled packets and a
    torn (half-written) trailing record — the crash-at-write case."""
    from xenoeye_spark.sources.netflow import TemplateJournal
    root = tmp_path_factory.mktemp("tj")
    j = TemplateJournal(str(root / "t"))
    j.append_packet(data, dev_ip)
    j.append_packet(build_v9([(8, 4)], [(1,)], tid=260), 9)
    j.close()
    # tear the tail: append a record header promising more than exists
    with open(str(root / "t.pkts"), "ab") as fh:
        fh.write(struct.pack(">IQ", 99999, 1) + b"\x01\x02")
    seed = TemplateJournal(str(root / "t")).load()
    # the valid template always survives; garbage/torn bytes never crash
    assert any(k[3] == 260 for k, _ in seed)


def test_sflow_dispatch_fuzz_consistency():
    """parse_packet's sFlow dispatch agrees with parse_sflow directly."""
    frame = build_eth_ipv4_udp(1, 2, 3, 4, b"x")
    pkt = build_sflow([frame])
    via_dispatch = parse_packet(pkt, TemplateStore())
    direct = parse_sflow(pkt)
    assert via_dispatch == direct and len(direct) == 1


# ------------------------------------------------ columnar == scalar rows
#
# ``decode_batch`` (the mapInArrow decoder) must give exactly the rows of
# the scalar reference below: ``parse_packet`` per packet, stamped the
# way the pre-columnar ``decode_packets_df`` stamped its row dicts.

NAMES = [f.name for f in flow_schema(with_ts=True).fields]
PACKETS = pa.schema([("data", pa.binary()), ("dev_ip", pa.int64()),
                     ("recv_ts", pa.timestamp("us", tz="UTC"))])
T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def scalar_rows(packets):
    store, out = TemplateStore(), []
    for k, (data, dev_ip) in enumerate(packets):
        for row in parse_packet(data, store, dev_ip):
            row.setdefault("dev_ip", dev_ip)
            row["ts"] = T0 + dt.timedelta(seconds=k)
            row.setdefault("sampling_rate", 1)
            out.append({n: row.get(n) for n in NAMES})
    return out


def columnar_rows(packets):
    batch = pa.RecordBatch.from_pydict({
        "data": [d for d, _ in packets],
        "dev_ip": [ip for _, ip in packets],
        "recv_ts": [T0 + dt.timedelta(seconds=k) for k in range(len(packets))],
    }, schema=PACKETS)
    out = decode_batch(batch, TemplateStore())
    assert out.schema.names == NAMES
    return out.to_pylist()


def assert_same_rows(packets):
    want = scalar_rows(packets)
    assert columnar_rows(packets) == want
    return want


# template elements of every catalog kind, plus ids the decoder skips
ELEMENTS = [1, 2, 4, 7, 8, 12, 27, 56, 82, 152, 5, 999]
WIDTHS = [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 16]
TIDS = [256, 257]


def _uint(n_bytes):
    return st.integers(0, 2 ** (8 * n_bytes) - 1)


def _v5(draw):
    n = draw(st.integers(0, 4))
    hdr = struct.pack(">HHIIIIBBH", 5, draw(st.integers(0, 6)), 0, 0, 0, 0,
                      0, draw(_uint(1)), draw(_uint(2)))
    return hdr + draw(st.binary(min_size=48 * n, max_size=48 * n + 47))


def _template(draw, ipfix):
    return draw(st.lists(
        st.tuples(st.sampled_from(ELEMENTS), st.sampled_from(
            WIDTHS + [0xFFFF] if ipfix else WIDTHS)),
        min_size=0, max_size=6))


def _template_set(draw, ipfix, templates):
    body = b""
    for _ in range(draw(st.integers(1, 2))):
        tid, fields = draw(st.sampled_from(TIDS)), _template(draw, ipfix)
        templates.append((tid, fields))
        body += struct.pack(">HH", tid, len(fields))
        for ftype, flen in fields:
            if ipfix and draw(st.booleans()):
                body += struct.pack(">HHI", ftype | 0x8000, flen, 29305)
            else:
                body += struct.pack(">HH", ftype, flen)
    return struct.pack(">HH", 2 if ipfix else 0, 4 + len(body)) + body


def _record(draw, fields):
    out = b""
    for _, flen in fields:
        if flen == 0xFFFF:  # IPFIX variable length, short or 255-escaped
            n = draw(st.integers(0, 12))
            out += (bytes([n]) if draw(st.booleans())
                    else b"\xff" + struct.pack(">H", n))
            flen = n
        out += draw(st.binary(min_size=flen, max_size=flen))
    return out


def _data_set(draw, templates):
    if templates and draw(st.booleans()):
        # records laid out by a template this packet announced, then a
        # few bytes of padding or a torn record
        tid, fields = draw(st.sampled_from(templates))
        body = b"".join(_record(draw, fields)
                        for _ in range(draw(st.integers(0, 4))))
        body += draw(st.binary(max_size=5))
    else:
        tid, body = draw(st.sampled_from(TIDS + [300])), draw(
            st.binary(max_size=90))
    return struct.pack(">HH", tid, 4 + len(body)) + body


@st.composite
def export_packet(draw, kind=None):
    kind = kind or draw(st.sampled_from(["v5", "v9", "ipfix", "sflow"]))
    if kind == "v5":
        return _v5(draw)
    if kind == "sflow":
        frames = draw(st.lists(st.sampled_from([
            build_eth_ipv4_udp(1, 2, 3, 4, b"x" * 8),
            VALID[3][60:120],
        ]), min_size=1, max_size=3))
        return build_sflow(frames, agent=draw(_uint(4)),
                           rate=draw(st.integers(0, 3)))
    ipfix = kind == "ipfix"
    templates: list = []
    sets = b"".join(
        _template_set(draw, ipfix, templates) if draw(st.booleans())
        else _data_set(draw, templates)
        for _ in range(draw(st.integers(1, 4))))
    source_id = draw(st.integers(1, 2))
    if ipfix:
        return struct.pack(">HHIII", 10, 16 + len(sets), 0, 0,
                           source_id) + sets
    return struct.pack(">HHIIII", 9, 1, 0, 0, 0, source_id) + sets


@st.composite
def mutated(draw, packet):
    b = bytearray(draw(packet))
    for _ in range(draw(st.integers(0, 3))):
        if b:
            b[draw(st.integers(0, len(b) - 1))] = draw(_uint(1))
    return bytes(b[:len(b) - draw(st.integers(0, 8))])


def batch_of(packet):
    return st.lists(st.tuples(packet, st.sampled_from([1, 2, 2 ** 32 - 1])),
                    max_size=8)


@settings(max_examples=300, deadline=None)
@given(batch_of(export_packet()))
def test_columnar_decode_equals_scalar_rows(packets):
    assert_same_rows(packets)


@settings(max_examples=300, deadline=None)
@given(batch_of(mutated(export_packet())))
def test_columnar_decode_equals_scalar_rows_on_mutated_packets(packets):
    assert_same_rows(packets)


@settings(max_examples=100, deadline=None)
@given(batch_of(st.binary(max_size=120)))
def test_columnar_decode_equals_scalar_rows_on_random_bytes(packets):
    assert_same_rows(packets)


def test_columnar_decode_mixed_versions_keep_packet_order():
    v9_tpl = [(8, 4), (12, 4), (1, 8)]
    ipfix_tpl = [(8, 4), (82, 0xFFFF), (1, 4)]
    packets = [
        (build_v5([{"src": 1, "dst": 2, "pkts": 1, "octets": 10, "sport": 1,
                    "dport": 2, "proto": 6}] * 2, sampling_rate=64), 1),
        (build_v9(v9_tpl, [(3, 4, 30)]), 2),
        (VALID[3], 3),
        (build_ipfix(ipfix_tpl, [(5, "eth0", 50), (6, "", 60)]), 4),
        (build_v5([{"src": 7, "dst": 8, "pkts": 1, "octets": 70, "sport": 1,
                    "dport": 2, "proto": 17}]), 1),
        (build_v9(v9_tpl, [(9, 10, 90), (11, 12, 110)]), 2),
    ]
    rows = assert_same_rows(packets)
    assert [(r["ip4_src_addr"], r["dev_ip"]) for r in rows] == [
        (1, 1), (1, 1), (3, 2), (1, 0x0A0A0A0A), (5, 4), (6, 4), (7, 1),
        (9, 2), (11, 2)]
    assert [r["sampling_rate"] for r in rows] == [64, 64, 1, 100] + [1] * 5
    assert [r["if_name"] for r in rows[4:6]] == ["eth0", ""]


def test_columnar_decode_template_redefined_inside_one_batch():
    """A data set decodes with the template in force when it is met: a
    redefinition later in the batch, even in the same packet, applies
    from there on."""
    def data_set(tid, *fields):
        body = b"".join(int(v).to_bytes(n, "big") for v, n in fields)
        return struct.pack(">HH", tid, 4 + len(body)) + body

    def v9(*sets):
        body = b"".join(sets)
        return struct.pack(">HHIIII", 9, 1, 0, 0, 0, 7) + body

    first = build_v9([(8, 4), (1, 4)], [(1, 100)])
    # same packet: data under the old layout, the new layout, new data
    swap = v9(data_set(256, (2, 4), (200, 4)),
              build_v9([(1, 2), (8, 4)], [])[20:],
              data_set(256, (300, 2), (3, 4)))
    later = v9(data_set(256, (400, 2), (4, 4)))
    rows = assert_same_rows([(first, 9), (swap, 9), (later, 9)])
    assert [(r["ip4_src_addr"], r["in_bytes"]) for r in rows] == \
        [(1, 100), (2, 200), (3, 300), (4, 400)]


# --------------------------------------------------- oversized integers
#
# catalog.INT: an 8-byte value keeps its 64 bits as a two's-complement
# int64; an INT or IP4 field wider than 8 bytes decodes to NULL.

def test_eight_byte_counter_keeps_64_bits_as_int64():
    pkt = build_v9([(8, 4), (1, 8), (2, 8)],
                   [(1, 2 ** 64 - 1, 2 ** 63), (2, 2 ** 63 - 1, 2 ** 53 + 1)])
    rows = parse_packet(pkt, TemplateStore())
    assert [(r["in_bytes"], r["in_pkts"]) for r in rows] == [
        (-1, -2 ** 63), (2 ** 63 - 1, 2 ** 53 + 1)]
    assert_same_rows([(pkt, 1)])


def test_int_field_wider_than_eight_bytes_is_null():
    pkt = build_ipfix([(8, 9), (1, 16), (2, 4)], [(5, 7, 3)])
    rows = parse_packet(pkt, TemplateStore())
    assert [(r["ip4_src_addr"], r["in_bytes"], r["in_pkts"])
            for r in rows] == [(None, None, 3)]
    assert assert_same_rows([(pkt, 1)])[0]["in_bytes"] is None


def test_decode_packets_df_mixed_batch_with_oversized_counters(spark):
    """The Spark path on one batch of every version: rows equal the
    scalar reference, and neither a 2^64-1 counter (out of int64 range
    as unsigned) nor a 2^53+1 counter next to a row without the field
    (a float column in a row-dict frame) loses or breaks anything."""
    from pyspark.sql import functions as F

    from xenoeye_spark.sources.netflow import decode_packets_df

    packets = [
        (VALID[0], 1),
        (build_v9([(8, 4), (1, 8)], [(1, 2 ** 64 - 1), (2, 2 ** 53 + 1)]), 2),
        (build_v9([(8, 4)], [(3,)], tid=257), 2),
        (VALID[2], 3),
        (VALID[3], 4),
        (build_ipfix([(8, 4), (1, 9)], [(4, 5)], tid=258), 3),
    ]
    df = spark.createDataFrame(
        [(d, ip, k) for k, (d, ip) in enumerate(packets)],
        "data binary, dev_ip long, k long",
    ).select("data", "dev_ip",
             F.timestamp_seconds(F.lit(1704067200) + F.col("k"))
             .alias("recv_ts"))
    flows = decode_packets_df(df.coalesce(1))
    got = [r.asDict() for r in
           flows.withColumn("ts", F.unix_micros("ts")).collect()]
    want = scalar_rows(packets)
    for r in want:
        r["ts"] = (r["ts"] - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
                   ) // dt.timedelta(microseconds=1)
    assert got == want
    assert [r["in_bytes"] for r in got if r["dev_ip"] == 2] == \
        [-1, 2 ** 53 + 1, None]


def test_decode_packets_df_keeps_2_53_plus_1_next_to_a_row_without_it(
        spark):
    """A counter above 2^53 keeps every bit when another row of the
    batch lacks the field (no float column on the way)."""
    from pyspark.sql import functions as F

    from xenoeye_spark.sources.netflow import decode_packets_df

    df = spark.createDataFrame(
        [(build_v9([(8, 4), (1, 8)], [(1, 2 ** 53 + 1)]), 2, 0.0),
         (build_v9([(8, 4)], [(3,)], tid=257), 2, 0.0)],
        "data binary, dev_ip long, t double",
    ).select("data", "dev_ip", F.col("t").cast("timestamp").alias("recv_ts"))
    got = decode_packets_df(df.coalesce(1)).select("in_bytes").collect()
    assert [r["in_bytes"] for r in got] == [2 ** 53 + 1, None]
