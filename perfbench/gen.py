"""Seeded input generators for the benchmark.

Everything a run feeds the program comes from here, derived from one
``--seed``: raw export packets (NetFlow v5 / v9 / IPFIX / sFlow v5, built
byte by byte from the public wire formats), the devices.conf the engine
reads and a documents table for the datapipe queries. Each generator also
returns the ground truth the correctness checks compare against.

Markers: every paced-phase sample is one flow with a destination address
no other flow uses and a value larger than any background key can reach,
so it always lands in the top-N export and always trips its mavg limit.
Its send time is recorded by the sender, which lets export and alert
latency be matched to their input from outside the program.
"""

from __future__ import annotations

import ipaddress
import os
import struct
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# synthetic clock for the drain inputs (the engine windows on arrival
# time, so any fixed epoch works; seeds shift it by whole windows)
BASE_TS = 1_700_000_000

MARKER_NET = int(ipaddress.IPv4Address("198.18.0.0"))  # RFC 2544 bench range
MARKER_OCTETS = 1_000_000_000
MARKER_DPORT = 9999
HOT_DST_NET = int(ipaddress.IPv4Address("100.64.0.0"))
SRC_NET = int(ipaddress.IPv4Address("172.16.0.0"))


def scaled(n: int, floor: int = 1) -> int:
    """Input size ``n`` times the run's ``--scale`` (run.py exports it as
    PERFBENCH_SCALE; the benchmark's own test runs at a tiny scale)."""
    return max(floor, int(n * float(os.environ.get("PERFBENCH_SCALE", "1"))))


def ip_str(v: int) -> str:
    return str(ipaddress.IPv4Address(int(v)))


# ---------------------------------------------------------------- exporters

@dataclass(frozen=True)
class Exporter:
    ip: str             # UDP source address on loopback == dev_ip
    kind: str           # v5 | v9 | ipfix | sflow
    share: float        # fraction of background flows
    devices_rate: int | None  # devices.conf sampling-rate (None: not listed)
    source_id: int = 0

    @property
    def dev_ip(self) -> int:
        return int(ipaddress.IPv4Address(self.ip))


SFLOW_RATE = 64
EXPORTERS = [
    Exporter("127.0.0.11", "v5", 0.40, 1),
    Exporter("127.0.0.12", "v5", 0.25, 10),
    Exporter("127.0.0.13", "v5", 0.15, 4),
    Exporter("127.0.0.14", "v9", 0.08, 2, source_id=41),
    Exporter("127.0.0.15", "ipfix", 0.06, 1, source_id=51),
    Exporter("127.0.0.16", "sflow", 0.06, None),
]
MARKER_EXPORTER = EXPORTERS[0]  # v5, sampling 1: marker value == octets

V9_TID = 300
V9_FIELDS = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (2, 4), (1, 4)]
IPFIX_TID = 400
# same keys + one variable-length if_name and one enterprise element
# (PEN 29305, id 200) that the decoder must skip
IPFIX_FIELDS = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (2, 4), (1, 4),
                (82, 0xFFFF), (0x8000 | 200, 4)]
IPFIX_PEN = 29305

V5_MAX, V9_MAX, IPFIX_MAX, SFLOW_MAX = 30, 24, 20, 8


def v5_packet(recs: pd.DataFrame, seq: int) -> bytes:
    out = [struct.pack(">HHIIIIBBH", 5, len(recs), 1000, BASE_TS, 0, seq,
                       0, 0, 0)]
    for r in recs.itertuples(index=False):
        out.append(struct.pack(
            ">IIIHHIIIIHHBBBBHHBBH",
            r.src, r.dst, 0, 1, 2, r.pkts, r.octets, 0, 0, r.sport, r.dport,
            0, 0x18 if r.proto == 6 else 0, r.proto, 0, 0, 0, 24, 24, 0,
        ))
    return b"".join(out)


def v9_template_packet(ex: Exporter, seq: int) -> bytes:
    body = struct.pack(">HH", V9_TID, len(V9_FIELDS)) + b"".join(
        struct.pack(">HH", t, n) for t, n in V9_FIELDS)
    fs = struct.pack(">HH", 0, 4 + len(body)) + body
    return struct.pack(">HHIIII", 9, 1, 1000, BASE_TS, seq,
                       ex.source_id) + fs


def v9_data_packet(ex: Exporter, recs: pd.DataFrame, seq: int) -> bytes:
    data = b"".join(
        struct.pack(">IIHHBII", r.src, r.dst, r.sport, r.dport, r.proto,
                    r.pkts, r.octets)
        for r in recs.itertuples(index=False))
    pad = (-len(data)) % 4
    fs = struct.pack(">HH", V9_TID, 4 + len(data) + pad) + data + bytes(pad)
    return struct.pack(">HHIIII", 9, len(recs), 1000, BASE_TS, seq,
                       ex.source_id) + fs


def ipfix_template_packet(ex: Exporter, seq: int) -> bytes:
    body = struct.pack(">HH", IPFIX_TID, len(IPFIX_FIELDS))
    for t, n in IPFIX_FIELDS:
        body += struct.pack(">HH", t, n)
        if t & 0x8000:
            body += struct.pack(">I", IPFIX_PEN)
    st = struct.pack(">HH", 2, 4 + len(body)) + body
    return struct.pack(">HHIII", 10, 16 + len(st), BASE_TS, seq,
                       ex.source_id) + st


def ipfix_data_packet(ex: Exporter, recs: pd.DataFrame, seq: int) -> bytes:
    parts = []
    for r in recs.itertuples(index=False):
        name = r.if_name.encode()
        parts.append(
            struct.pack(">IIHHBII", r.src, r.dst, r.sport, r.dport, r.proto,
                        r.pkts, r.octets)
            + bytes([len(name)]) + name + struct.pack(">I", r.sport * 7))
    data = b"".join(parts)
    st = struct.pack(">HH", IPFIX_TID, 4 + len(data)) + data
    return struct.pack(">HHIII", 10, 16 + len(st), BASE_TS, seq,
                       ex.source_id) + st


def _eth_ipv4_l4(r) -> bytes:
    eth = bytes(6) + bytes(6) + struct.pack(">H", 0x0800)
    if r.proto == 6:
        l4 = struct.pack(">HHIIBBHHH", r.sport, r.dport, 0, 0, 0x50, 0x18,
                         8192, 0, 0)
    else:
        l4 = struct.pack(">HHHH", r.sport, r.dport, 8, 0)
    ip = struct.pack(">BBHHHBBHII", 0x45, 0, 20 + len(l4), 1, 0, 64,
                     r.proto, 0, r.src, r.dst)
    return eth + ip + l4


def sflow_packet(ex: Exporter, recs: pd.DataFrame, seq: int) -> bytes:
    samples = []
    for r in recs.itertuples(index=False):
        frame = _eth_ipv4_l4(r)
        # raw header record: header protocol, frame_length (the flow's
        # octets), stripped, header size
        rec = struct.pack(">IIII", 1, r.octets, 4, len(frame)) + frame
        rec_full = struct.pack(">II", 1, len(rec)) + rec
        body = struct.pack(">8I", seq, 0, SFLOW_RATE, 1000, 0, 5, 6,
                           1) + rec_full
        samples.append(struct.pack(">II", 1, len(body)) + body)
    return (struct.pack(">III", 5, 1, ex.dev_ip)
            + struct.pack(">III", 0, seq, 1000)
            + struct.pack(">I", len(samples)) + b"".join(samples))


def expected_rows(ex: Exporter, recs: pd.DataFrame) -> list[dict]:
    """What ``parse_packet`` must return for ``recs`` sent by ``ex``
    (the decoder-level fields the benchmark relies on)."""
    out = []
    for r in recs.itertuples(index=False):
        row = {"ip4_src_addr": r.src, "ip4_dst_addr": r.dst,
               "l4_src_port": r.sport, "l4_dst_port": r.dport,
               "protocol": r.proto}
        if ex.kind == "sflow":
            row.update(in_bytes=r.octets, in_pkts=1,
                       sampling_rate=SFLOW_RATE, dev_ip=ex.dev_ip)
        else:
            row.update(in_bytes=r.octets, in_pkts=r.pkts)
        if ex.kind == "ipfix":
            row["if_name"] = r.if_name
        out.append(row)
    return out


def flow_value(ex: Exporter, octets):
    """octets x the sampling multiplier the engine applies."""
    if ex.kind == "sflow":
        return octets * SFLOW_RATE
    return octets * (ex.devices_rate or 1)


# ------------------------------------------------------------ flow records

def background_flows(rng: np.random.Generator, n: int, n_dst: int,
                     n_src: int = 2000) -> pd.DataFrame:
    dports = np.array([80, 443, 53, 22, 25, 8080, 123, 3389])
    proto = np.where(rng.random(n) < 0.8, 6, 17)
    return pd.DataFrame({
        "src": SRC_NET + rng.integers(0, n_src, n),
        "dst": HOT_DST_NET + rng.integers(0, n_dst, n),
        "sport": rng.integers(1024, 65536, n),
        "dport": dports[rng.integers(0, len(dports), n)],
        "proto": proto,
        "pkts": rng.integers(1, 20, n),
        "octets": rng.integers(60, 1500, n),
        "if_name": np.array([f"xe-0/0/{i}" for i in range(8)])[
            rng.integers(0, 8, n)],
    })


def marker_flows(ids) -> pd.DataFrame:
    ids = np.asarray(ids, dtype=np.int64)
    return pd.DataFrame({
        "src": SRC_NET + ids % 2000,
        "dst": MARKER_NET + ids,
        "sport": 40000 + ids % 20000,
        "dport": np.full(len(ids), MARKER_DPORT),
        "proto": np.full(len(ids), 17),
        "pkts": np.full(len(ids), 1000),
        "octets": MARKER_OCTETS + ids * 1000,
        "if_name": ["xe-0/0/0"] * len(ids),
    })


def _cols(df: pd.DataFrame) -> pd.DataFrame:
    for c in ("src", "dst", "sport", "dport", "proto", "pkts", "octets"):
        df[c] = df[c].astype(np.int64)
    return df


@dataclass
class Packets:
    """Packets in send order, with the truth rows they carry."""
    data: list[bytes] = field(default_factory=list)
    dev_ip: list[int] = field(default_factory=list)
    truth: list[pd.DataFrame] = field(default_factory=list)  # per packet

    def add(self, pkt: bytes, ex: Exporter, recs: pd.DataFrame | None):
        self.data.append(pkt)
        self.dev_ip.append(ex.dev_ip)
        if recs is None or not len(recs):
            self.truth.append(None)
            return
        t = recs.copy()
        t["value"] = flow_value(ex, t["octets"].to_numpy())
        t["dev_ip"] = ex.dev_ip
        self.truth.append(t)


def template_packets(seq: int) -> list[tuple[bytes, Exporter]]:
    out = []
    for ex in EXPORTERS:
        if ex.kind == "v9":
            out.append((v9_template_packet(ex, seq), ex))
        elif ex.kind == "ipfix":
            out.append((ipfix_template_packet(ex, seq), ex))
    return out


def encode(ex: Exporter, recs: pd.DataFrame, seq: int) -> list[bytes]:
    """Split ``recs`` into packets of ``ex``'s kind."""
    size = {"v5": V5_MAX, "v9": V9_MAX, "ipfix": IPFIX_MAX,
            "sflow": SFLOW_MAX}[ex.kind]
    fn = {"v5": lambda c: v5_packet(c, seq),
          "v9": lambda c: v9_data_packet(ex, c, seq),
          "ipfix": lambda c: ipfix_data_packet(ex, c, seq),
          "sflow": lambda c: sflow_packet(ex, c, seq)}[ex.kind]
    return [(fn(recs.iloc[i:i + size]), recs.iloc[i:i + size])
            for i in range(0, len(recs), size)]


def wire_mix_packets(rng: np.random.Generator, n_flows: int, n_dst: int,
                     marker_ids=(), reannounce_every: int = 400) -> Packets:
    """Background flows spread over the exporters by share, markers in
    v5 packets of their own; template packets first and again every
    ``reannounce_every`` packets (template-journal writes mid-run)."""
    bg = _cols(background_flows(rng, n_flows, n_dst))
    owner = rng.choice(len(EXPORTERS), size=n_flows,
                       p=[e.share for e in EXPORTERS])
    chunks: list[tuple[bytes, Exporter, pd.DataFrame]] = []
    for i, ex in enumerate(EXPORTERS):
        for pkt, recs in encode(ex, bg[owner == i], 1):
            chunks.append((pkt, ex, recs))
    if len(marker_ids):
        mk = _cols(marker_flows(marker_ids))
        for pkt, recs in encode(MARKER_EXPORTER, mk, 1):
            chunks.append((pkt, MARKER_EXPORTER, recs))
    order = rng.permutation(len(chunks))
    out = Packets()
    for pkt, ex in template_packets(0):
        out.add(pkt, ex, None)
    for k, j in enumerate(order):
        if k and k % reannounce_every == 0:
            for pkt, ex in template_packets(k):
                out.add(pkt, ex, None)
        pkt, ex, recs = chunks[j]
        out.add(pkt, ex, recs)
    return out


def self_check(pk: Packets, sample: int = 200) -> int:
    """Decode a sample of the generated packets with the library's own
    ``parse_packet`` and compare against the generator's expectation.
    Returns the number of packets checked; raises on any mismatch."""
    from xenoeye_spark.sources.netflow import TemplateStore, parse_packet

    by_ip = {e.dev_ip: e for e in EXPORTERS}
    store = TemplateStore()
    for data, ip, t in zip(pk.data, pk.dev_ip, pk.truth):
        if t is None:
            parse_packet(data, store, ip)
    checked = 0
    step = max(1, len(pk.data) // sample)
    for i in range(0, len(pk.data), step):
        t = pk.truth[i]
        if t is None:
            continue
        ex = by_ip[pk.dev_ip[i]]
        got = parse_packet(pk.data[i], store, pk.dev_ip[i])
        want = expected_rows(ex, t)
        if len(got) != len(want):
            raise AssertionError(
                f"packet {i} ({ex.kind}): {len(got)} rows, want {len(want)}")
        for g, w in zip(got, want):
            for k, v in w.items():
                if g.get(k) != v:
                    raise AssertionError(
                        f"packet {i} ({ex.kind}) field {k}: "
                        f"{g.get(k)!r} != {v!r}")
        checked += 1
    return checked


def devices_conf() -> str:
    import json

    return json.dumps([
        {"ip": e.ip, "sampling-rate": e.devices_rate}
        for e in EXPORTERS if e.devices_rate is not None
    ], indent=1)


# ------------------------------------------------------------ documents

WORDS = ("batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query a big key window row table "
         "stream merge data vector customer join the").split()
LANGS = ["en", "zh", "es", "fr", "de"]


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents with planted near-duplicates (every 7th doc
    copies an earlier one with a few words replaced) and exact
    duplicates (every 23rd)."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 23 == 0:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 10 and i % 7 == 0:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(toks) // 12)):
                toks[int(rng.integers(0, len(toks)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(toks))
            continue
        m = int(rng.integers(8, 90))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), m)))
    lang = np.array(LANGS)[np.minimum(rng.zipf(1.8, n) - 1, len(LANGS) - 1)]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
