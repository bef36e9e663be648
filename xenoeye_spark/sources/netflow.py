"""NetFlow v5 / v9 / IPFIX packet decoders — the ingest layer.

Written from the public wire formats (NetFlow v9: RFC 3954, IPFIX:
RFC 7011, v5: the fixed 48-byte record layout) with the same field
coverage as the reference decoder (netflow.c, netflow.def, SURVEY.md
§2.1). Not a translation. Two decoders share the header and set walks:

- ``parse_packet``: one packet -> one dict per flow, plain ``struct``
  over ``memoryview``. It is the reference the columnar decoder is
  tested against, and it decodes what that one leaves to it.
- ``decode_batch``: a batch of packets -> one ``pyarrow.RecordBatch`` of
  the catalog schema, run inside ``mapInArrow`` by ``decode_packets_df``
  so decode parallelizes per partition of raw packets. v5 record areas
  and v9/IPFIX data sets whose template has only fixed-length fields are
  read with one ``np.frombuffer`` per record layout; sFlow and IPFIX
  templates with variable-length fields go through ``parse_packet``'s
  own decoders and become Arrow arrays one column at a time. Rows keep
  packet order, so both decoders give the same rows.

Template handling (v9/IPFIX are self-describing): templates announced by
a router apply to its subsequent data sets. The store is keyed by
(dev_ip, source_id, version, template_id) like the reference's tkvdb
store (netflow-templates.c:140-251). In distributed use, partition raw
packets by ``dev_ip`` so a device's templates and data land in the same
partition-lineage; the store also accepts pre-seeded templates
(checkpointable via ``dump()``/``load()``), replacing the reference's
persistent template DB.

Unknown field IDs are skipped (reference netflow.c:100-109); enterprise
IDs are masked off to the IANA space (netflow.c:389-433); IPFIX
variable-length fields are honored (netflow.c:367-383). Integer widths
follow ``catalog.INT``: an 8-byte counter keeps its 64 bits as a
two's-complement int64, a wider INT or IP4 field decodes to NULL.
"""

from __future__ import annotations

import functools
import os
import struct
import threading
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from xenoeye_spark.catalog import FLOW_FIELDS, INT, IP4, STRING, flow_schema

# IANA IPFIX / NetFlow v9 information element ids -> catalog field names.
# Same coverage as netflow.def:2-64.
FIELD_IDS: dict[int, str] = {
    1: "in_bytes", 2: "in_pkts", 4: "protocol", 5: "src_tos", 6: "tcp_flags",
    7: "l4_src_port", 8: "ip4_src_addr", 9: "src_mask", 10: "input_snmp",
    11: "l4_dst_port", 12: "ip4_dst_addr", 13: "dst_mask", 14: "output_snmp",
    15: "ip4_next_hop", 16: "src_as", 17: "dst_as", 18: "bgp_next_hop",
    21: "last_switched", 22: "first_switched", 27: "ip6_src_addr",
    28: "ip6_dst_addr", 32: "icmp_type", 48: "sampler_id", 52: "min_ttl",
    53: "max_ttl", 54: "frag_id", 55: "dst_tos", 56: "src_mac", 57: "dst_mac",
    58: "src_vlan", 59: "dst_vlan", 60: "ip_protocol_version", 61: "direction",
    82: "if_name", 89: "fwd_status", 136: "flow_end_reason",
    152: "flow_start_ms", 153: "flow_end_ms", 192: "ip_ttl",
    225: "ioctets", 226: "roctets", 227: "ipackets", 228: "rpackets",
    234: "ingrs_vrf", 235: "egrs_vrf",
    243: "src_dot1q_vlan", 245: "src_dot1q_cvlan",
    254: "dst_dot1q_vlan", 255: "dst_dot1q_cvlan",
    323: "obs_time_ms",
}


def _decode_value(name: str, raw: memoryview):
    kind = FLOW_FIELDS[name]
    if kind == INT or kind == IP4:
        if len(raw) > 8:
            return None
        return int.from_bytes(raw, "big", signed=len(raw) == 8)
    if kind == STRING:
        return raw.tobytes().split(b"\x00", 1)[0].decode("utf-8", "replace")
    return raw.tobytes()


# ---------------------------------------------------------------------------
# NetFlow v5 — fixed header (24B) + N fixed 48-byte records
# ---------------------------------------------------------------------------
_V5_HDR = struct.Struct(">HHIIIIBBH")
_V5_REC = struct.Struct(">IIIHHIIIIHHBBBBHHBBH")

_V5_FIELDS = (
    "ip4_src_addr", "ip4_dst_addr", "ip4_next_hop", "input_snmp",
    "output_snmp", "in_pkts", "in_bytes", "first_switched", "last_switched",
    "l4_src_port", "l4_dst_port", "_pad", "tcp_flags", "protocol", "src_tos",
    "src_as", "dst_as", "src_mask", "dst_mask", "_pad2",
)
# (position in the unpacked record, field name), padding left out
_V5_KEPT = tuple(
    (i, k) for i, k in enumerate(_V5_FIELDS) if not k.startswith("_")
)
# the same record as a numpy structured dtype (one frombuffer per batch)
_V5_DTYPE = np.dtype([
    (k, ">" + c) for k, c in zip(_V5_FIELDS, "IIIHHIIIIHHBBBBHHBBH")
])
assert _V5_DTYPE.itemsize == _V5_REC.size


def _v5_header(data: bytes):
    """(records present, engine_id, sampling interval) of a v5 packet,
    or None. The interval is the low 14 bits of the sampling word (the
    top 2 are the mode)."""
    if len(data) < _V5_HDR.size:
        return None
    (ver, count, _sysup, _secs, _nsecs, _seq, _etype, eid,
     sampling) = _V5_HDR.unpack_from(data, 0)
    if ver != 5:
        return None
    n = min(count, (len(data) - _V5_HDR.size) // _V5_REC.size)
    return n, eid, sampling & 0x3FFF


def parse_netflow_v5(data: bytes) -> list[dict]:
    hdr = _v5_header(data)
    if hdr is None:
        return []
    n, eid, rate = hdr
    rows = []
    for j in range(n):
        vals = _V5_REC.unpack_from(data, _V5_HDR.size + j * _V5_REC.size)
        row = {k: vals[i] for i, k in _V5_KEPT}
        # virtual dev_id = v5 engine_id (netflow.c:742 sets
        # fpi->source_id = pkt->header.engine_id, stamped on every flow
        # by virtual_fields_init, netflow.c:110-121)
        row["dev_id"] = eid
        if rate:
            row["sampling_rate"] = rate
        rows.append(row)
    return rows


# ---------------------------------------------------------------------------
# Templates (shared by v9 and IPFIX)
# ---------------------------------------------------------------------------
class TemplateStore:
    """(dev_ip, source_id, version, template_id) -> [(field_id, length)].

    ``dump()``/``load()`` give the persistence hook the reference implements
    with tkvdb (netflow-templates.c); in Spark the dump rides in the
    checkpoint or a small table."""

    def __init__(self):
        self._t: dict[tuple, list[tuple[int, int]]] = {}

    def put(self, dev_ip: int, source_id: int, version: int, tid: int,
            fields: list[tuple[int, int]]) -> None:
        self._t[(dev_ip, source_id, version, tid)] = fields

    def get(self, dev_ip: int, source_id: int, version: int, tid: int):
        return self._t.get((dev_ip, source_id, version, tid))

    def dump(self) -> list[tuple]:
        return [(k, v) for k, v in self._t.items()]

    def load(self, items) -> None:
        for k, v in items:
            self._t[tuple(k)] = [tuple(x) for x in v]


def _parse_v9_templates(data: memoryview, store: TemplateStore,
                        dev_ip: int, source_id: int) -> None:
    off = 0
    while off + 4 <= len(data):
        tid, fcount = struct.unpack_from(">HH", data, off)
        off += 4
        fields = []
        for _ in range(fcount):
            if off + 4 > len(data):
                return
            ftype, flen = struct.unpack_from(">HH", data, off)
            fields.append((ftype, flen))
            off += 4
        store.put(dev_ip, source_id, 9, tid, fields)


def _parse_ipfix_templates(data: memoryview, store: TemplateStore,
                           dev_ip: int, source_id: int) -> None:
    off = 0
    while off + 4 <= len(data):
        tid, fcount = struct.unpack_from(">HH", data, off)
        off += 4
        fields = []
        for _ in range(fcount):
            if off + 4 > len(data):
                return
            ftype, flen = struct.unpack_from(">HH", data, off)
            off += 4
            if ftype & 0x8000:  # enterprise bit: skip the enterprise number,
                ftype &= 0x7FFF  # mask to IANA space (netflow.c:389-433)
                off += 4
            fields.append((ftype, flen))
        store.put(dev_ip, source_id, 10, tid, fields)


def _decode_data_records(data: memoryview, template: list[tuple[int, int]],
                         varlen_ok: bool) -> list[dict]:
    rows = []
    off = 0
    n = len(data)
    # minimum bytes one record needs (varlen fields contribute their
    # 1-byte length prefix); the loop decodes while a record can still
    # fit and treats only a SHORTER remainder as set padding — a flat
    # "remainder < 4 is padding" check drops the final legitimate
    # record of any template shorter than 4 bytes
    rec_min = sum(
        1 if (flen == 0xFFFF and varlen_ok) else flen
        for _, flen in template
    )
    while off < n and n - off >= max(rec_min, 1):
        row: dict = {}
        start = off
        for ftype, flen in template:
            if flen == 0xFFFF and varlen_ok:
                # IPFIX variable length (RFC 7011 §7)
                if off >= n:
                    return rows
                flen = data[off]
                off += 1
                if flen == 255:
                    if off + 2 > n:
                        return rows
                    flen = struct.unpack_from(">H", data, off)[0]
                    off += 2
            if off + flen > n:
                return rows
            name = FIELD_IDS.get(ftype)
            if name is not None:
                row[name] = _decode_value(name, data[off:off + flen])
            off += flen
        if off == start:  # zero-length template guard
            break
        rows.append(row)
    return rows


def _export_sets(data: bytes, store: TemplateStore, dev_ip: int,
                 version: int):
    """Walk the sets of a v9 (``version`` 9) or IPFIX (10) packet in
    order. Template sets go into ``store`` as they are met; each data set
    whose template is known comes back with the template in force at that
    point, so a redefinition later in the packet does not change it.
    Returns (source_id, [(template, data set body)]), or None for a short
    header or another version."""
    hdr = 20 if version == 9 else 16
    if len(data) < hdr or struct.unpack_from(">H", data, 0)[0] != version:
        return None
    # v9: source_id; IPFIX: observation domain — the last header word
    source_id = struct.unpack_from(">I", data, hdr - 4)[0]
    mv = memoryview(data)
    if version == 9:
        tpl_set, parse_templates = 0, _parse_v9_templates
    else:
        mv = mv[:struct.unpack_from(">H", data, 2)[0]]
        tpl_set, parse_templates = 2, _parse_ipfix_templates
    sets = []
    off = hdr
    while off + 4 <= len(mv):
        sid, slen = struct.unpack_from(">HH", mv, off)
        if slen < 4:
            break
        body = mv[off + 4: off + slen]
        if sid == tpl_set:
            parse_templates(body, store, dev_ip, source_id)
        elif sid > 255:
            # (options template sets, v9 id 1 / IPFIX id 3, are skipped:
            # the reference skips option data)
            tpl = store.get(dev_ip, source_id, version, sid)
            if tpl is not None:
                sets.append((tpl, body))
        off += slen
    return source_id, sets


def _set_rows(walk, varlen_ok: bool) -> list[dict]:
    if walk is None:
        return []
    source_id, sets = walk
    rows: list[dict] = []
    for tpl, body in sets:
        rows.extend(_decode_data_records(body, tpl, varlen_ok))
    # virtual dev_id = v9 header source_id / IPFIX observation domain on
    # every flow (netflow.c:329, :638 + virtual_fields_init
    # netflow.c:110-121); without it devices.conf id-matching never
    # fires and sampling is silently 1.
    for row in rows:
        row["dev_id"] = source_id
    return rows


def parse_netflow_v9(data: bytes, store: TemplateStore, dev_ip: int = 0) -> list[dict]:
    return _set_rows(_export_sets(data, store, dev_ip, 9), varlen_ok=False)


def parse_ipfix(data: bytes, store: TemplateStore, dev_ip: int = 0) -> list[dict]:
    return _set_rows(_export_sets(data, store, dev_ip, 10), varlen_ok=True)


def packet_has_templates(data: bytes) -> bool:
    """Cheap header walk: does this export packet carry template sets?
    (v9 flowset id 0/1, IPFIX set id 2/3.) Used by the capture bridge to
    journal template announcements for restart persistence — the
    reference's persistent template DB (netflow-templates.c:140-251)."""
    if len(data) < 4:
        return False
    ver = struct.unpack_from(">H", data, 0)[0]
    if ver == 9 and len(data) >= 20:
        off = 20
        while off + 4 <= len(data):
            fsid, flen = struct.unpack_from(">HH", data, off)
            if flen < 4:
                break
            if fsid in (0, 1):
                return True
            off += flen
        return False
    if ver == 10 and len(data) >= 16:
        total = struct.unpack_from(">H", data, 2)[0]
        off = 16
        end = min(total, len(data))
        while off + 4 <= end:
            sid, slen = struct.unpack_from(">HH", data, off)
            if slen < 4:
                break
            if sid in (2, 3):
                return True
            off += slen
        return False
    return False


class TemplateJournal:
    """Restart-persistent template state (netflow-templates.c parity,
    tkvdb replaced by a compact JSON dump + a raw-packet journal).

    Lifecycle: the capture bridge appends every template-BEARING packet
    (rare — routers re-announce every few minutes) to ``<path>.pkts``;
    on daemon start ``load()`` replays the previous dump plus the
    journal through a TemplateStore, writes the merged state back as
    ``<path>.json``, truncates the packet journal, and returns the dump
    for ``decode_packets_df(seed_templates=...)``."""

    _REC = struct.Struct(">IQ")  # packet length, dev_ip

    def __init__(self, path: str):
        self.json_path = path + ".json"
        self.pkts_path = path + ".pkts"
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        self._lock = threading.Lock()
        self._fh = None

    def append_packet(self, data: bytes, dev_ip: int) -> None:
        with self._lock:
            if self._fh is None:
                self._fh = open(self.pkts_path, "ab")
            self._fh.write(self._REC.pack(len(data), dev_ip))
            self._fh.write(data)
            self._fh.flush()

    def close(self) -> None:
        with self._lock:
            if self._fh is not None:
                self._fh.close()
                self._fh = None

    @staticmethod
    def replay(json_path: str, pkts_path: str) -> "TemplateStore":
        """READ-ONLY dump+journal replay into a fresh store — shared by
        the compacting ``load()`` and by per-task seeding in
        ``decode_packets_df`` (which must never truncate)."""
        import json

        store = TemplateStore()
        if os.path.isfile(json_path):
            with open(json_path) as fh:
                store.load(json.load(fh))
        if os.path.isfile(pkts_path):
            with open(pkts_path, "rb") as fh:
                raw = fh.read()
            off = 0
            while off + TemplateJournal._REC.size <= len(raw):
                plen, dev_ip = TemplateJournal._REC.unpack_from(raw, off)
                off += TemplateJournal._REC.size
                if off + plen > len(raw):
                    break  # torn tail write: ignore
                parse_packet(bytes(raw[off:off + plen]), store, dev_ip)
                off += plen
        return store

    def load(self) -> list:
        """Replay dump + journal -> merged seed; compact on the way.

        The WHOLE read-merge-truncate runs under the journal lock: a
        bridge thread appending a template packet between the read and
        the truncation would otherwise have its packet wiped unmerged."""
        import json

        with self._lock:
            store = self.replay(self.json_path, self.pkts_path)
            dump = store.dump()
            tmp = self.json_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(dump, fh)
            os.replace(tmp, self.json_path)
            if self._fh is not None:
                self._fh.close()
                self._fh = None
            open(self.pkts_path, "wb").close()  # truncate: state is merged
        return dump


def parse_packet(data: bytes, store: TemplateStore, dev_ip: int = 0) -> list[dict]:
    """Version-dispatched decode of one export packet (netflow.c:788-822).

    NetFlow/IPFIX carry a 2-byte version (5/9/10); sFlow v5 starts with
    a 4-byte version word 0x00000005 whose first 2 bytes read as 0 — so
    a leading 0 half-word dispatches on the full 32-bit word to the
    sFlow decoder (the reference runs sFlow as a separate first-class
    capture, sflow.c:293-405; one bridged spool serves both here)."""
    if len(data) < 2:
        return []
    ver = struct.unpack_from(">H", data, 0)[0]
    if ver == 5:
        return parse_netflow_v5(data)
    if ver == 9:
        return parse_netflow_v9(data, store, dev_ip)
    if ver == 10:
        return parse_ipfix(data, store, dev_ip)
    if ver == 0 and len(data) >= 4 \
            and struct.unpack_from(">I", data, 0)[0] == 5:
        from xenoeye_spark.sources.sflow import parse_sflow

        return parse_sflow(data)
    return []


# ---------------------------------------------------------------------------
# Columnar decode: a batch of packets -> one Arrow record batch
# ---------------------------------------------------------------------------
# (record size, structured dtype, {catalog name: (dtype field, kind,
# width)}) of the v5 record; ``_fixed_layout`` builds the same for a
# fixed-length v9/IPFIX template
_V5_LAYOUT = (
    _V5_REC.size,
    _V5_DTYPE,
    {k: (k, FLOW_FIELDS[k], _V5_DTYPE[k].itemsize) for _, k in _V5_KEPT},
)


@functools.lru_cache(maxsize=256)
def _fixed_layout(template: tuple, varlen_ok: bool):
    """The layout that reads every record of a data set of ``template``
    with one ``np.frombuffer``, or None when a field has variable length.
    Keyed by the field list itself, so a redefined template gets its own
    entry. A field repeated in the template keeps its last value, as in
    ``_decode_data_records``."""
    if varlen_ok and any(flen == 0xFFFF for _, flen in template):
        return None
    plan, offsets = {}, []
    off = 0
    for i, (ftype, flen) in enumerate(template):
        offsets.append(off)
        name = FIELD_IDS.get(ftype)
        if name is not None:
            plan[name] = (f"f{i}", FLOW_FIELDS[name], flen)
        off += flen
    fields = {}
    for f, kind, w in plan.values():
        if w == 0 or (kind in (INT, IP4) and w > 8):
            continue  # a constant or NULL column: nothing to read
        if kind not in (INT, IP4):
            fields[f] = f"V{w}"
        elif w in (1, 2, 4):
            fields[f] = f">u{w}"
        elif w == 8:
            fields[f] = ">i8"  # 64 bits, two's complement (catalog.INT)
        else:
            fields[f] = ("u1", (w,))
    dtype = np.dtype({
        "names": list(fields),
        "formats": list(fields.values()),
        "offsets": [offsets[int(f[1:])] for f in fields],
        "itemsize": max(off, 1),
    })
    return off, dtype, plan


def _layout_column(recs: np.ndarray, f: str, kind: str, w: int, typ):
    """One catalog column of the records ``recs`` read with a layout."""
    n = len(recs)
    if kind in (INT, IP4):
        if w > 8:
            return pa.nulls(n, typ)
        if w == 0:
            return pa.array(np.zeros(n, np.int64))
        col = recs[f]
        if col.ndim == 1:
            return pa.array(col.astype(np.int64))
        v = col[:, 0].astype(np.int64)
        for j in range(1, w):
            v = (v << 8) | col[:, j]
        return pa.array(v)
    raw = recs[f].tobytes() if w else b""
    if kind == STRING:
        return pa.array(
            [raw[k * w:(k + 1) * w].split(b"\x00", 1)[0]
             .decode("utf-8", "replace") for k in range(n)], typ)
    offsets = np.arange(n + 1, dtype=np.int32) * w
    return pa.Array.from_buffers(
        typ, n, [None, pa.py_buffer(offsets), pa.py_buffer(raw)])


@functools.lru_cache(maxsize=4)
def _arrow_schema(ts_type: pa.DataType) -> pa.Schema:
    """``flow_schema(with_ts=True)`` as Arrow, ``ts`` typed like the
    input's arrival time column."""
    conv = {"bigint": pa.int64(), "binary": pa.binary(),
            "string": pa.string(), "array<string>": pa.list_(pa.string())}
    return pa.schema([
        pa.field(f.name, ts_type if f.name == "ts"
                 else conv[f.dataType.simpleString()])
        for f in flow_schema(with_ts=True).fields
    ])


def decode_batch(batch: pa.RecordBatch, store: TemplateStore,
                 data_col: str = "data", dev_ip_col: str = "dev_ip",
                 ts_col: str = "recv_ts") -> pa.RecordBatch:
    """Decode one Arrow batch of packets (data binary, dev_ip long,
    arrival timestamp) into a record batch of ``flow_schema(with_ts=True)``
    with the rows ``parse_packet`` gives, in the same order.

    Records are grouped by layout: all v5 record areas of the batch are
    joined and read with one ``np.frombuffer``, and so are the data sets
    of each fixed-length v9/IPFIX template. Template sets update
    ``store`` in packet order, exactly as ``parse_packet`` does. sFlow
    packets and data sets of variable-length IPFIX templates are decoded
    to rows and converted one column at a time. Each packet's data sets
    get increasing sequence numbers, and a stable sort on them restores
    packet order across the groups."""
    packets = batch.column(data_col).to_pylist()
    ips = batch.column(dev_ip_col).fill_null(0).to_numpy(zero_copy_only=False)
    ip_list = ips.tolist()
    ts = batch.column(ts_col)
    schema = _arrow_schema(ts.type)

    # layout key -> [layout, record areas, packet, records, seq,
    # dev_id, sampling_rate], the last five one entry per area
    runs: dict = {}
    rows: list[dict] = []
    row_pkt: list[int] = []
    row_seq: list[int] = []
    seq = 0

    def area(key, layout, body, i, n, dev_id, rate):
        run = runs.get(key)
        if run is None:
            run = runs[key] = [layout, [], [], [], [], [], []]
        for col, v in zip(run[1:], (body, i, n, seq, dev_id, rate)):
            col.append(v)

    def scalar(found, i):
        for row in found:
            # sFlow rows carry the datagram's agent address as dev_ip
            # (the reference's device identity, sflow-impl.h:334);
            # NetFlow rows take the UDP source address seen by the bridge
            row.setdefault("dev_ip", ip_list[i])
            row.setdefault("sampling_rate", 1)
            rows.append(row)
            row_pkt.append(i)
            row_seq.append(seq)

    for i, data in enumerate(packets):
        if data is None or len(data) < 2:
            continue
        ver = (data[0] << 8) | data[1]
        if ver == 5:
            hdr = _v5_header(data)
            if hdr is not None and hdr[0]:
                n, eid, rate = hdr
                body = memoryview(data)[_V5_HDR.size:
                                        _V5_HDR.size + n * _V5_REC.size]
                area("v5", _V5_LAYOUT, body, i, n, eid, rate or 1)
                seq += 1
        elif ver in (9, 10):
            walk = _export_sets(data, store, ip_list[i], ver)
            if walk is None:
                continue
            source_id, sets = walk
            for tpl, body in sets:
                key = tuple(tpl)
                layout = _fixed_layout(key, ver == 10)
                if layout is None:
                    found = _decode_data_records(body, tpl, varlen_ok=True)
                    for row in found:
                        row["dev_id"] = source_id
                    scalar(found, i)
                elif layout[0] and len(body) >= layout[0]:
                    n = len(body) // layout[0]
                    area(key, layout, body[:n * layout[0]], i, n,
                         source_id, 1)
                seq += 1
        else:
            scalar(parse_packet(data, store, ip_list[i]), i)
            seq += 1

    parts: list[tuple[np.ndarray, pa.RecordBatch]] = []
    for layout, bodies, pkt, counts, seqs, dev_ids, rates in runs.values():
        _, dtype, plan = layout
        recs = np.frombuffer(b"".join(bodies), dtype=dtype)
        pkt_rows = np.repeat(np.asarray(pkt, np.int64), counts)
        cols = {
            name: _layout_column(recs, f, kind, w, schema.field(name).type)
            for name, (f, kind, w) in plan.items()
        }
        cols["dev_id"] = pa.array(np.repeat(np.asarray(dev_ids, np.int64),
                                            counts))
        cols["sampling_rate"] = pa.array(
            np.repeat(np.asarray(rates, np.int64), counts))
        cols["dev_ip"] = pa.array(ips[pkt_rows].astype(np.int64))
        parts.append((np.repeat(np.asarray(seqs, np.int64), counts),
                      _record_batch(schema, len(recs), cols, ts, pkt_rows)))
    if rows:
        names = set().union(*rows).intersection(schema.names)
        cols = {name: pa.array([r.get(name) for r in rows],
                               schema.field(name).type) for name in names}
        parts.append((np.asarray(row_seq, np.int64),
                      _record_batch(schema, len(rows), cols, ts,
                                    np.asarray(row_pkt, np.int64))))
    if not parts:
        return pa.RecordBatch.from_pylist([], schema=schema)
    if len(parts) == 1:
        return parts[0][1]
    order = np.argsort(np.concatenate([s for s, _ in parts]), kind="stable")
    table = pa.Table.from_batches([b for _, b in parts]).take(order)
    return table.combine_chunks().to_batches()[0]


def _record_batch(schema: pa.Schema, n: int, cols: dict, ts: pa.Array,
                  pkt_rows: np.ndarray) -> pa.RecordBatch:
    cols["ts"] = ts.take(pa.array(pkt_rows))
    return pa.RecordBatch.from_arrays(
        [cols.get(f.name) if f.name in cols else pa.nulls(n, f.type)
         for f in schema], schema=schema)


# ---------------------------------------------------------------------------
# Spark wiring: raw packet DF -> wide flow DF
# ---------------------------------------------------------------------------

def decode_packets_df(
    packets: DataFrame,
    data_col: str = "data",
    dev_ip_col: str = "dev_ip",
    ts_col: str = "recv_ts",
    seed_templates: list | None = None,
    journal_paths: tuple[str, str] | None = None,
) -> DataFrame:
    """``mapInArrow`` decode: (data binary, dev_ip long, recv_ts timestamp)
    -> catalog-schema flow rows, one ``decode_batch`` per Arrow batch.
    The batches of a task share one TemplateStore per partition lineage;
    partition by dev_ip upstream so a device's template packets precede
    its data packets in the same partition.

    ``seed_templates``: TemplateStore.dump() output to pre-seed (static;
    the restart-parity path). With ``journal_paths`` as well, the
    journal's templates win over the seed's.

    ``journal_paths``: (json_path, pkts_path) of the live
    TemplateJournal. Each TASK starts a fresh TemplateStore, so a
    template ANNOUNCED MID-RUN would otherwise only decode data inside
    the micro-batch that carried the announcement — the next batch's
    fresh store knows nothing until the router re-announces. With the
    journal (which the bridge appends every template-bearing packet to)
    re-read at task start, every batch decodes with all templates seen
    so far. The read is KBs; on a multi-executor cluster the journal
    must live on storage the executors can read (shared FS/object
    store)."""

    # refers to module-level names only: cloudpickle ships those by
    # reference (a captured struct.Struct would not pickle)
    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        store = TemplateStore()
        if seed_templates:
            store.load(seed_templates)
        if journal_paths is not None:
            # the journal is newer than any seed: a template the router
            # redefined after the seed was taken decodes with its new
            # layout
            store.load(TemplateJournal.replay(*journal_paths).dump())
        for batch in batches:
            out = decode_batch(batch, store, data_col, dev_ip_col, ts_col)
            if out.num_rows:
                yield out

    return packets.mapInArrow(decode, schema=flow_schema(with_ts=True))


def kafka_records_to_packets(records: DataFrame) -> DataFrame:
    """Kafka record framing -> the bridge packet schema.

    Input: the Kafka source's record shape — at least ``key`` (binary),
    ``value`` (binary, one raw export packet per record), ``timestamp``.
    The key carries the exporting device's address as either a
    dotted-quad string (``b"10.0.0.1"``) or a decimal uint32 string;
    unparseable/absent keys fall back to 0 (the decoders stamp sFlow
    agent addresses themselves). Pure Column expressions, separated from
    the ``readStream.format("kafka")`` wiring so the framing is testable
    against recorded fixtures without a broker or the kafka-sql jar."""
    from pyspark.sql import functions as F

    key_s = F.col("key").cast("string")
    octet = r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
    dotted = F.when(
        key_s.rlike(rf"^({octet}\.){{3}}{octet}$"),
        F.aggregate(
            F.split(key_s, r"\."),
            F.lit(0).cast("long"),
            lambda acc, x: acc * 256 + x.cast("long"),
        ),
    )
    dev_ip = F.coalesce(dotted, key_s.cast("long"), F.lit(0))
    return records.select(
        F.col("value").alias("data"),
        dev_ip.alias("dev_ip"),
        F.col("timestamp").alias("recv_ts"),
    )


def flows_from_kafka(
    spark,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    seed_templates: list | None = None,
):
    """Kafka ingest wiring: each Kafka record's value is one raw export
    packet (the UDP bridge's publish format at production scale; key =
    device IP string). Requires the spark-sql-kafka package on the
    classpath — pure wiring, framing in kafka_records_to_packets, decode
    in decode_packets_df."""
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:
        msg = str(e)
        if "kafka" in msg.lower() and (
            "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg
        ):
            raise RuntimeError(
                "the Kafka connector is not on the classpath — submit with "
                "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:"
                "<spark-version> (framing itself is broker-independent: "
                "kafka_records_to_packets)"
            ) from e
        raise
    return decode_packets_df(
        kafka_records_to_packets(raw), seed_templates=seed_templates
    )
