"""NetFlow v5 / v9 / IPFIX packet decoders — the ingest layer.

Written from the public wire formats (NetFlow v9: RFC 3954, IPFIX:
RFC 7011, v5: the fixed 48-byte record layout) with the same field
coverage as the reference decoder (netflow.c, netflow.def, SURVEY.md
§2.1). Not a translation: parsing is plain Python ``struct`` over
``memoryview``, run inside ``mapInPandas`` so decode parallelizes per
partition of raw packets and emits rows of the catalog schema.

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
variable-length fields are honored (netflow.c:367-383).
"""

from __future__ import annotations

import os
import struct
import threading
from typing import Iterator

from pyspark.sql import DataFrame

from xenoeye_spark.catalog import FLOW_FIELDS, INT, IP4, IP6, MAC, STRING, flow_schema

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


def _int_be(b: memoryview) -> int:
    v = 0
    for x in b.tobytes():
        v = (v << 8) | x
    return v


def _decode_value(name: str, raw: memoryview):
    kind = FLOW_FIELDS[name]
    if kind == INT or kind == IP4:
        return _int_be(raw)
    if kind in (IP6, MAC):
        return raw.tobytes()
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


def parse_netflow_v5(data: bytes) -> list[dict]:
    if len(data) < _V5_HDR.size:
        return []
    (ver, count, _sysup, _secs, _nsecs, _seq, _etype, eid,
     sampling) = _V5_HDR.unpack_from(data, 0)
    if ver != 5:
        return []
    # sampling: 2 bits mode, 14 bits interval
    rate = sampling & 0x3FFF
    rows = []
    off = _V5_HDR.size
    for _ in range(count):
        if off + _V5_REC.size > len(data):
            break
        vals = _V5_REC.unpack_from(data, off)
        row = {k: vals[i] for i, k in _V5_KEPT}
        # virtual dev_id = v5 engine_id (netflow.c:742 sets
        # fpi->source_id = pkt->header.engine_id, stamped on every flow
        # by virtual_fields_init, netflow.c:110-121)
        row["dev_id"] = eid
        if rate:
            row["sampling_rate"] = rate
        rows.append(row)
        off += _V5_REC.size
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


def parse_netflow_v9(data: bytes, store: TemplateStore, dev_ip: int = 0) -> list[dict]:
    if len(data) < 20:
        return []
    ver, count, _sysup, _secs, _seq, source_id = struct.unpack_from(">HHIIII", data, 0)
    if ver != 9:
        return []
    mv = memoryview(data)
    rows: list[dict] = []
    off = 20
    while off + 4 <= len(data):
        fsid, flen = struct.unpack_from(">HH", data, off)
        if flen < 4:
            break
        body = mv[off + 4: off + flen]
        if fsid == 0:
            _parse_v9_templates(body, store, dev_ip, source_id)
        elif fsid == 1:
            pass  # options templates: skipped (reference skips option data)
        elif fsid > 255:
            tpl = store.get(dev_ip, source_id, 9, fsid)
            if tpl is not None:
                rows.extend(_decode_data_records(body, tpl, varlen_ok=False))
        off += flen
    # virtual dev_id = v9 header source_id on every flow
    # (netflow.c:329 + virtual_fields_init netflow.c:110-121); without it
    # devices.conf id-matching never fires and sampling is silently 1.
    for row in rows:
        row["dev_id"] = source_id
    return rows


def parse_ipfix(data: bytes, store: TemplateStore, dev_ip: int = 0) -> list[dict]:
    if len(data) < 16:
        return []
    ver, total_len, _exp_time, _seq, source_id = struct.unpack_from(">HHIII", data, 0)
    if ver != 10:
        return []
    mv = memoryview(data)[:total_len]
    rows: list[dict] = []
    off = 16
    while off + 4 <= len(mv):
        sid, slen = struct.unpack_from(">HH", mv, off)
        if slen < 4:
            break
        body = mv[off + 4: off + slen]
        if sid == 2:
            _parse_ipfix_templates(body, store, dev_ip, source_id)
        elif sid == 3:
            pass  # options template set
        elif sid > 255:
            tpl = store.get(dev_ip, source_id, 10, sid)
            if tpl is not None:
                rows.extend(_decode_data_records(body, tpl, varlen_ok=True))
        off += slen
    # virtual dev_id = IPFIX observation_domain (netflow.c:638)
    for row in rows:
        row["dev_id"] = source_id
    return rows


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
    """``mapInPandas`` decode: (data binary, dev_ip long, recv_ts timestamp)
    -> catalog-schema flow rows. Each Arrow batch shares one TemplateStore
    per partition lineage; partition by dev_ip upstream so a device's
    template packets precede its data packets in the same partition.

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
    import pandas as pd

    schema = flow_schema(with_ts=True)
    names = [f.name for f in schema.fields]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        store = TemplateStore()
        if seed_templates:
            store.load(seed_templates)
        if journal_paths is not None:
            # the journal is newer than any seed: a template the router
            # redefined after the seed was taken decodes with its new
            # layout
            store.load(TemplateJournal.replay(*journal_paths).dump())
        for pdf in batches:
            out_rows = []
            for data, dev_ip, ts in zip(
                pdf[data_col], pdf[dev_ip_col], pdf[ts_col]
            ):
                for row in parse_packet(bytes(data), store, int(dev_ip)):
                    # sFlow rows carry the datagram's agent address as
                    # dev_ip (the reference's device identity,
                    # sflow-impl.h:334); NetFlow rows take the UDP
                    # source address seen by the bridge
                    row.setdefault("dev_ip", int(dev_ip))
                    row["ts"] = ts
                    row.setdefault("sampling_rate", 1)
                    out_rows.append(row)
            if out_rows:
                out = pd.DataFrame(out_rows)
                for col in names:
                    if col not in out.columns:
                        # explicit None (not NaN) so Arrow maps missing
                        # array/binary columns to null
                        out[col] = None
                yield out[names]

    return packets.mapInPandas(decode, schema=schema)


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
