"""Static flow-field catalog.

The reference declares its schema at compile time via X-macros
(``/root/reference/netflow.def:2-64``: FIELD(name, descr, type, id, min, max))
with per-field presence flags (``/root/reference/flow-info.h:12-16``).
Here the catalog is a plain data structure: every field is a nullable column
in one wide ``StructType`` — the Spark-native equivalent.

Filterable-field aliases (``/root/reference/filter.def:2-37``) map DSL names
like ``host``/``port`` onto (src_column, dst_column) pairs; aggregable-field
aliases (``/root/reference/filter-ag.def:2-8``) map ``octets``/``bits``/...
onto (column, scale).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Field kinds (reference: netflow.h:18-25)
# ---------------------------------------------------------------------------
# Integer decode rule (INT and IP4, both decoders in sources.netflow): a
# field of 0-7 bytes is an unsigned big-endian value (0 for 0 bytes); an
# 8-byte field keeps its 64 bits as a two's-complement int64, so a
# counter of 2^63 or more reads negative (2^64-1 -> -1) instead of
# failing the Arrow conversion; a field wider than 8 bytes decodes to
# NULL.
INT = "int"          # unsigned counters/ids, 1-8 bytes big-endian -> LongType
IP4 = "ip4"          # IPv4 -> LongType holding uint32
IP6 = "ip6"          # IPv6 -> BinaryType(16)
MAC = "mac"          # 6 bytes -> BinaryType
STRING = "string"    # variable-length text -> StringType

_KIND_TO_SPARK = {
    INT: T.LongType(),
    IP4: T.LongType(),
    IP6: T.BinaryType(),
    MAC: T.BinaryType(),
    STRING: T.StringType(),
}

# name -> kind.  Mirrors netflow.def's declared fields plus the virtual
# columns the engine adds at ingest (dev_*, class*, sampling_rate;
# reference: netflow.c:112-144, flow-info.h:19-32).
FLOW_FIELDS: dict[str, str] = {
    # wire fields
    "in_bytes": INT,
    "in_pkts": INT,
    "protocol": INT,
    "src_tos": INT,
    "dst_tos": INT,
    "tcp_flags": INT,
    "l4_src_port": INT,
    "ip4_src_addr": IP4,
    "src_mask": INT,
    "input_snmp": INT,
    "l4_dst_port": INT,
    "ip4_dst_addr": IP4,
    "dst_mask": INT,
    "output_snmp": INT,
    "ip4_next_hop": IP4,
    "src_as": INT,
    "dst_as": INT,
    "bgp_next_hop": IP4,
    "last_switched": INT,
    "first_switched": INT,
    "ip6_src_addr": IP6,
    "ip6_dst_addr": IP6,
    "icmp_type": INT,
    "sampler_id": INT,
    "min_ttl": INT,
    "max_ttl": INT,
    "frag_id": INT,
    "src_mac": MAC,
    "dst_mac": MAC,
    "src_vlan": INT,
    "dst_vlan": INT,
    "ip_protocol_version": INT,
    "direction": INT,
    "if_name": STRING,
    "fwd_status": INT,
    "flow_start_ms": INT,
    "flow_end_ms": INT,
    "flow_end_reason": INT,
    "ip_ttl": INT,
    "ioctets": INT,
    "roctets": INT,
    "ipackets": INT,
    "rpackets": INT,
    "ingrs_vrf": INT,
    "egrs_vrf": INT,
    "src_dot1q_vlan": INT,
    "src_dot1q_cvlan": INT,
    "dst_dot1q_vlan": INT,
    "dst_dot1q_cvlan": INT,
    "obs_time_ms": INT,
    "vas_session_id": INT,
    "vas_http_host": STRING,
    # sFlow-derived payload fields (xe-dns.h, xe-sni.h)
    "dns_name": STRING,
    "dns_ips": STRING,   # reference renders "{ip,ip}" string; see dns_ips_array
    "sni": STRING,
    # virtual fields added at ingest (netflow.c:112-144, devices.c:286-314)
    "dev_ip": IP4,
    "dev_ip6": IP6,
    "dev_id": INT,
    "dev_mark": INT,
    "sampling_rate": INT,
    # classification labels stamped per flow (classification.c:947-958)
    "class0": STRING,
    "class1": STRING,
    "class2": STRING,
    "class3": STRING,
    "class4": STRING,
}


def flow_schema(with_ts: bool = True) -> T.StructType:
    """The wide flow StructType. ``ts`` = server arrival time (the reference
    stamps CLOCK_REALTIME at packet receipt, netflow.c:797-802)."""
    fields = []
    if with_ts:
        fields.append(T.StructField("ts", T.TimestampType(), True))
    for name, kind in FLOW_FIELDS.items():
        fields.append(T.StructField(name, _KIND_TO_SPARK[kind], True))
    # extension beyond reference: dns_ips as a true array column
    fields.append(T.StructField("dns_ips_array", T.ArrayType(T.StringType()), True))
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# Filterable-field aliases (filter.def): DSL name -> (kind, src col, dst col)
# A bare name (no src/dst prefix) matches EITHER side (filter.c:328-356).
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class FilterField:
    name: str
    kind: str            # ADDR4|ADDR6|RANGE|MAC|STRING
    src: str
    dst: str


ADDR4, ADDR6, RANGE, MACF, STRF = "addr4", "addr6", "range", "mac", "str"

FILTER_FIELDS: dict[str, FilterField] = {
    f.name: f
    for f in [
        FilterField("host", ADDR4, "ip4_src_addr", "ip4_dst_addr"),
        FilterField("net", ADDR4, "ip4_src_addr", "ip4_dst_addr"),
        FilterField("host6", ADDR6, "ip6_src_addr", "ip6_dst_addr"),
        FilterField("net6", ADDR6, "ip6_src_addr", "ip6_dst_addr"),
        FilterField("port", RANGE, "l4_src_port", "l4_dst_port"),
        FilterField("proto", RANGE, "protocol", "protocol"),
        FilterField("tos", RANGE, "src_tos", "dst_tos"),
        FilterField("tcp-flags", RANGE, "tcp_flags", "tcp_flags"),
        FilterField("ifidx", RANGE, "input_snmp", "output_snmp"),
        FilterField("as", RANGE, "src_as", "dst_as"),
        FilterField("min-ttl", RANGE, "min_ttl", "min_ttl"),
        FilterField("max-ttl", RANGE, "max_ttl", "max_ttl"),
        FilterField("frag-id", RANGE, "frag_id", "frag_id"),
        FilterField("mac", MACF, "src_mac", "dst_mac"),
        FilterField("vlan", RANGE, "src_vlan", "dst_vlan"),
        FilterField("endreason", RANGE, "flow_end_reason", "flow_end_reason"),
        FilterField("d1qvlan", RANGE, "src_dot1q_vlan", "dst_dot1q_vlan"),
        FilterField("d1qcvlan", RANGE, "src_dot1q_cvlan", "dst_dot1q_cvlan"),
        FilterField("bgp-nh", ADDR4, "bgp_next_hop", "bgp_next_hop"),
        FilterField("dir", RANGE, "direction", "direction"),
        FilterField("fwdst", RANGE, "fwd_status", "fwd_status"),
        FilterField("smplr", RANGE, "sampler_id", "sampler_id"),
        FilterField("vrf", RANGE, "ingrs_vrf", "egrs_vrf"),
        FilterField("vashost", STRF, "vas_http_host", "vas_http_host"),
        FilterField("dev-ip", ADDR4, "dev_ip", "dev_ip"),
        FilterField("dev-ip6", ADDR6, "dev_ip6", "dev_ip6"),
        FilterField("dev-id", RANGE, "dev_id", "dev_id"),
        FilterField("dev-mark", RANGE, "dev_mark", "dev_mark"),
        FilterField("class0", STRF, "class0", "class0"),
        FilterField("class1", STRF, "class1", "class1"),
        FilterField("class2", STRF, "class2", "class2"),
        FilterField("class3", STRF, "class3", "class3"),
        FilterField("class4", STRF, "class4", "class4"),
        FilterField("dns-name", STRF, "dns_name", "dns_name"),
        FilterField("dns-ips", STRF, "dns_ips", "dns_ips"),
        FilterField("sni", STRF, "sni", "sni"),
    ]
}

# Aggregable-field aliases (filter-ag.def): name -> (column, scale).
# SUM is the only aggregate in the reference (monit-objects.c:991-997);
# counters are additionally multiplied by sampling_rate (monit-objects.c:995).
AGGR_FIELDS: dict[str, tuple[str, int]] = {
    "octets": ("in_bytes", 1),
    "bits": ("in_bytes", 8),
    "packets": ("in_pkts", 1),
    "ioctets": ("ioctets", 1),
    "roctets": ("roctets", 1),
    "ipackets": ("ipackets", 1),
    "rpackets": ("rpackets", 1),
}


def sql_safe_name(field_str: str) -> str:
    """Derive a SQL-safe column name the way the reference does: every
    non-alphanumeric char becomes '_' (filter-parser.c:305-346), so
    ``country(src host)`` -> ``country_src_host_``."""
    return "".join(c if c.isalnum() else "_" for c in field_str)
