"""Device dimension — sampling rate + interface mark filters.

Reference: devices.c. Each exporting device (router) declares a sampling
rate applied as a multiplier to counters (devices.c:199-235,
STEP-BY-STEP.md:181) and optional "mark" filter expressions: each matching
mark expression increments ``dev_mark``; ``skip-unmarked`` drops flows with
mark 0 (devices.c:237-313, CONFIG.md:183-197).
"""

from __future__ import annotations

import socket
import struct
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xenoeye_spark.dsl.compiler import FilterContext, compile_filter


@dataclass
class DeviceConfig:
    """One devices.conf entry (devices.c:60-139, CONFIG.md sample).

    ``use_ip``/``use_id`` mirror the reference's flags (devices.h): an
    entry matches on the keys it actually declares — "ip"-only entries
    match any source id, "id"-only entries match any exporter address,
    entries with both require both (devices.c:199-232)."""

    ip: int = 0                   # device address as uint32
    id: int = 0
    sampling_rate: int = 1
    mark: list[str] = field(default_factory=list)
    skip_unmarked: bool = False
    use_ip: bool = True
    use_id: bool = False

    @classmethod
    def from_dict(cls, d: dict) -> "DeviceConfig":
        return cls(
            ip=(
                struct.unpack(">I", socket.inet_aton(d["ip"]))[0]
                if "ip" in d else 0
            ),
            id=int(d.get("id", 0)),
            sampling_rate=int(d.get("sampling-rate", 1)),
            mark=list(d.get("mark", [])),
            skip_unmarked=bool(d.get("skip-unmarked", False)),
            use_ip="ip" in d,
            use_id="id" in d,
        )

    def match_expr(self):
        """Column predicate: does a flow row belong to this entry?

        NULL ``dev_id`` (e.g. pcap-sourced flows) compares NULL → the
        ``when`` treats it as no-match for id-keyed entries, while
        ip-only entries still match — the reference's precedence.
        (The reference's ``device_get_sampling_rate`` has a missing
        ``else`` before its id-only branch, devices.c:225, letting a
        failed both-keys entry still match on id alone; we implement the
        clean declared-keys semantics, a documented divergence.)"""
        conds = []
        if self.use_ip:
            conds.append(F.col("dev_ip") == F.lit(self.ip))
        if self.use_id:
            conds.append(F.col("dev_id") == F.lit(self.id))
        if not conds:
            return F.lit(False)
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out


def load_devices_conf(path: str) -> list[DeviceConfig]:
    """Parse a devices.conf JSONC array."""
    from xenoeye_spark.config.mo import parse_jsonc

    with open(path) as fh:
        entries = parse_jsonc(fh.read())
    return [DeviceConfig.from_dict(d) for d in entries]


def apply_devices(
    flows: DataFrame,
    devices: list[DeviceConfig],
    ctx: FilterContext | None = None,
) -> DataFrame:
    """Full devices.conf semantics over a flow DF: first-match-wins
    entry resolution (ip-only / id-only / both keys, devices.c:199-232),
    then that entry's sampling rate and mark filters — each device's
    mark expressions apply only to ITS flows, and skip-unmarked drops
    that device's unmarked flows without touching other devices'
    (devices.c:237-313)."""
    if ctx is None:
        ctx = FilterContext()
    if "sampling_rate" not in flows.columns:
        flows = flows.withColumn("sampling_rate", F.lit(None).cast("long"))
    # _dev_idx = index of the first matching devices.conf entry, -1 if
    # none — the single source of truth for first-match resolution; the
    # sampling rate derives from it so every match predicate is built
    # (and evaluated) exactly once
    idx = None
    for i, d in enumerate(devices):
        cond = d.match_expr()
        idx = idx.when(cond, i) if idx is not None else F.when(cond, i)
    idx = idx.otherwise(F.lit(-1)) if idx is not None else F.lit(-1)
    out = flows.withColumn("_dev_idx", idx)
    rate = F.coalesce(F.col("sampling_rate"), F.lit(1))
    for i, d in enumerate(devices):
        rate = F.when(
            F.col("_dev_idx") == F.lit(i), F.lit(int(d.sampling_rate))
        ).otherwise(rate)
    out = out.withColumn("sampling_rate", rate.cast("long"))
    mark = F.lit(0)
    drop = F.lit(False)
    for i, d in enumerate(devices):
        if not d.mark:
            continue
        mine = F.col("_dev_idx") == F.lit(i)
        dev_mark = F.lit(0)
        for expr_str in d.mark:
            cond = compile_filter(expr_str, ctx)
            dev_mark = dev_mark + F.when(cond, F.lit(1)).otherwise(F.lit(0))
        mark = F.when(mine, dev_mark).otherwise(mark)
        if d.skip_unmarked:
            drop = drop | (mine & (dev_mark == 0))
    return (
        out.withColumn("dev_mark", mark.cast("long"))
        .filter(~drop)
        .drop("_dev_idx")
    )

