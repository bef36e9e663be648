"""Monitoring-object configuration — the engine's standing-query API.

Mirrors the reference's JSON-with-comments ``mo.conf`` surface
(CONFIG.md:200-435, parser aajson/, loader monit-objects.c:47-105):
keys ``filter``, ``debug``, ``fwm[]``, ``mavg[]``, ``classification[]``,
hierarchical MOs as nested directories (monit-objects.h:276-278,
netflow.c:213-244).

Spark translation: an ``MoConfig`` compiles to DataFrame pipelines —
``fwm_result`` (windowed agg → sort → top-N+others), ``mavg`` handled by
operators.mavg / streaming.mavg_stream, classification by
operators.classify. A child MO's filter runs conjoined with its parent's
(common-subexpression factoring; Catalyst reuses the shared scan).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xenoeye_spark.dsl.compiler import FilterContext, compile_filter
from xenoeye_spark.dsl.fields import FieldSpec, parse_field
from xenoeye_spark.operators.fwm import FwmSpec, fwm_aggregate
from xenoeye_spark.operators.topn import top_n_with_others

_COMMENT_RE = re.compile(
    r'("(?:[^"\\]|\\.)*")|(/\*.*?\*/)|(//[^\n]*)', re.DOTALL
)


def parse_jsonc(text: str) -> dict:
    """JSON with /* */ and // comments (the aajson dialect) and tolerant of
    trailing commas."""
    def repl(m: re.Match) -> str:
        if m.group(1) is not None:
            return m.group(1)  # keep string literals intact
        return ""
    stripped = _COMMENT_RE.sub(repl, text)
    # trailing-comma removal must ALSO skip string literals — a filter
    # or script path containing ',}' / ',]' would be silently corrupted
    stripped = re.sub(
        r'("(?:[^"\\]|\\.)*")|,(\s*[}\]])',
        lambda m: m.group(1) if m.group(1) is not None else m.group(2),
        stripped,
    )
    return json.loads(stripped)


def _parse_buckets(v) -> int | None:
    """mavg "buckets": an int, or "auto"/absent for the default (~8x the
    session's cores, resolved by mavg_alert_stream at stream-build
    time). Anything else is a config error — a typo must not silently
    change the state layout's sizing."""
    if v is None:
        return None
    if isinstance(v, str):
        if v.strip().lower() == "auto":
            return None
        if not v.strip().lstrip("+-").isdigit():
            raise ValueError(
                f'mavg "buckets" must be an int or "auto", got {v!r}'
            )
    return int(v)


@dataclass
class OverlimitConfig:
    """One overlimit level (CONFIG.md:392-420)."""
    name: str
    default: list[float]
    limits_file: str | None = None
    action_script: str | None = None
    back2norm_time: int = 30          # monit-objects.h:14
    back2norm_script: str | None = None
    ext: list[str] = field(default_factory=list)

    @classmethod
    def from_dict(cls, d: dict) -> "OverlimitConfig":
        return cls(
            name=d["name"],
            default=[float(x) for x in d.get("default", [])],
            limits_file=d.get("limits"),
            action_script=d.get("action-script"),
            back2norm_time=int(d.get("back2norm-time", 30)),
            back2norm_script=d.get("back2norm-script"),
            ext=list(d.get("ext", [])),
        )


@dataclass
class MavgConfig:
    """One mavg section (CONFIG.md:376-435)."""
    name: str
    fields: list[FieldSpec]
    time: int = 5                      # monit-objects.h default window
    dump: int = 0
    mem_m: int = 256
    # "buckets" groups state by hash(key)%N (the per-thread-trie
    # analogue of mem-m's trie cap); None ("auto" or absent) sizes N at
    # ~8x the session's cores at stream-build time
    buckets: int | None = None
    overlimit: list[OverlimitConfig] = field(default_factory=list)
    # traffic-drop levels, same shape as overlimit with inverted compare
    # (monit-objects-mavg-under.c, EXTRA.md:653-676)
    underlimit: list[OverlimitConfig] = field(default_factory=list)

    @classmethod
    def from_dict(cls, d: dict) -> "MavgConfig":
        if "precombine" in d:
            # removed with the map-side fold: ignoring it would leave a
            # config that reads as tuned but runs otherwise
            raise ValueError(
                f'mavg section {d.get("name", "mavg")!r}: the "precombine" '
                "key was removed (mavg state is always bucketed raw "
                "replay); delete it from the config"
            )
        return cls(
            name=d.get("name", "mavg"),
            fields=[parse_field(s) for s in d["fields"]],
            time=int(d.get("time", 5)),
            dump=int(d.get("dump", 0)),
            mem_m=int(d.get("mem-m", 256)),
            buckets=_parse_buckets(d.get("buckets")),
            overlimit=[OverlimitConfig.from_dict(o) for o in d.get("overlimit", [])],
            underlimit=[OverlimitConfig.from_dict(o) for o in d.get("underlimit", [])],
        )

    @property
    def key_fields(self) -> list[FieldSpec]:
        return [f for f in self.fields if not f.is_aggr]

    @property
    def val_fields(self) -> list[FieldSpec]:
        return [f for f in self.fields if f.is_aggr]


@dataclass
class FwmConfig:
    name: str
    spec: FwmSpec
    extended: bool = False             # dormant until a threshold trips

    @classmethod
    def from_dict(cls, d: dict) -> "FwmConfig":
        return cls(
            name=d.get("name", "fwm"),
            spec=FwmSpec.parse(
                d["fields"],
                time=int(d.get("time", 30)),
                limit=int(d["limit"]) if "limit" in d else None,
            ),
            extended=bool(d.get("extended", False)),
        )


@dataclass
class ClassificationConfig:
    fields: list[FieldSpec]
    val: FieldSpec
    top_percents: int = 90
    time: int = 30
    id: int = 0

    @classmethod
    def from_dict(cls, d: dict, index: int = 0) -> "ClassificationConfig":
        return cls(
            fields=[parse_field(s) for s in d["fields"]],
            val=parse_field(d.get("val", "octets desc")),
            top_percents=int(d.get("top-percents", 90)),
            time=int(d.get("time", 30)),
            id=int(d.get("id", index)),
        )


@dataclass
class MoConfig:
    """One monitoring object = filter + standing computations + children."""
    name: str
    filter: str = ""
    fwm: list[FwmConfig] = field(default_factory=list)
    mavg: list[MavgConfig] = field(default_factory=list)
    classification: list[ClassificationConfig] = field(default_factory=list)
    debug: dict = field(default_factory=dict)
    children: list["MoConfig"] = field(default_factory=list)

    @classmethod
    def from_dict(cls, d: dict, name: str = "mo") -> "MoConfig":
        return cls(
            name=name,
            filter=d.get("filter", ""),
            fwm=[FwmConfig.from_dict(x) for x in d.get("fwm", [])],
            mavg=[MavgConfig.from_dict(x) for x in d.get("mavg", [])],
            classification=[
                ClassificationConfig.from_dict(x, i)
                for i, x in enumerate(d.get("classification", []))
            ],
            debug=d.get("debug", {}),
        )

    @classmethod
    def from_file(cls, path: str, name: str | None = None) -> "MoConfig":
        with open(path) as fh:
            d = parse_jsonc(fh.read())
        if name is None:
            name = os.path.basename(os.path.dirname(os.path.abspath(path)))
        return cls.from_dict(d, name=name)

    # -- pipeline builders ---------------------------------------------------

    def filter_column(self, ctx: FilterContext) -> Column:
        """Compiled filter; empty filter matches all (filter.c:967-971)."""
        if not self.filter.strip():
            return F.lit(True)
        return compile_filter(self.filter, ctx)

    def filtered(self, flows: DataFrame, ctx: FilterContext) -> DataFrame:
        return flows.filter(self.filter_column(ctx))

    def fwm_result(
        self,
        flows: DataFrame,
        fwm: FwmConfig,
        ctx: FilterContext | None = None,
        ts_col: str = "ts",
        window: bool = True,
    ) -> DataFrame:
        """Full fwm pipeline for one window: filter → windowed groupBy-SUM →
        sort → top-N + others (monit-objects-fwm.c:403-589)."""
        if ctx is None:
            ctx = FilterContext()
        df = self.filtered(flows, ctx)
        agg = fwm_aggregate(df, fwm.spec, ctx, ts_col=ts_col, window=window)
        key_names = [f.sql_name for f in fwm.spec.fields if not f.is_aggr]
        val_names = [f.sql_name for f in fwm.spec.fields if f.is_aggr]
        order = [f.sort_col() for f in fwm.spec.fields if f.has_order]
        if fwm.spec.limit is None:
            return agg.orderBy(*order) if order else agg
        return top_n_with_others(
            agg,
            key_cols=key_names,
            val_cols=val_names,
            order_by=order,
            n=fwm.spec.limit,
            partition_by=["time"] if window else [],
        )


def load_mo_dir(root: str) -> list[MoConfig]:
    """Walk a monitoring-objects directory tree: every dir holding
    ``mo.conf`` is an MO; nested dirs with mo.conf are children whose
    filters conjoin with the parent's (monit-objects.c:252-482)."""

    def load(dir_path: str) -> MoConfig | None:
        conf = os.path.join(dir_path, "mo.conf")
        if not os.path.isfile(conf):
            return None
        mo = MoConfig.from_file(conf, name=os.path.basename(dir_path))
        for entry in sorted(os.listdir(dir_path)):
            sub = os.path.join(dir_path, entry)
            if os.path.isdir(sub):
                child = load(sub)
                if child is not None:
                    mo.children.append(child)
        return mo

    out = []
    for entry in sorted(os.listdir(root)):
        sub = os.path.join(root, entry)
        if os.path.isdir(sub):
            mo = load(sub)
            if mo is not None:
                out.append(mo)
    return out


class MoReloader:
    """Hot-reload parity (xenoeye.c:61-72, monit-objects.c:220-250): the
    reference re-reads mtime-changed mo.conf on SIGHUP, applying only
    threshold changes without restarting pipelines. Poll ``check()`` (or
    call it from a signal handler) — returns the reloaded MoConfigs whose
    files changed since last seen."""

    def __init__(self, root: str):
        self.root = root
        self._mtimes: dict[str, float] = {}
        self._primed = False
        self.check()  # prime: files present at init are NOT "changed"
        self._primed = True

    def _conf_files(self):
        for dirpath, _dirnames, filenames in os.walk(self.root):
            if "mo.conf" in filenames:
                yield os.path.join(dirpath, "mo.conf")

    def check(self) -> list[MoConfig]:
        changed = []
        primed = self._primed
        for path in self._conf_files():
            m = os.stat(path).st_mtime
            seen = self._mtimes.get(path)
            # report modified files AND files added after priming (the
            # reference's SIGHUP reload picks up hot-added objects; the
            # old condition stamped new files without ever reporting
            # them)
            if (seen is not None and seen != m) or (seen is None and primed):
                changed.append(MoConfig.from_file(path))
            self._mtimes[path] = m
        return changed
