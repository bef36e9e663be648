"""Compile the filter AST to a single pyspark Column.

Where the reference compiles to RPN bytecode run by a stack machine per flow
(filter.c:961-1012), we build one boolean Column and let Catalyst fold
constants, reorder predicates, and codegen short-circuit evaluation.

Null semantics are made *deterministic-boolean* so NOT behaves like the
reference's zeroed flow_info struct:
  - int fields      : missing -> 0            (flow_info is memset to 0)
  - string fields   : missing -> ''
  - address fields  : missing -> predicate is FALSE even under NOT
                      (presence check, filter.c:318-337)
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from xenoeye_spark.catalog import (
    ADDR4, ADDR6, MACF, RANGE, STRF, FILTER_FIELDS, AGGR_FIELDS, FilterField,
)
from xenoeye_spark.dsl import lexer as lx
from xenoeye_spark.dsl.parser import (
    And, Or, Not, Pred, FuncPred, BOTH, SRC, DST, parse_filter,
)
from xenoeye_spark.functions import scalar as fs


class CompileError(ValueError):
    pass


@dataclass
class FilterContext:
    """Binding environment for compilation.

    fields   : DSL field name -> FilterField (kind + src/dst column names);
               defaults to the flow catalog, overridable to run the DSL over
               arbitrary tables.
    iplists  : name -> object with ``match_expr(col) -> Column`` (membership
               of an address column in a named CIDR set, iplist.c:160-216).
    geo_fn   : (func_name, addr_col) -> Column for geoip/asn functions;
               wired to enrich.geoip lookups when available.
    """

    fields: dict[str, FilterField] = dc_field(default_factory=lambda: dict(FILTER_FIELDS))
    iplists: dict[str, object] = dc_field(default_factory=dict)
    geo_fn: Callable[[str, Column], Column] | None = None
    # exact streaming mfreq hook: (col1, col2) -> Column over the shared
    # frequency table (streaming/mfreq_stream.py). None -> documented
    # order-free min2 approximation.
    mfreq_fn: Callable[[Column, Column], Column] | None = None

    def col(self, name: str) -> Column:
        return F.col(name)


GEO_FUNCS = {"continent", "country_code", "country", "state", "city",
             "zip", "lat", "long", "asn", "asd"}


def _int_pred(col: Column, values: list[str]) -> Column:
    """RANGE-kind predicate: each value an int or a-b range, OR'd
    (filter.c:468-550). Missing int fields read as 0 (flow_info is memset),
    folded at compile time: the NULL case becomes `isNull | pred` when 0
    matches, `isNotNull & pred` when it doesn't. Same truth table as
    coalesce(col, 0) but deterministic AND translatable to parquet scan
    filters — coalesce() blocks predicate pushdown entirely."""
    c = col.cast("long")
    exact: list[int] = []
    conds: list[Column] = []
    zero_matches = False
    for v in values:
        r = lx.parse_range(v)
        if r is not None:
            conds.append(c.between(F.lit(r[0]), F.lit(r[1])))
            zero_matches = zero_matches or (r[0] <= 0 <= r[1])
            continue
        i = lx.parse_int(v)
        if i is None:
            raise CompileError(f"expected int value, got {v!r}")
        exact.append(i)
    if exact:
        conds.append(c.isin(exact) if len(exact) > 1 else (c == F.lit(exact[0])))
        zero_matches = zero_matches or (0 in exact)
    out = conds[0]
    for cond in conds[1:]:
        out = out | cond
    return (col.isNull() | out) if zero_matches else (col.isNotNull() & out)


def _addr4_pred(ctx: FilterContext, col: Column, values: list[str],
                quoted: list[bool]) -> Column:
    """ADDR4 predicate: (addr & mask) == prefix per value, OR'd
    (filter.c:255-306); non-address word = named IP list (filter.c:260-271).
    Presence required (filter.c:318-337)."""
    conds: list[Column] = []
    for v, q in zip(values, quoted):
        if not q and lx.is_ip4(v):
            if "/" in v:
                addr_s, len_s = v.split("/")
                plen = int(len_s)
                if not 0 <= plen <= 32:
                    raise CompileError(f"bad IPv4 prefix length in {v!r}")
            else:
                addr_s, plen = v, 32
            addr = fs.str_to_ip4(addr_s)
            if plen == 0:
                conds.append(F.lit(True))
            elif plen == 32:
                conds.append(col == F.lit(addr))
            else:
                shift = 32 - plen
                net = addr >> shift << shift
                conds.append(
                    F.shiftrightunsigned(col.cast("long"), shift)
                    == F.lit(net >> shift)
                )
        else:
            ipl = ctx.iplists.get(v)
            if ipl is None:
                raise CompileError(f"unknown IP list {v!r}")
            conds.append(ipl.match_expr(col))
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return col.isNotNull() & out


def _addr6_pred(ctx: FilterContext, col: Column, values: list[str],
                quoted: list[bool]) -> Column:
    """ADDR6 predicate over BinaryType(16). Byte-granular prefixes are a
    prefix-compare on the binary; other lengths mask the boundary byte."""
    import ipaddress

    conds: list[Column] = []
    for v, q in zip(values, quoted):
        if not q and lx.is_ip6(v):
            if "/" in v:
                addr_s, len_s = v.split("/")
                plen = int(len_s)
                if not 0 <= plen <= 128:
                    raise CompileError(f"bad IPv6 prefix length in {v!r}")
            else:
                addr_s, plen = v, 128
            raw = ipaddress.IPv6Address(addr_s).packed
            nbytes = plen // 8
            rembits = plen % 8
            if nbytes:
                conds_v = F.expr(f"substring({_col_sql(col)}, 1, {nbytes})") == F.lit(raw[:nbytes])
            else:
                conds_v = F.lit(True)
            if rembits:
                mask = (0xFF << (8 - rembits)) & 0xFF
                bt = raw[nbytes] & mask
                nextbyte = F.expr(
                    f"get(cast({_col_sql(col)} as array<tinyint>), {nbytes})"
                )
                # unsigned compare on the masked boundary byte
                ub = F.when(nextbyte < 0, nextbyte + 256).otherwise(nextbyte)
                conds_v = conds_v & (F.floor(ub / F.lit(1 << (8 - rembits))) == F.lit(bt >> (8 - rembits)))
            conds.append(conds_v)
        else:
            ipl = ctx.iplists.get(v)
            if ipl is None:
                raise CompileError(f"unknown IP list {v!r}")
            conds.append(ipl.match_expr6(col))
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return col.isNotNull() & out


def _col_sql(col: Column) -> str:
    # extract a SQL-usable reference for F.expr interop; Columns built via
    # F.col(name) only (enforced by FilterContext.col)
    s = str(col)
    # Column<'name'> -> name
    return s[len("Column<'") : -len("'>")]


def _mac_pred(col: Column, values: list[str]) -> Column:
    """MAC equality, memcmp of 6 bytes (filter.c:552-606)."""
    conds = []
    for v in values:
        if not lx.is_mac(v):
            raise CompileError(f"bad MAC literal {v!r}")
        raw = bytes(int(b, 16) for b in v.split(":"))
        conds.append(col == F.lit(raw))
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return col.isNotNull() & out


def _str_pred(col: Column, values: list[str]) -> Column:
    """String equality (filter.c:608-656). The reference compares with the
    stored length (prefix compare); we normalize to exact equality — a
    documented divergence (SURVEY.md §7.3). Missing strings read as ''
    (zeroed flow_info), folded at compile time like _int_pred so the
    predicate reaches the parquet scan."""
    pred = (col == F.lit(values[0])) if len(values) == 1 else col.isin(values)
    if "" in values:
        return col.isNull() | pred
    return col.isNotNull() & pred


def _pred_one_side(ctx: FilterContext, ff: FilterField, colname: str,
                   p: Pred) -> Column:
    col = ctx.col(colname)
    if ff.kind == RANGE:
        return _int_pred(col, p.values)
    if ff.kind == ADDR4:
        return _addr4_pred(ctx, col, p.values, p.quoted)
    if ff.kind == ADDR6:
        return _addr6_pred(ctx, col, p.values, p.quoted)
    if ff.kind == MACF:
        return _mac_pred(col, p.values)
    if ff.kind == STRF:
        return _str_pred(col, p.values)
    raise CompileError(f"unhandled field kind {ff.kind}")


def compile_pred(ctx: FilterContext, p: Pred) -> Column:
    ff = ctx.fields.get(p.field)
    if ff is None:
        raise CompileError(f"unknown field {p.field!r}")
    if p.direction == SRC or ff.src == ff.dst:
        return _pred_one_side(ctx, ff, ff.src, p)
    if p.direction == DST:
        return _pred_one_side(ctx, ff, ff.dst, p)
    # BOTH = match either side (filter.c:328-356)
    return _pred_one_side(ctx, ff, ff.src, p) | _pred_one_side(ctx, ff, ff.dst, p)


def resolve_func_column(ctx: FilterContext, fp: FuncPred) -> tuple[Column, str]:
    """Build the Column computing ``func(args...)``; returns (col, kind)
    where kind is RANGE (int result) or STRF (string result)."""
    name = fp.func

    def aggr_arg(i: int) -> Column:
        d, a = fp.args[i]
        if a in AGGR_FIELDS:
            src, scale = AGGR_FIELDS[a]
            c = F.coalesce(ctx.col(src).cast("long"), F.lit(0))
            return c * F.lit(scale) if scale != 1 else c
        # fall back to a plain field/column name
        return F.coalesce(ctx.col(a).cast("long"), F.lit(0))

    def field_arg(i: int) -> Column:
        d, a = fp.args[i]
        ff = ctx.fields.get(a)
        if ff is None:
            return ctx.col(a)
        colname = ff.dst if d == DST else ff.src
        return ctx.col(colname)

    def int_lit(i: int) -> int:
        _, a = fp.args[i]
        v = lx.parse_int(a)
        if v is None:
            raise CompileError(f"{name}: expected integer arg, got {a!r}")
        return v

    if name == "div":
        return fs.xdiv(aggr_arg(0), aggr_arg(1)), RANGE
    if name == "div_r":
        return fs.div_r(aggr_arg(0), aggr_arg(1), int_lit(2)), RANGE
    if name == "div_l":
        return fs.div_l(aggr_arg(0), aggr_arg(1), int_lit(2)), RANGE
    if name == "min":
        return fs.min2(field_arg(0), field_arg(1)), RANGE
    if name == "mfreq":
        # Reference: shared historical frequency map, order-dependent
        # (filter.c:711-751). With ctx.mfreq_fn set (the fwm handler's
        # per-trigger snapshot), semantics are exact; otherwise the
        # documented order-free approximation: min of the pair (ties in
        # the reference also resolve to min). See SURVEY.md §7.3.
        if ctx.mfreq_fn is not None:
            return ctx.mfreq_fn(field_arg(0), field_arg(1)), RANGE
        return fs.min2(field_arg(0), field_arg(1)), RANGE
    if name == "tfstr":
        return fs.tfstr(field_arg(0)), STRF
    if name == "portstr":
        return fs.portstr(field_arg(0)), STRF
    if name == "ppstr":
        return fs.ppstr(field_arg(0), field_arg(1)), STRF
    if name in GEO_FUNCS:
        if ctx.geo_fn is None:
            raise CompileError(f"{name}() needs a geoip context (FilterContext.geo_fn)")
        kind = RANGE if name == "asn" else STRF
        # v6 columns (BinaryType) must reach the v6 LPM — the v4 path
        # casts to long, which cannot analyze over binary
        d, a = fp.args[0]
        ff = ctx.fields.get(a)
        colname = (ff.dst if d == DST else ff.src) if ff is not None else a
        from xenoeye_spark.catalog import FLOW_FIELDS, IP6

        if FLOW_FIELDS.get(colname) == IP6:
            return ctx.geo_fn(name, field_arg(0), v6=True), kind
        return ctx.geo_fn(name, field_arg(0)), kind
    raise CompileError(f"unknown function {name!r}")


def compile_func_pred(ctx: FilterContext, fp: FuncPred) -> Column:
    col, kind = resolve_func_column(ctx, fp)
    if not fp.values:
        raise CompileError(f"function {fp.func} used as predicate needs values")
    if kind == RANGE:
        return _int_pred(col, fp.values)
    return _str_pred(col, fp.values)


def compile_ast(ctx: FilterContext, ast) -> Column:
    if ast is None:
        return F.lit(True)  # empty filter matches all (filter.c:967-971)
    if isinstance(ast, Or):
        out = compile_ast(ctx, ast.items[0])
        for it in ast.items[1:]:
            out = out | compile_ast(ctx, it)
        return out
    if isinstance(ast, And):
        out = compile_ast(ctx, ast.items[0])
        for it in ast.items[1:]:
            out = out & compile_ast(ctx, it)
        return out
    if isinstance(ast, Not):
        return ~compile_ast(ctx, ast.item)
    if isinstance(ast, Pred):
        return compile_pred(ctx, ast)
    if isinstance(ast, FuncPred):
        return compile_func_pred(ctx, ast)
    raise CompileError(f"unknown AST node {ast!r}")


def compile_filter(text: str, ctx: FilterContext | None = None) -> Column:
    """filter DSL string -> boolean Column."""
    if ctx is None:
        ctx = FilterContext()
    ast = parse_filter(text, set(ctx.fields))
    return compile_ast(ctx, ast)


def find_mfreq_field_pairs(
    expr_str: str, ctx: FilterContext | None = None
) -> list[tuple[str, str]]:
    """Column-name pairs of every ``mfreq(f1, f2)`` call in a filter —
    what a per-trigger frequency loop must ``observe()`` after each
    batch (streaming/mfreq_stream.py). Resolution mirrors
    ``resolve_func_column``'s field_arg: dst-direction args take the
    field's dst column, everything else the src column."""
    if ctx is None:
        ctx = FilterContext()
    pairs: list[tuple[str, str]] = []

    def colname(arg: tuple[str, str]) -> str:
        d, a = arg
        ff = ctx.fields.get(a)
        if ff is None:
            return a
        return ff.dst if d == DST else ff.src

    def walk(node) -> None:
        if isinstance(node, FuncPred):
            if node.func == "mfreq" and len(node.args) >= 2:
                pairs.append((colname(node.args[0]), colname(node.args[1])))
        elif isinstance(node, Not):
            walk(node.item)
        elif isinstance(node, (And, Or)):
            for it in node.items:
                walk(it)

    walk(parse_filter(expr_str, set(ctx.fields)))
    return pairs
