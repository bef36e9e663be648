"""Streaming fwm — the reference's report path under Structured Streaming.

Reference flow (monit-objects-fwm.c:649-790): every ``time`` seconds the
window's per-thread tries are merged, sorted, cut to top-N+others, and
written as a SQL file (CREATE TABLE IF NOT EXISTS + INSERTs) that a runner
ships to PostgreSQL/ClickHouse, keeping failed files for retry
(INTERNALS.md:46).

Spark shape: ``readStream → filter → foreachBatch``. Inside foreachBatch
``fwm_batch_handler`` runs the *batch* fwm pipeline (windowed agg →
top-N+others) on the micro-batch and hands it to the sink; the Engine
wires the query (trigger = the fwm's window size, checkpoint, name).
Micro-batch boundaries are the bank swap (SURVEY.md §2.8 double-banking
== micro-batch state flush); the checkpoint gives the exactly-once
durability the reference builds by hand with export files +
``expfailed/``.

The SQL-file sink is kept for operational parity: identical DDL/INSERT
shape so the reference's db-export scripts work unchanged.
"""

from __future__ import annotations

import os
import time as _time

from pyspark.sql import DataFrame

from xenoeye_spark.config.mo import FwmConfig, MoConfig
from xenoeye_spark.dsl.compiler import FilterContext


import datetime as _dt


def _sql_literal(v, db_type: str = "pg") -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        s = v.replace("'", "''")
        if db_type == "clickhouse":
            # CH strings are C-escaped: a raw backslash must double or
            # it swallows the next char as an escape
            s = v.replace("\\", "\\\\").replace("'", "''")
        return "'" + s + "'"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (_dt.datetime, _dt.date)):
        return f"'{v}'"
    if isinstance(v, (bytes, bytearray)):
        if db_type == "clickhouse":
            # PG's bytea hex form '\x...' reads as a C escape in CH and
            # corrupts the value; unhex() round-trips exactly
            return f"unhex('{v.hex()}')"
        return "'\\x" + v.hex() + "'"
    return str(v)


_PG_TYPES = {
    "bigint": "BIGINT", "int": "BIGINT", "double": "DOUBLE PRECISION",
    "string": "TEXT", "timestamp": "TIMESTAMPTZ", "boolean": "BOOLEAN",
}
# ClickHouse flavor (monit-objects-fwm.c CH branch: Nullable columns,
# MergeTree ordered by time)
_CH_TYPES = {
    "bigint": "Nullable(Int64)", "int": "Nullable(Int64)",
    "double": "Nullable(Float64)", "string": "Nullable(String)",
    "timestamp": "DateTime", "boolean": "Nullable(UInt8)",
}


def fwm_sql_export(
    result: DataFrame,
    table: str,
    exp_dir: str,
    epoch_id: int | None = None,
    db_type: str = "pg",
    ch_codec: str = "",
) -> str | None:
    """Write one window's result as a SQL file, mirroring
    monit-objects-fwm.c:269-414: CREATE TABLE IF NOT EXISTS + one batched
    INSERT. ``db_type``: 'pg' or 'clickhouse' (type/engine dialects);
    ``ch_codec``: optional ClickHouse column codec appended to each
    non-time column (xenoeye.conf "ch-codec", e.g. "ZSTD(1)").
    Returns the file path (None if the batch was empty).

    The result set here is post-top-N (small); collect is bounded by
    limit+1 rows per window, not by stream volume.
    """
    rows = result.collect()
    if not rows:
        return None
    cols = result.columns
    typemap = _CH_TYPES if db_type == "clickhouse" else _PG_TYPES
    codec = (
        f" CODEC({ch_codec})" if ch_codec and db_type == "clickhouse" else ""
    )
    ddl_types = []
    for f in result.schema.fields:
        t = f.dataType.simpleString()
        suffix = codec if f.name != "time" else ""
        ddl_types.append(f"{f.name} {typemap.get(t, typemap['string'])}{suffix}")
    os.makedirs(exp_dir, exist_ok=True)
    stamp = epoch_id if epoch_id is not None else int(_time.time())
    path = os.path.join(exp_dir, f"{table}_{stamp}.sql")
    # write-then-rename: the export runner sweeps *.sql on its own
    # schedule, and a direct open(path, 'w') would let it ship (and then
    # quarantine) a half-written file
    tmp = os.path.join(exp_dir, f".{table}_{stamp}.sql.tmp")
    engine = (
        " ENGINE = MergeTree ORDER BY time" if db_type == "clickhouse" else ""
    )
    with open(tmp, "w") as fh:
        fh.write(
            f"CREATE TABLE IF NOT EXISTS {table} "
            f"({', '.join(ddl_types)}){engine};\n"
        )
        fh.write(f"INSERT INTO {table} ({', '.join(cols)}) VALUES\n")
        vals = ",\n".join(
            "(" + ", ".join(_sql_literal(r[c], db_type) for c in cols) + ")"
            for r in rows
        )
        fh.write(vals + ";\n")
    os.replace(tmp, path)
    return path


def fwm_batch_handler(
    mo: MoConfig,
    fwm: FwmConfig,
    sink_fn,
    ctx: FilterContext | None = None,
    ts_col: str = "ts",
    mfreq_state=None,
    mfreq_pairs: list[tuple[str, str]] = (),
):
    """The foreachBatch handler of one fwm entry: runs the batch fwm
    pipeline over each micro-batch and hands the result to
    ``sink_fn(result_df, epoch_id)``.

    ``mfreq_state``/``mfreq_pairs``: exact streaming mfreq (Engine
    exact_mfreq=True): the filter recompiles per trigger against the
    state's table snapshot, and after each batch the table absorbs the
    batch's argument values — the reference's per-filter frequency map
    at trigger granularity (filter.c:711-751,
    streaming/mfreq_stream.py). The snapshot factory is bound into a
    per-batch shallow copy of ``ctx``, so one ctx may be shared across
    standing queries.
    """
    if ctx is None:
        ctx = FilterContext()

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # bind the snapshot factory into a private shallow copy — the
        # caller's ctx is never mutated, so queries can share a ctx
        if mfreq_state is not None:
            from dataclasses import replace as dc_replace

            bctx = dc_replace(ctx, mfreq_fn=mfreq_state.expr)
        else:
            bctx = ctx
        sink_fn(mo.fwm_result(batch_df, fwm, bctx, ts_col=ts_col), epoch_id)
        if mfreq_state is not None:
            # the reference bumps the map for every EVALUATED flow,
            # matching or not (filter.c:736-741) -> observe the whole batch
            for c1, c2 in mfreq_pairs:
                mfreq_state.observe(batch_df, c1, c2)

    return handle_batch


def fwm_event_time_stream(
    flows_stream: DataFrame,
    mo: MoConfig,
    fwm: FwmConfig,
    ctx: FilterContext | None = None,
    ts_col: str = "ts",
    watermark: str = "1 minute",
) -> DataFrame:
    """Event-time EXTENSION mode: the reference only does processing-time
    windows (flow timestamps ignored, INTERNALS.md:126-128); this variant
    windows on the flow's own timestamp with a watermark for late data —
    the Spark-native improvement for out-of-order exporters. Returns the
    windowed aggregate stream (append mode emits a window only once its
    watermark passes); apply top-N+others downstream in foreachBatch.
    """
    from xenoeye_spark.operators.fwm import fwm_aggregate

    if ctx is None:
        ctx = FilterContext()
    df = mo.filtered(flows_stream, ctx).withWatermark(ts_col, watermark)
    return fwm_aggregate(df, fwm.spec, ctx, ts_col=ts_col, window=True)
