"""mavg — per-key exponentially-decayed moving averages with thresholds.

Reference semantics (monit-objects-mavg.c:571-593, INTERNALS.md:144-162):
on every flow for its key-tuple,
    dt = now - time_prev
    if dt >= T:  N = V            (window fully elapsed -> reset)
    else:        N = N - (dt/T)*N + V
reported rate = N / T_seconds (monit-objects-mavg.c:549).

Per-key thresholds come from a CSV keyed by the key-tuple with a default
vector fallback (monit-objects-mavg-limfile.c, CONFIG.md:438-469). Overlimit
-> NEW/UPDATE/ALMOST_GONE/GONE state machine with back2norm timer
(monit-objects-mavg-act.c:342-444).

Spark shape: the recurrence is order-sensitive within a key, so batch replay
uses applyInPandas per key with rows sorted by arrival time — numpy inside,
Arrow transfer, keys processed data-parallel across executors. The streaming
variant lives in xenoeye_spark.streaming.mavg_stream.

Scale: state per key is O(1) (one float + one timestamp per aggregable
field); the shuffle is by key-tuple — same key cardinality the reference
caps at 256MB/mavg. Skewed keys are a non-issue because per-key work is
proportional to that key's row count (no replay amplification).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def ts_to_ns(ts_col: str) -> Column:
    """``ts_col`` as exact integer nanoseconds (micros * 1000), the one
    spelling the batch and streaming mavg share: float seconds * 1e9
    loses the low ~8 bits at 2024-era epochs and would desync from any
    oracle."""
    return F.unix_micros(F.col(ts_col).cast("timestamp")) * F.lit(1000)


def ewma_replay_py(times_ns: np.ndarray, vals: np.ndarray, window_ns: int):
    """Scalar oracle-exact replay of mavg_recalc (monit-objects-mavg.c:571-593).

    Returns the final accumulator N after feeding every (t, v) in order.
    """
    n = 0.0
    tprev = None
    for t, v in zip(times_ns, vals):
        if tprev is None:
            n = float(v)
        else:
            dt = t - tprev
            if dt >= window_ns:
                n = float(v)
            else:
                n = n - (dt / window_ns) * n + float(v)
        tprev = int(t)
    return n, tprev


def mavg_rates(
    df: DataFrame,
    key_cols: list[str],
    val_col: str,
    window_sec: int,
    ts_col: str = "ts",
    decay_to: int | None = None,
) -> DataFrame:
    """Batch replay: final per-key moving-average rate (value/sec).

    ``decay_to``: optional unix-nanosecond instant to decay the accumulator
    to before reporting (the reference's background threads decay silently
    idle keys, monit-objects-mavg-act.c:391-397).
    The replay is the scalar fold, bit-exact against the DuckDB
    list_reduce oracle.
    Output: key_cols..., ``mavg_val`` (accumulator), ``rate`` (val/sec).
    """
    window_ns = int(window_sec * 1e9)

    out_fields = [df.schema[k] for k in key_cols] + [
        T.StructField("mavg_val", T.DoubleType()),
        T.StructField("rate", T.DoubleType()),
    ]
    out_schema = T.StructType(out_fields)

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        # secondary sort on value pins fold order for duplicate
        # timestamps: dt=0 rows just add v (tie-order-invariant in exact
        # arithmetic) but FP association differs, so an oracle comparing
        # bit-for-bit needs both sides to agree on tie order
        pdf = pdf.sort_values(["_ts_ns", "_val"], kind="mergesort")
        n, tprev = ewma_replay_py(
            pdf["_ts_ns"].to_numpy(), pdf["_val"].to_numpy(), window_ns
        )
        if decay_to is not None and tprev is not None:
            dt = decay_to - tprev
            if dt >= window_ns:
                n = 0.0
            elif dt > 0:
                n = n - (dt / window_ns) * n
        row = {k: [pdf[k].iloc[0]] for k in key_cols}
        row["mavg_val"] = [n]
        row["rate"] = [n / window_sec]
        return pd.DataFrame(row)

    prepped = df.select(
        *key_cols,
        ts_to_ns(ts_col).alias("_ts_ns"),
        F.col(val_col).cast("double").alias("_val"),
    )

    return prepped.groupBy(*key_cols).applyInPandas(replay, schema=out_schema)


def mavg_overlimit(
    rates: DataFrame,
    limits: DataFrame | None,
    default_threshold: float,
    key_cols: list[str],
    under: bool = False,
) -> DataFrame:
    """Join per-key thresholds (broadcast; default fallback) and emit rows
    over (or under, monit-objects-mavg-under.c) their limit.

    ``limits`` schema: key_cols... + ``threshold`` double.
    """
    out = rates
    if limits is not None:
        lim = limits.withColumnRenamed("threshold", "_thr_key")
        out = out.join(F.broadcast(lim), on=key_cols, how="left")
        out = out.withColumn(
            "threshold", F.coalesce(F.col("_thr_key"), F.lit(default_threshold))
        ).drop("_thr_key")
    else:
        out = out.withColumn("threshold", F.lit(default_threshold))
    cond = (F.col("rate") < F.col("threshold")) if under else (
        F.col("rate") >= F.col("threshold")
    )
    return out.filter(cond)
