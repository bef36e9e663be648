"""Streaming windowed Count-Min sketch — the stream twin of
``datapipe.sketch.cms_build``/``cms_estimate``: track a fixed
watchlist of tokens' frequencies per event-time window in d*w integers
of state, whatever the stream rate.

The collector-world shape is the reference's mfreq watch ("how often
does value X appear per window", filter.c:711-751) without its
per-value exact table; the training-data shape is "occurrences of
these markers per ingest hour". Exact per-token counting needs state
per distinct token; the Count-Min sketch (Cormode & Muthukrishnan
2005, public) is a fixed d x w counter matrix whose point estimates
never underestimate and overshoot by at most e*n/w with prob
1-(1/2)^d.

Parity: the SAME polynomial + affine hash family as the batch
operator, so for identical input rows the final sketch — and every
probe estimate — matches ``cms_build``/``cms_estimate`` cell-for-cell
(the batch-equivalence test asserts exactly that, collisions
included).

State & emission: keyed by window_start; every micro-batch that
touches a window emits RUNNING probe rows (``is_final=false``); when
the event-time watermark passes the window end the window emits FINAL
rows and frees its state (EventTimeTimeout).

Scale: the state op's input is PRE-COMBINED per partition into
(window, cell) partial sums — the CM merge is cell-wise addition, so
partials are exact — which caps the crossing volume per window at
O(d*w * input_partitions) rows of three ints per micro-batch, not the
raw token stream. (One state group per window is the DESIGN here, not
an accident: the group's input is the pre-summed 2048-cell table, the
same bounded shape the fixed heavy_hitters_stream reduces to.)
Lateness is window-deterministic: partials carry the window END as
event time and the watermark delay widens by one window
(``wutil.widen_delay``) — a row is dropped iff its window's final
already fired, independent of partition placement.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from xenoeye_spark.datapipe.ranking import KMV_M, KMV_P, kmv_poly_sql
from xenoeye_spark.datapipe.sketch import CMS_ROWS, CMS_WIDTH, _bucket_sql
from xenoeye_spark.datapipe.util import ws_tokens_sql
from xenoeye_spark.streaming.wutil import (
    precombine_map_in_pandas, session_timezone, set_window_timeout,
    widen_delay, window_duration_ms,
)

_D = len(CMS_ROWS)


def probe_cells(token: str, width: int = CMS_WIDTH) -> list[int]:
    """The d flattened cell ids a token increments — the same python
    fold the tests' twins use, mirroring the SQL hash family."""
    x = 0
    for ch in token:
        x = (x * KMV_M + ord(ch)) % KMV_P
    return [
        i * width + ((x * a + b) % KMV_P) % width
        for i, (a, b) in enumerate(CMS_ROWS)
    ]


def precombined_input(
    stream: DataFrame,
    ts_col: str,
    text_col: str,
    width: int,
    window: str,
) -> DataFrame:
    """Per-partition (window, cell) partial sums feeding the state op —
    cell-wise addition IS the Count-Min merge, so partials are exact.
    Cells are flattened to one int (row_id * width + bucket). Module
    level so the scale smoke can drive it in batch mode and count the
    rows that would cross the state shuffle."""
    win = F.window(F.col(ts_col), window)
    buckets = ", ".join(
        f"{i} * {width} + {_bucket_sql('_x', i, width)}"
        for i in range(_D)
    )
    raw = (
        stream.select(
            win.getField("start").alias("window_start"),
            win.getField("end").alias(ts_col),
            F.explode(F.expr(ws_tokens_sql(text_col))).alias("_t"),
        )
        .select(
            "window_start", ts_col,
            F.expr(kmv_poly_sql("_t")).alias("_x"),
        )
        .select(
            "window_start", ts_col,
            F.explode(F.expr(f"array({buckets})")).alias("_cell"),
            F.lit(1).cast("long").alias("_cnt"),
        )
    )
    pre_schema = T.StructType([
        T.StructField("window_start", T.TimestampType()),
        T.StructField(ts_col, T.TimestampType()),
        T.StructField("_cell", T.LongType()),
        T.StructField("_cnt", T.LongType()),
    ])

    def reduce_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = (
            pdf.groupby(["window_start", "_cell"], sort=False)
            .agg(**{"_cnt": ("_cnt", "sum"), ts_col: (ts_col, "max")})
            .reset_index()
        )
        out["_cnt"] = out["_cnt"].astype(np.int64)
        return out

    return precombine_map_in_pandas(raw, pre_schema, reduce_fn)


def cms_watch_stream(
    stream: DataFrame,
    ts_col: str,
    probe_tokens: list[str],
    text_col: str = "text",
    width: int = CMS_WIDTH,
    window: str = "60 seconds",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Windowed streaming Count-Min watchlist.

    Output rows: (window_start, token, cms_est, n_tokens, is_final) —
    one row per probe token per emission; ``cms_est`` the sketch's
    point estimate for the token in that window (>= its true count),
    ``n_tokens`` the total tokens folded into the window so far (the n
    of the e*n/w error bound; cells sum to exactly d*n).
    """
    if not probe_tokens:
        raise ValueError("probe_tokens must be non-empty")
    dur_ms = window_duration_ms(window)
    tz = session_timezone(stream)
    probes = [(t, np.array(probe_cells(t, width), dtype=np.int64))
              for t in probe_tokens]
    n_cells = _D * width

    out_schema = T.StructType([
        T.StructField("window_start", T.TimestampType()),
        T.StructField("token", T.StringType()),
        T.StructField("cms_est", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("is_final", T.BooleanType()),
    ])

    def emit(wstart, cells: np.ndarray, final: bool) -> pd.DataFrame:
        n_tokens = int(cells.sum()) // _D
        return pd.DataFrame({
            "window_start": [wstart] * len(probes),
            "token": [t for t, _ in probes],
            "cms_est": [int(cells[idx].min()) for _, idx in probes],
            "n_tokens": [n_tokens] * len(probes),
            "is_final": [final] * len(probes),
        })

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (wstart,) = key
        if state.hasTimedOut:
            (cells_list,) = state.get
            yield emit(wstart, np.asarray(cells_list, dtype=np.int64),
                       True)
            state.remove()
            return
        cells = (
            np.asarray(state.get[0], dtype=np.int64)
            if state.exists else np.zeros(n_cells, dtype=np.int64)
        )
        touched = False
        for p in pdfs:
            if len(p):
                touched = True
                np.add.at(
                    cells,
                    p["_cell"].to_numpy(dtype=np.int64),
                    p["_cnt"].to_numpy(dtype=np.int64),
                )
        if not touched:
            return
        state.update((cells.tolist(),))
        set_window_timeout(state, wstart, dur_ms, tz)
        yield emit(wstart, cells, False)

    pre = (
        precombined_input(stream, ts_col, text_col, width, window)
        .withWatermark(ts_col, widen_delay(watermark_delay, dur_ms))
    )
    return pre.groupBy("window_start").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="cells array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
