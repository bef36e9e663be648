"""Exact streaming ``mfreq`` — the reference's shared frequency map.

The reference's ``mfreq(f1, f2)`` keeps one 2^16-slot frequency table per
filter; every evaluated flow reads the frequencies of its two (uint16)
argument values — whichever value is historically more frequent is the
function result (tie -> smaller value) — and then the table is bumped
(filter.c:711-751). The result therefore depends on arrival order.

Spark shape (the ClassificationLoop feedback pattern,
streaming/classify_stream.py): inside the fwm query's ``foreachBatch``
(``fwm_stream.fwm_batch_handler``), stamp/filter the
micro-batch with the table as accumulated from PREVIOUS batches — a
vectorized lookup into a 65536-slot numpy array inside an Arrow-batched
pandas UDF, no join, no shuffle — then fold this batch's value counts
into the table. At one-row triggers this is bit-exact with the
reference's per-flow map; at larger triggers decisions within one batch
share the batch-start table (documented micro-batch granularity).

Divergence note: filter.c:737-741 increments ``freqmap[arg1]`` twice and
never counts ``arg2`` — a transcription slip contradicting the
function's own read path; we count each argument once.

Scale: the state is a fixed 512 KB array on the driver; the per-batch
update aggregates value counts (<= 65536 groups) before collecting, so
driver traffic is bounded regardless of batch size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_SLOTS = 1 << 16


def mfreq_decide(freq: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized filter_function_mfreq read path (filter.c:726-733):
    the more-frequent value wins, ties -> the smaller value. The whole
    decision lives in the uint16 domain — the reference reads the args
    through get_nf_val into uint16 (filter.c:719-724), so values above
    0xFFFF are truncated BEFORE comparison and in the result, not only
    for the table probe."""
    a = a & 0xFFFF
    b = b & 0xFFFF
    fa = freq[a]
    fb = freq[b]
    return np.where(fa != fb, np.where(fa > fb, a, b), np.minimum(a, b))


class MfreqState:
    """The shared frequency table + per-trigger expression factory."""

    def __init__(self):
        self.freq = np.zeros(_SLOTS, dtype=np.int64)

    def expr(self, c1: Column, c2: Column) -> Column:
        """mfreq(c1, c2) as a Column over the CURRENT table snapshot.
        Build a fresh one per micro-batch — the snapshot is captured at
        call time, matching the batch-start semantics."""
        snap = self.freq.copy()

        @pandas_udf("long")
        def _mfreq(a: pd.Series, b: pd.Series) -> pd.Series:
            av = a.fillna(0).to_numpy(dtype=np.int64)
            bv = b.fillna(0).to_numpy(dtype=np.int64)
            return pd.Series(mfreq_decide(snap, av, bv))

        return _mfreq(c1.cast("long"), c2.cast("long"))

    def observe(self, batch_df: DataFrame, col1: str, col2: str) -> None:
        """Fold one micro-batch's argument values into the table. Counts
        are pre-aggregated executor-side (<= 2^16 groups) so only the
        tiny (value, count) table reaches the driver."""
        # mask to the 2^16 slot EXECUTOR-side: grouping on the raw long
        # would produce one group per distinct value (a 32-bit field ->
        # millions of rows collected to the driver); the masked groupBy
        # is bounded at 65536 rows no matter the domain
        slot = F.pmod(F.coalesce(F.col("_v"), F.lit(0)), F.lit(65536))
        counts = (
            batch_df.select(F.col(col1).cast("long").alias("_v"))
            .unionAll(batch_df.select(F.col(col2).cast("long").alias("_v")))
            .select(slot.alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        for r in counts:
            self.freq[int(r["v"]) & 0xFFFF] += int(r["n"])
