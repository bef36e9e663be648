"""Streaming ingest deduplication.

A training-data (or flow) ingest stream re-delivers records: at-least-
once sources (Kafka, file drops, UDP replay after restart) and upstream
retries both produce duplicates that a batch dedup would only catch a
day later. Structured Streaming's answer is state-store dedup:

- ``dedup_stream``: exact streaming dedup on a key set via
  ``dropDuplicatesWithinWatermark`` — the state store keeps one entry
  per key only until the watermark passes it, so state is bounded by
  (key arrival rate x watermark delay), not by stream history. This is
  the scale-correct form; plain ``dropDuplicates`` on a stream grows
  state forever.

- ``dedup_batch_first_wins``: the ``foreachBatch`` kernel for sinks
  that need the FIRST row's payload (not just key suppression) with
  batch-local ordering control: within each micro-batch, the minimum
  (order_col) row per key wins, and cross-batch suppression rides on the
  same watermark state.

State sizing at 100 TB ingest: one state row ≈ key bytes + timestamp.
A 1M rows/s stream with a 30-minute watermark holds ≤ 1.8G keys spread
across the cluster's state stores — partitioned by key hash, the same
layout as the mavg state (SCALE.md §mavg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Exact streaming dedup: keep the first-arriving row per key; a
    duplicate arriving within ``watermark_delay`` of the original's
    event time is dropped; state for a key is freed once the watermark
    passes it. ``key_cols`` must not include the event-time column
    (dropDuplicatesWithinWatermark requirement).

    Streaming URL dedup (r10) is this function over the canonical key:
    ``dedup_stream(stream.withColumn("canon_url",
    canonical_url_expr("url")), ["canon_url"], ts_col)`` — the
    canonicalization is a stateless projection, so the composition
    inherits this operator's bounded state unchanged (tested in
    test_round10_ops)."""
    if ts_col in key_cols:
        raise ValueError("ts_col must not be part of key_cols")
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def dedup_batch_first_wins(
    batch: DataFrame,
    key_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Batch-local deterministic dedup kernel (used inside foreachBatch
    alongside the watermark state): per key, the row with the minimum
    ``order_col`` survives. One map-side-combinable min-struct agg —
    the same no-window shape as segment_dedup's first-occurrence
    resolution, so hot keys collapse before the shuffle."""
    others = [c for c in batch.columns if c not in key_cols]
    packed = batch.groupBy(*key_cols).agg(
        F.min(F.struct(order_col, *[c for c in others if c != order_col])).alias("_w")
    )
    return packed.select(
        *key_cols,
        F.col(f"_w.{order_col}").alias(order_col),
        *[F.col(f"_w.{c}").alias(c) for c in others if c != order_col],
    )


def incremental_dedup_stream(
    stream,
    corpus,
    n: int = 3,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    max_bucket_size: int | None = 1000,
):
    """Streaming twin of ``datapipe.dedup.incremental_dedup``: flag each
    arriving doc that near-duplicates the STATIC corpus — the live form
    of the daily-ingest dedup (crawl firehose vs yesterday's index).

    Spark shape: STREAM-STATIC joins only, which Structured Streaming
    runs with no state store at all — the corpus-side banded index and
    shingle table are plain DataFrames (computed once per batch plan,
    AQE-broadcast when small); the stream side computes signature AND
    shingle digests in ONE lineage (a second stream derivation joined
    back on id would be a stream-stream self-join with unbounded hash
    state); and the per-doc argmax is a STATELESS micro-batch
    reduction: repartition(id) co-locates one doc's candidate rows,
    then a mapInPandas groupby picks the best match — no streaming
    aggregation, no watermark, no timeout (a doc's verdict depends
    only on the static index, so nothing must wait). The corpus-bucket
    skew gate matches the batch operator.

    Output: (id_col, is_dup, dup_of, jaccard) per arriving doc —
    the batch operator's exact contract (batch-equivalence tested).
    """
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from xenoeye_spark.datapipe.dedup import (
        band_hashes, sig_and_shingle_table,
    )

    # ---- static side, computed once at stream construction: signature
    # and shingle table from one staged tokenization (the batch
    # operator's own builder)
    tbl_old = sig_and_shingle_table(
        corpus, n, num_hashes, text_col, id_col, seed
    )
    corpus_banded = tbl_old.select(
        F.col("_id").alias("_old_id"),
        F.posexplode(band_hashes(bands, num_hashes)).alias("band", "bucket"),
    )
    if max_bucket_size is not None:
        sizes = corpus_banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_bsz")
        )
        corpus_banded = corpus_banded.join(
            sizes.filter(F.col("_bsz") <= max_bucket_size).drop("_bsz"),
            ["band", "bucket"], "leftsemi",
        )
    sh_old = tbl_old.select(
        F.col("_id").alias("_old_id"), F.col("_sh").alias("_sh_o"),
        F.col("_sz").alias("_sz_o"),
    )

    # ---- stream side: ONE lineage carrying signature AND shingles —
    # a second derivation of the same stream joined back on id would be
    # a stream-stream self-join whose hash-join state grows with every
    # doc ever ingested (no watermark bounds it). The shingle array
    # rides through the 16-row banded explode instead: bands x array
    # duplication per doc, a bounded width cost, zero state. The builder
    # and the band hash are the batch operator's own, so digests,
    # signatures and buckets compare like for like.
    new_banded = sig_and_shingle_table(
        stream, n, num_hashes, text_col, id_col, seed
    ).select(
        F.col("_id").alias(id_col),
        F.col("_sh").alias("_sh_n"),
        F.posexplode(band_hashes(bands, num_hashes)).alias("band", "bucket"),
    )

    # LEFT stream-static joins: a doc with no bucket collision (or an
    # empty corpus) keeps a null candidate row and still reaches the
    # output as is_dup = 0
    cand = new_banded.join(corpus_banded, ["band", "bucket"], "left")
    joined = cand.join(sh_old, "_old_id", "left")
    inter = F.size(F.array_intersect(F.col("_sh_n"), F.col("_sh_o")))
    union = (F.size("_sh_n") + F.col("_sz_o") - inter).cast("int")
    jac = F.when(
        F.col("_old_id").isNull(), F.lit(None).cast("double")
    ).when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
    scored = joined.select(
        F.col(id_col).alias("_id"),
        F.col("_old_id"),
        jac.alias("_jac"),
    )

    id_type = stream.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("is_dup", T.IntegerType()),
        T.StructField("dup_of", id_type),
        T.StructField("jaccard", T.DoubleType()),
    ])

    def reduce_best(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did, grp in pdf.groupby("_id", sort=False):
                ok = grp[grp["_jac"] >= threshold]
                if len(ok):
                    # best = (jaccard desc, old id asc) — the batch
                    # operator's exact tie rule
                    best = ok.sort_values(
                        ["_jac", "_old_id"], ascending=[False, True],
                        kind="mergesort",
                    ).iloc[0]
                    rows.append((did, 1, best["_old_id"],
                                 round(float(best["_jac"]), 6)))
                else:
                    rows.append((did, 0, None, None))
            yield pd.DataFrame(
                rows, columns=[id_col, "is_dup", "dup_of", "jaccard"]
            )

    # repartition(id) is a stateless per-micro-batch exchange: it
    # co-locates one doc's candidate rows so the pandas groupby above
    # is a complete per-doc reduction without any streaming aggregation
    return scored.repartition(F.col("_id")).mapInPandas(
        reduce_best, schema=out_schema
    )
