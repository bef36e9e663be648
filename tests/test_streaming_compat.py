"""Stateless corpus operators on STREAMS: the curation projections
(stats, language id, quality, PII scrub, normalization, chunking,
decompression) are pure expression/Arrow stages, so the same functions
must plan and run unchanged on a streaming DataFrame — the property
that lets xe_curate-style pipelines run over a live ingest. Each case
drives a file stream through the operator and asserts row-for-row
equality with the batch run on the same input."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


def _drive(spark, op, rows_schema, rows, key=lambda r: r[0]):
    src = tempfile.mkdtemp(prefix="scompat_src_")
    ckpt = tempfile.mkdtemp(prefix="scompat_ckpt_")
    bdf = spark.createDataFrame(rows, rows_schema)
    bdf.coalesce(1).write.mode("overwrite").parquet(src + "/d")
    stage = tempfile.mkdtemp(prefix="scompat_stage_")
    for f in glob.glob(os.path.join(src, "d", "*.parquet")):
        shutil.copy(f, os.path.join(stage, os.path.basename(f)))
    stream = spark.readStream.schema(bdf.schema).parquet(stage)
    got: list = []
    q = (op(stream).writeStream
         .foreachBatch(lambda df, e: got.extend(df.collect()))
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    want = op(bdf).collect()
    gset = sorted(map(tuple, got))
    wset = sorted(map(tuple, want))
    assert gset == wset, (gset[:3], wset[:3])
    assert gset, "operator emitted nothing"


DOCS_SCHEMA = "doc_id long, text string"
DOC_ROWS = [
    (0, "the quick brown fox jumps over the lazy dog again and again"),
    (1, "der schnelle braune fuchs springt und springt und springt"),
    (2, "email me at a@b.com or call 555-123-4567 for details"),
    (3, ""),
    (4, "short"),
]


def test_text_stats_on_stream(spark):
    from xenoeye_spark.datapipe.text import text_stats

    _drive(spark, text_stats, DOCS_SCHEMA, DOC_ROWS)


def test_language_id_on_stream(spark):
    from xenoeye_spark.datapipe.text import language_id

    _drive(spark, language_id, DOCS_SCHEMA, DOC_ROWS)


def test_gopher_quality_on_stream(spark):
    """r12 optimization flipped gopher_quality to a zero-shuffle
    per-row projection (the top-bigram count is now an in-row
    sorted-run fold), so it runs on a stream like the other stateless
    text operators — exactly the flip the old boundary test
    documented it should take."""
    from xenoeye_spark.datapipe.text import gopher_quality

    _drive(spark, gopher_quality, DOCS_SCHEMA, DOC_ROWS)


def test_pii_scrub_on_stream(spark):
    from xenoeye_spark.datapipe.text import pii_scrub

    _drive(spark, pii_scrub, DOCS_SCHEMA, DOC_ROWS)


def test_chunk_documents_on_stream(spark):
    from xenoeye_spark.datapipe.text import chunk_documents

    _drive(spark, lambda df: chunk_documents(df, chunk=4, stride=3),
           DOCS_SCHEMA, DOC_ROWS)


def test_decompress_text_on_stream(spark):
    import gzip

    from xenoeye_spark.datapipe.text import decompress_text

    rows = [(i, bytearray(gzip.compress(t.encode(), mtime=0)))
            for i, t in DOC_ROWS if t]
    _drive(spark, decompress_text, "doc_id long, content binary", rows)


def test_simhash_expr_on_stream(spark):
    from xenoeye_spark.datapipe.text import simhash60

    _drive(spark, simhash60, DOCS_SCHEMA, DOC_ROWS)


def test_warc_documents_on_stream(spark):
    """r7: WARC ingest is a stateless mapInPandas projection, so
    warc_documents runs unchanged over a stream of (source_id, WARC
    binary) rows — the live-crawl ingest shape. Batch == stream
    row-for-row, including the quarantine of a truncated shard."""
    from xenoeye_spark.datapipe.warc import (
        encode_warc, http_response_bytes, warc_documents,
    )

    rows = []
    for i in range(8):
        body = f"streamed crawl doc {i}".encode()
        data = encode_warc(
            [({"WARC-Type": "warcinfo"}, b"software: xe\r\n"),
             ({"WARC-Type": "response",
               "WARC-Target-URI": f"http://s/{i}"},
              http_response_bytes(body, status=404 if i == 6 else 200))],
            per_record_gzip=(i % 2 == 0),
        )
        if i == 7:
            data = data[:35]
        rows.append((i, bytearray(data)))

    _drive(
        spark,
        lambda df: warc_documents(df, on_error="null"),
        "source_id long, content binary",
        rows,
    )


def test_curation_pipeline_end_to_end_on_stream(spark):
    """r8 (extended r9 with the html step): the shape a real crawl
    pipeline runs — WARC shards arrive on a file stream, and ONE
    foreachBatch closure runs the full batch composition per
    micro-batch: warc_documents -> extract_html_text -> gopher_quality
    cut -> exact_dedup -> pack_sequences. Stateful stages (dedup's
    groupBy, packing's window) are legal INSIDE foreachBatch because
    each micro-batch is a plain batch frame; with the whole corpus in
    one availableNow trigger the result must be row-identical to
    running the same composition in batch. Docs 0 and 2 share prose
    under DIFFERENT markup — only the extraction step makes them exact
    duplicates, so the dedup count proves html ran."""
    from xenoeye_spark.datapipe.dedup import exact_dedup
    from xenoeye_spark.datapipe.sampling import pack_sequences
    from xenoeye_spark.datapipe.text import (
        extract_html_text, gopher_quality,
    )
    from xenoeye_spark.datapipe.warc import (
        encode_warc, http_response_bytes, warc_documents,
    )

    bodies = {
        0: "the quick brown fox jumps over the lazy dog near the river",
        1: "spark folds affine maps over sorted event arrays at scale",
        2: "the quick brown fox jumps over the lazy dog near the river",
        3: "xx xx xx xx xx xx xx xx xx xx xx xx",          # fails gopher
        4: "curation pipelines stream shards through batch operators",
        5: "tiny",                                          # fails gopher
    }
    markup = {
        0: '<html><head><title>A</title></head><body><p>{}</p></body></html>',
        2: '<div class="x"><b>{}</b><!-- alt markup --></div>',
    }
    rows = []
    for sid in range(3):  # two docs per shard
        recs = [({"WARC-Type": "warcinfo"}, b"software: xe\r\n")]
        for j in (0, 1):
            i = sid * 2 + j
            page = markup.get(i, "<body><p>{}</p></body>").format(bodies[i])
            recs.append((
                {"WARC-Type": "response",
                 "WARC-Target-URI": f"http://c/{i}"},
                http_response_bytes(page.encode()),
            ))
        rows.append((sid, bytearray(encode_warc(
            recs, per_record_gzip=(sid % 2 == 0)))))

    def curate(files_df):
        docs = warc_documents(files_df, on_error="null").select(
            F.monotonically_increasing_id().alias("_rid"),
            "source_id", "target_uri", "text", "body_len",
        )
        # deterministic doc ids independent of partitioning: order by
        # (source_id, uri) — monotonically_increasing_id is partition-
        # dependent and would break the stream/batch comparison
        docs = docs.select(
            F.md5(F.concat_ws("|", "source_id", "target_uri"))
            .alias("doc_id"),
            "target_uri", "text", "body_len",
        )
        prose = extract_html_text(
            docs.select("doc_id", F.col("text").alias("html"))
        ).select("doc_id", "text")
        docs = docs.drop("text").join(prose, "doc_id")
        q = gopher_quality(docs, id_col="doc_id")
        kept = docs.join(
            q.filter(F.col("gopher_pass")).select("doc_id"), "doc_id"
        )
        keep = exact_dedup(kept, id_col="doc_id").select(
            F.col("keep_id").alias("doc_id")
        )
        deduped = kept.join(keep, "doc_id", "left_semi")
        packed = pack_sequences(
            deduped.withColumn("n_tok", F.size(F.split("text", r"\s+"))),
            capacity=16, len_col="n_tok", id_col="doc_id",
        )
        return packed.select(
            "doc_id", "target_uri", "n_tok", "bin_id", "bin_offset"
        )

    files_schema = "source_id long, content binary"
    bdf = spark.createDataFrame(rows, files_schema)
    want = sorted(map(tuple, curate(bdf).collect()))
    assert len(want) == 3          # 6 docs - 2 quality - 1 exact dup
    assert {w[3] for w in want} == {0, 1}   # packed into two 16-cap bins

    src = tempfile.mkdtemp(prefix="curate_src_")
    ckpt = tempfile.mkdtemp(prefix="curate_ckpt_")
    bdf.coalesce(1).write.mode("overwrite").parquet(src + "/d")
    stage = tempfile.mkdtemp(prefix="curate_stage_")
    for f in glob.glob(os.path.join(src, "d", "*.parquet")):
        shutil.copy(f, os.path.join(stage, os.path.basename(f)))
    stream = spark.readStream.schema(files_schema).parquet(stage)
    got: list = []
    q = (stream.writeStream
         .foreachBatch(lambda df, e: got.extend(curate(df).collect()))
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert sorted(map(tuple, got)) == want


def test_extract_html_text_on_stream(spark):
    """r9: HTML extraction is a pure JVM projection, so the same
    function plans and runs unchanged on a stream (xe_curate's html
    step over a live crawl ingest)."""
    from xenoeye_spark.datapipe.text import extract_html_text

    rows = [
        (0, "<html><head><title>T</title></head><body><p>a b</p>"
            "<a href='u'>l</a></body></html>"),
        (1, "<p>x &amp; y</p><!-- c -->"),
        (2, ""),
    ]
    _drive(spark, extract_html_text, "doc_id long, html string", rows)


def test_dedup_lines_on_stream(spark):
    """r9: within-doc line dedup is row-local expressions only, so it
    runs unchanged on a stream."""
    from xenoeye_spark.datapipe.text import dedup_lines

    rows = [
        (0, "nav\nhome\nbody\nnav\n\nmore"),
        (1, "a\na\na"),
        (2, ""),
    ]
    _drive(spark, dedup_lines, DOCS_SCHEMA, rows)


def test_jsonl_documents_on_stream(spark):
    """r9: JSONL ingest is decompress (stateless mapInPandas) + narrow
    JVM parse stages, so shards can arrive on a live file stream."""
    import gzip

    from xenoeye_spark.datapipe.text import jsonl_documents

    rows = [
        (0, bytearray(b'{"doc_id": 1, "text": "a"}\n{"doc_id": 2\n')),
        (1, bytearray(gzip.compress(b'{"doc_id": 3, "text": "b"}\n',
                                    mtime=0))),
    ]
    def op(df):
        # _drive sorts raw tuples, so map the quarantine NULLs to
        # sortable sentinels (the quarantine semantics themselves are
        # test_round9_ops' job; this test is stream/batch parity)
        out = jsonl_documents(df, "doc_id long, text string",
                              on_error="null")
        return out.select(
            F.coalesce("doc_id", F.lit(-1)).alias("doc_id"),
            F.coalesce("text", F.lit("")).alias("text"),
            "source_id", "is_malformed",
        )

    _drive(spark, op, "source_id long, content binary", rows)
