"""xe_curate — the turnkey corpus-curation CLI over the datapipe
operators, the data-pipeline analog of the reference's offline tools
(xemkgeodb/xemoclone run a whole job from argv; this runs a whole
curation pass).

    python scripts/xe_curate.py \
        --input  /root/testdata/sf0.001 \
        --output /tmp/curated \
        --steps  decompress,exact_dedup,quality,neardup,substr_dedup,decontaminate,split \
        [--eval-input DIR] [--threshold 0.7] [--quality-min 0.3] \
        [--splits train=0.95,val=0.05] [--report]

Steps (each optional, run in the listed canonical order regardless of
argv order; every step is the operator already proven by the driver
gate / oracle suite):

  warc          — the input is (source_id, content) WARC shards:
                  every HTTP 2xx response becomes a doc row with
                  doc_id = source_id * 10^6 + record index (needs
                  source_id < 4294 to stay in the id-permutation
                  domain — the split/sampling guards raise loudly
                  past it; supply your own ids beyond that);
                  undecompressable/truncated files are counted and
                  quarantined whole, per the WARC walker contract
  jsonl         — the input is (source_id, content) JSONL shards
                  (.jsonl / .jsonl.gz): parse every line into typed
                  doc rows per --jsonl-schema, count and drop the
                  quarantined malformed lines
  url_dedup     — keep the lowest-id doc per CANONICAL URL
                  (datapipe.dedup.url_dedup over target_uri/url —
                  scheme/fragment/userinfo/www/default-port stripped,
                  tracking params dropped, query params sorted;
                  RefinedWeb's first dedup stage, before any text
                  work). Docs with NULL/empty URLs carry no
                  provenance and are dropped
  decompress    — gzip/zlib binary ``content`` column -> text
                  (datapipe.text.decompress_text); no-op when the
                  input already has a text column
  html          — treat ``text`` as HTML and extract the prose
                  (datapipe.text.extract_html_text): strips head/
                  script/style/comments/tags, decodes the entity
                  subset, adds a ``title`` column — the step between
                  a crawl ingest and every text-quality rule
  lines         — drop repeated non-blank lines WITHIN each document
                  (datapipe.text.dedup_lines — the RefinedWeb
                  intra-page boilerplate rule; blank separators stay)
  common_lines  — strip CORPUS-frequency boilerplate lines (C4 /
                  RefinedWeb line-level corrections): any non-blank
                  line appearing in >= --min-line-docs distinct
                  documents is removed from every document, first
                  copy included (datapipe.text.strip_common_lines);
                  rows are kept, text rewritten
  exact_dedup   — keep each exact text's lowest-id copy
  quality       — Gopher-style rules + composite score cut
  classify      — learned quality filter: score every doc under a
                  hashed linear model (hash_linear_classify, crc32
                  gram buckets) and keep docs whose argmax label
                  is in --classifier-keep; the model is loaded from
                  --classifier-model when that path exists, else
                  fitted (hash_nb_fit) on --classifier-target's
                  labeled documents.parquet and saved to
                  --classifier-model for reuse. Empty docs carry no
                  gram evidence and are dropped (the classifier
                  contract)
  ppl_bucket    — the CCNet perplexity split (Wenzek et al. 2020
                  §4.3): score every doc with an add-0.5-smoothed
                  bigram LM trained on --ppl-target's
                  documents.parquet (the published recipe trains on
                  Wikipedia — point it at a clean corpus), split each
                  language into head/middle/tail by its OWN ppl
                  terciles (quantile_bucket; one global split when the
                  input has no lang column), and keep the --ppl-keep
                  bands (default head,middle — the common choice).
                  Docs with < 2 tokens carry no ppl evidence and are
                  dropped (the classify-step contract)
  neardup       — MinHash-LSH candidates -> exact-Jaccard verify ->
                  connected duplicate classes -> keep one per class
  substr_dedup  — excise every repeated --substr-len-char window from
                  all but its globally first occurrence (Lee et al.
                  2022 ExactSubstr; rows kept, text rewritten)
  decontaminate — drop docs sharing 5-gram shingles with --eval-input
  dsir          — keep the --dsir-keep docs whose hashed-n-gram bags
                  look most like --dsir-target (DSIR importance
                  selection; runs after cleaning, before split)
  split         — deterministic hash split into named fractions

Writes ``<output>/documents.parquet`` plus, with ``--report``, a
one-line JSON of per-step row counts to stdout (machine-parseable,
like bench.py); ``--report-card`` appends the per-language corpus
report card (docs / exact dups / quality passes / token totals — the
same rollup the driver gate oracles as ``corpus_report``). Exit code 0
on success.
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, "/root/repo")

CANONICAL = [
    "warc", "jsonl", "url_dedup", "decompress", "html", "lines",
    "common_lines", "exact_dedup", "quality", "classify", "ppl_bucket",
    "neardup", "substr_dedup", "decontaminate", "dsir", "split",
]


def warc_doc_id():
    """doc_id = source_id * 1e6 + rec_index as a guarded Column: both
    factors are range-checked or the id is corrupt, and BOTH raise
    per-row (r11 — only rec_index's upper bound did before; an
    oversized source_id silently escaped the documented
    id-permutation domain and could overflow a 32-bit source_id
    column in the multiply, so the product is computed in long, and a
    NEGATIVE factor from a corrupt walker would collide into a lower
    source's id space just as silently). rec_index outside [0, 1e6)
    collides with a neighboring source's id space (breaking
    exact_dedup's lowest-id-wins and the hash split); source_id
    outside [0, 4294) leaves the downstream id-permutation domain the
    split/sampling guards document."""
    from pyspark.sql import functions as F

    return F.when(
        ~F.col("rec_index").between(0, 999_999),
        F.raise_error(F.concat(
            F.lit("warc rec_index="),
            F.col("rec_index").cast("string"),
            F.lit(" outside [0, 1e6) — doc_id would collide into "
                  "another source's id space; split the shard or "
                  "raise the id stride"),
        )).cast("long"),
    ).when(
        ~F.col("source_id").between(0, 4293),
        F.raise_error(F.concat(
            F.lit("warc source_id="),
            F.col("source_id").cast("string"),
            F.lit(" outside the id-permutation domain [0, 4294) — "
                  "supply your own doc ids beyond it"),
        )).cast("long"),
    ).otherwise(
        F.col("source_id").cast("long") * 1_000_000
        + F.col("rec_index").cast("long")
    ).alias("doc_id")


def parse_splits(spec: str) -> dict[str, float]:
    out = {}
    for part in spec.split(","):
        name, frac = part.split("=")
        out[name.strip()] = float(frac)
    if abs(sum(out.values()) - 1.0) > 1e-9:
        raise SystemExit(f"splits must sum to 1.0: {spec!r}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="xe_curate", description=__doc__)
    ap.add_argument("--input", required=True,
                    help="directory holding documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--steps", default="exact_dedup,quality,neardup,split")
    ap.add_argument("--eval-input", default=None,
                    help="eval-set dir for decontaminate")
    ap.add_argument("--threshold", type=float, default=0.7,
                    help="near-dup Jaccard threshold")
    ap.add_argument("--quality-min", type=float, default=0.3)
    ap.add_argument("--classifier-target", default=None,
                    help="labeled corpus dir (documents.parquet with "
                         "--classifier-label) to fit the classify "
                         "step's model on")
    ap.add_argument("--classifier-label", default="lang",
                    help="label column in --classifier-target")
    ap.add_argument("--classifier-model", default=None,
                    help="model parquet path: loaded when it exists, "
                         "else the freshly fitted model is saved there "
                         "for reuse")
    ap.add_argument("--classifier-keep", default=None,
                    help="comma-separated argmax labels the classify "
                         "step keeps")
    ap.add_argument("--min-line-docs", type=int, default=5,
                    help="common_lines step: a non-blank line in this "
                         "many distinct docs is boilerplate")
    ap.add_argument("--ppl-target", default=None,
                    help="clean-corpus dir (documents.parquet) to "
                         "train the ppl_bucket step's bigram LM on")
    ap.add_argument("--ppl-keep", default="head,middle",
                    help="comma-separated perplexity bands the "
                         "ppl_bucket step keeps (head = most fluent)")
    ap.add_argument("--substr-len", type=int, default=32,
                    help="window length for the substr_dedup stage")
    ap.add_argument("--jsonl-schema",
                    default="doc_id long, lang string, text string",
                    help="record schema for the jsonl ingest step")
    ap.add_argument("--dsir-target", default=None,
                    help="target-corpus dir for the dsir step")
    ap.add_argument("--dsir-keep", type=int, default=None,
                    help="documents to keep in the dsir step")
    ap.add_argument("--splits", default="train=0.95,val=0.05")
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--report-card", action="store_true",
                    help="with --report: append the per-language corpus "
                         "report card (docs/dups/quality/tokens)")
    ap.add_argument("--master", default="local[*]")
    args = ap.parse_args(argv)

    requested = [s.strip() for s in args.steps.split(",") if s.strip()]
    unknown = set(requested) - set(CANONICAL)
    if unknown:
        raise SystemExit(f"unknown steps: {sorted(unknown)}")
    # steps always RUN in canonical order; argv order is not execution
    # order (and the report reflects what ran)
    steps = [st for st in CANONICAL if st in requested]
    if "decontaminate" in steps and not args.eval_input:
        raise SystemExit("decontaminate requires --eval-input")
    if "dsir" in steps and not (args.dsir_target and args.dsir_keep):
        raise SystemExit("dsir requires --dsir-target and --dsir-keep")
    if "classify" in steps:
        if not args.classifier_keep:
            raise SystemExit("classify requires --classifier-keep")
        if not (args.classifier_model or args.classifier_target):
            raise SystemExit(
                "classify requires --classifier-model (saved) or "
                "--classifier-target (fit)"
            )
    ppl_bands: list[str] = []
    if "ppl_bucket" in steps:
        if not args.ppl_target:
            raise SystemExit("ppl_bucket requires --ppl-target")
        # parsed ONCE here; the step body uses this validated list
        ppl_bands = [b.strip() for b in args.ppl_keep.split(",")
                     if b.strip()]
        bad = set(ppl_bands) - {"head", "middle", "tail"}
        if bad or not ppl_bands:
            raise SystemExit(
                f"--ppl-keep bands must be head/middle/tail: {args.ppl_keep!r}"
            )
    if "warc" in steps and "jsonl" in steps:
        raise SystemExit("warc and jsonl are alternative ingests — pick one")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from xenoeye_spark.pyworker import use_daemon

    spark = (
        use_daemon(SparkSession.builder).master(args.master)
        .appName("xe_curate")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    docs = spark.read.parquet(f"{args.input}/documents.parquet")
    counts = {"input": docs.count()}
    last = counts["input"]

    if "warc" in steps:
        from xenoeye_spark.datapipe.warc import warc_records

        missing = {"source_id", "content"} - set(docs.columns)
        if missing:
            raise SystemExit(
                f"warc step needs shard columns {sorted(missing)}"
            )
        recs = warc_records(docs, on_error="null")
        counts["warc_quarantined_files"] = (
            recs.filter("rec_index = -1").count()
        )
        docs = (
            recs.filter(
                (F.col("warc_type") == "response")
                & F.col("http_status").between(200, 299)
            )
            .select(
                warc_doc_id(),
                "source_id", "target_uri",
                F.col("payload_text").alias("text"),
            )
        )
        counts["warc"] = last = docs.count()

    if "jsonl" in steps:
        from xenoeye_spark.datapipe.text import jsonl_documents

        missing = {"source_id", "content"} - set(docs.columns)
        if missing:
            raise SystemExit(
                f"jsonl step needs shard columns {sorted(missing)}"
            )
        parsed = jsonl_documents(docs, args.jsonl_schema, on_error="null")
        if "doc_id" not in parsed.columns:
            raise SystemExit("--jsonl-schema must include doc_id")
        counts["jsonl_malformed"] = parsed.filter("is_malformed").count()
        docs = parsed.filter(~F.col("is_malformed")).drop("is_malformed")
        counts["jsonl"] = last = docs.count()

    if "url_dedup" in steps:
        from xenoeye_spark.datapipe.dedup import url_dedup

        ucol = ("target_uri" if "target_uri" in docs.columns
                else "url" if "url" in docs.columns else None)
        if ucol is None:
            raise SystemExit(
                "url_dedup step needs a target_uri or url column"
            )
        keep = url_dedup(docs, url_col=ucol).select(
            F.col("keep_id").alias("doc_id")
        )
        docs = docs.join(keep, "doc_id", "left_semi")
        counts["url_dedup"] = last = docs.count()

    if "decompress" in steps and "content" in docs.columns:
        from xenoeye_spark.datapipe.text import decompress_text

        text = decompress_text(docs)
        docs = docs.drop("content", "text").join(text, "doc_id")
        counts["decompress"] = last = docs.count()

    if "html" in steps:
        from xenoeye_spark.datapipe.text import extract_html_text

        prose = extract_html_text(
            docs.select("doc_id", F.col("text").alias("html"))
        ).select("doc_id", "title", "text")
        docs = docs.drop("text", "title").join(prose, "doc_id")
        counts["html"] = last = docs.count()

    if "lines" in steps:
        from xenoeye_spark.datapipe.text import dedup_lines

        rewritten = dedup_lines(docs).select("doc_id", "text")
        docs = docs.drop("text").join(rewritten, "doc_id")
        counts["lines"] = last = docs.count()

    if "common_lines" in steps:
        from xenoeye_spark.datapipe.text import strip_common_lines

        rewritten = strip_common_lines(
            docs, min_docs=args.min_line_docs
        ).select("doc_id", "text")
        docs = docs.drop("text").join(rewritten, "doc_id")
        # rows are kept (text rewritten in place), like substr_dedup
        counts["common_lines"] = last = docs.count()

    if "exact_dedup" in steps:
        from xenoeye_spark.datapipe.dedup import exact_dedup

        keep = exact_dedup(docs).select(
            F.col("keep_id").alias("doc_id")
        )
        docs = docs.join(keep, "doc_id", "left_semi")
        counts["exact_dedup"] = last = docs.count()

    if "quality" in steps:
        from xenoeye_spark.datapipe.text import gopher_quality, text_stats

        good = (
            gopher_quality(docs).filter("gopher_pass").select("doc_id")
        )
        scored = text_stats(docs).filter(
            F.col("quality_score") >= args.quality_min
        ).select("doc_id")
        docs = docs.join(good, "doc_id", "left_semi").join(
            scored, "doc_id", "left_semi"
        )
        counts["quality"] = last = docs.count()

    if "classify" in steps:
        import os

        from xenoeye_spark.datapipe.ranking import (
            hash_linear_classify, hash_nb_fit,
        )

        # the fit tables carry hash_fn/n_buckets provenance, so a saved
        # model fitted with other settings raises instead of mis-scoring
        model = None
        if args.classifier_model and os.path.exists(args.classifier_model):
            model = spark.read.parquet(args.classifier_model)
        if model is None:
            lab = spark.read.parquet(
                f"{args.classifier_target}/documents.parquet"
            )
            model = hash_nb_fit(lab, args.classifier_label)
            if args.classifier_model:
                model.write.mode("overwrite").parquet(
                    args.classifier_model
                )
                model = spark.read.parquet(args.classifier_model)
        allow = [s.strip() for s in args.classifier_keep.split(",")
                 if s.strip()]
        keep = (
            hash_linear_classify(docs, model)
            .filter(F.col("label").isin(allow))
            .select("doc_id")
        )
        docs = docs.join(keep, "doc_id", "left_semi")
        counts["classify"] = last = docs.count()

    if "ppl_bucket" in steps:
        from xenoeye_spark.datapipe.ranking import bigram_lm_score
        from xenoeye_spark.operators.summary import quantile_bucket

        tgt = spark.read.parquet(f"{args.ppl_target}/documents.parquet")
        scored = bigram_lm_score(docs, tgt, k=0.5).select(
            "doc_id", "lm_ppl"
        )
        # CCNet splits per language; corpora without a lang column
        # split globally (one constant group)
        if "lang" in docs.columns:
            scored = scored.join(docs.select("doc_id", "lang"), "doc_id")
            gkeys = ["lang"]
        else:
            scored = scored.withColumn("_all", F.lit(1))
            gkeys = ["_all"]
        keep = (
            quantile_bucket(scored, gkeys, "lm_ppl")
            # NULL ppl (< 2 tokens) -> NULL bucket -> dropped by isin:
            # no evidence, no keep (the classify-step contract)
            .filter(F.col("bucket").isin(ppl_bands))
            .select("doc_id")
        )
        docs = docs.join(keep, "doc_id", "left_semi")
        counts["ppl_bucket"] = last = docs.count()

    if "neardup" in steps:
        from xenoeye_spark.datapipe.dedup import (
            lsh_candidate_pairs, minhash_signatures,
            ngram_jaccard_pairs,
        )
        from xenoeye_spark.datapipe.graph import dedup_groups

        sigs = minhash_signatures(docs, num_hashes=64)
        cand = lsh_candidate_pairs(sigs, bands=16, sig_len=64)
        pairs = ngram_jaccard_pairs(
            docs, n=3, threshold=args.threshold, candidates=cand
        )
        dupes = dedup_groups(pairs).filter(
            "doc_id != keep_id"
        ).select("doc_id")
        docs = docs.join(dupes, "doc_id", "left_anti")
        counts["neardup"] = last = docs.count()

    if "substr_dedup" in steps:
        from xenoeye_spark.datapipe.dedup import substring_dedup

        rewritten = substring_dedup(
            docs, length=args.substr_len, return_text=True
        ).select("doc_id", "text_out")
        docs = (
            docs.drop("text")
            .join(rewritten, "doc_id")
            .withColumnRenamed("text_out", "text")
        )
        # rows are kept (text rewritten in place) — the count proves it
        counts["substr_dedup"] = last = docs.count()

    if "decontaminate" in steps:
        from xenoeye_spark.datapipe.dedup import contamination_check

        ev = spark.read.parquet(f"{args.eval_input}/documents.parquet")
        dirty = (
            contamination_check(docs, ev, n=5)
            .filter("is_contaminated = 1")
            .select("doc_id")
        )
        docs = docs.join(dirty, "doc_id", "left_anti")
        counts["decontaminate"] = last = docs.count()

    if "dsir" in steps:
        from xenoeye_spark.datapipe.sampling import dsir_weights

        tgt = spark.read.parquet(f"{args.dsir_target}/documents.parquet")
        keep = (
            dsir_weights(docs, tgt)
            .orderBy(F.col("logw_micro").desc(), F.col("doc_id").asc())
            .limit(args.dsir_keep)
            .select("doc_id")
        )
        docs = docs.join(keep, "doc_id", "left_semi")
        counts["dsir"] = last = docs.count()

    if "split" in steps:
        from xenoeye_spark.datapipe.sampling import hash_split

        docs = hash_split(docs, parse_splits(args.splits))
        counts["split"] = last = docs.count()

    docs.write.mode("overwrite").parquet(
        f"{args.output}/documents.parquet"
    )
    # `last` tracks the count of the LAST step that actually ran —
    # a listed-but-skipped step (decompress on an already-text input)
    # records no count, and argv order never indexes the dict
    counts["output"] = last
    if args.report:
        out = {"tool": "xe_curate", "steps": steps, "counts": counts}
        if args.report_card and "text" in docs.columns:
            # per-language report card over the CURATED output — the
            # same rollup the driver gate oracles (corpus_report), with
            # n_quality counted against THIS run's --quality-min so the
            # card is consistent with the per-step counts
            from xenoeye_spark.datapipe.text import corpus_report

            card = corpus_report(
                docs, quality_min=args.quality_min
            ).orderBy("lang_guess")
            out["report_card"] = [r.asDict() for r in card.collect()]
        print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
