"""xe_curate CLI: the turnkey curation runner over proven operators —
step chaining, counts report, decontaminate wiring, and argv errors."""

from __future__ import annotations

import json

import pytest

from scripts.xe_curate import main, parse_splits

SF_DIR = "/root/testdata/sf0.001"


def test_curate_end_to_end(spark, tmp_path, capsys):
    out = tmp_path / "curated"
    rc = main([
        "--input", SF_DIR, "--output", str(out),
        "--steps", "exact_dedup,quality,neardup,split",
        "--threshold", "0.5", "--report",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    c = rep["counts"]
    assert c["input"] >= c["exact_dedup"] >= c["quality"] >= c["neardup"]
    assert c["neardup"] < c["input"]          # sf0.001 plants near-dups
    df = spark.read.parquet(str(out / "documents.parquet"))
    assert df.count() == c["split"] == c["neardup"]
    splits = {r.split for r in df.select("split").distinct().collect()}
    assert splits <= {"train", "val"} and "train" in splits


def test_curate_decontaminate_self_is_total(spark, tmp_path):
    """Decontaminating a corpus against ITSELF drops every doc with at
    least one shingle (each doc shares all its shingles with the eval
    copy) — a strong end-to-end wiring check."""
    out = tmp_path / "c2"
    rc = main([
        "--input", SF_DIR, "--output", str(out),
        "--steps", "decontaminate", "--eval-input", SF_DIR,
    ])
    assert rc == 0
    df = spark.read.parquet(str(out / "documents.parquet"))
    # only docs too short to carry a single 5-gram survive
    assert df.count() == 0 or df.selectExpr(
        "max(size(filter(split(trim(text), '\\\\s+'), t -> t != '')))"
    ).collect()[0][0] < 5


def test_curate_argv_errors():
    with pytest.raises(SystemExit):
        main(["--input", SF_DIR, "--output", "/tmp/x",
              "--steps", "nonsense"])
    with pytest.raises(SystemExit):
        main(["--input", SF_DIR, "--output", "/tmp/x",
              "--steps", "decontaminate"])      # no --eval-input
    with pytest.raises(SystemExit):
        parse_splits("train=0.5,val=0.1")       # doesn't sum to 1


def test_curate_substr_dedup_rewrites_in_place(spark, tmp_path, capsys):
    """r7: the substr_dedup stage keeps every row and rewrites text —
    total corpus chars shrink (sf0.001 plants near-dup texts that share
    32-char windows), no doc disappears, and the output schema still
    carries the text column downstream steps expect."""
    from pyspark.sql import functions as F

    out = tmp_path / "c3"
    rc = main([
        "--input", SF_DIR, "--output", str(out),
        "--steps", "substr_dedup", "--report",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    c = rep["counts"]
    assert c["substr_dedup"] == c["input"] == c["output"]
    got = spark.read.parquet(str(out / "documents.parquet"))
    before = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    chars = lambda df: df.agg(  # noqa: E731
        F.sum(F.length("text"))
    ).collect()[0][0]
    assert got.count() == before.count()
    assert chars(got) < chars(before)


def test_report_card(tmp_path, capsys):
    """r8: --report-card appends the per-language rollup (the oracled
    corpus_report shape) computed over the CURATED output."""
    import json

    from scripts.xe_curate import main

    rc = main([
        "--input", "/root/testdata/sf0.001",
        "--output", str(tmp_path / "out"),
        "--steps", "exact_dedup",
        "--report", "--report-card",
        "--master", "local[4]",
    ])
    assert rc == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    rep = json.loads(line)
    card = rep["report_card"]
    assert card and all(
        set(r) == {"lang_guess", "n_docs", "n_dup_docs", "n_quality",
                   "total_tokens", "max_tokens"} for r in card
    )
    # post-exact-dedup output has zero remaining exact dups by definition
    assert all(r["n_dup_docs"] == 0 for r in card)
    assert sum(r["n_docs"] for r in card) == rep["counts"]["output"]


def test_curate_html_step(spark, tmp_path, capsys):
    """The html step strips markup BEFORE dedup/quality: two pages with
    identical prose but different markup become exact duplicates, and a
    title column appears."""
    src = tmp_path / "htmlsrc"
    rows = [
        (0, "<html><head><title>A</title></head><body>"
            "<p>same prose here</p></body></html>"),
        (1, "<div class='x'><b>same</b> prose   here</div>"),
        (2, "<script>junk()</script><p>other prose entirely</p>"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(src / "documents.parquet")
    )
    out = tmp_path / "curated_html"
    rc = main([
        "--input", str(src), "--output", str(out),
        "--steps", "html,exact_dedup", "--report",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["counts"]["html"] == 3
    assert rep["counts"]["exact_dedup"] == 2   # 0 and 1 collapse
    df = spark.read.parquet(str(out / "documents.parquet"))
    got = {r.doc_id: (r.title, r.text) for r in df.collect()}
    assert got[0] == ("A", "same prose here")
    assert 1 not in got                        # higher-id exact dup
    assert got[2] == ("", "other prose entirely")


def test_curate_dsir_step(spark, tmp_path):
    """The dsir step keeps exactly --dsir-keep docs, all from the input,
    steered toward the target corpus (English target -> the kept set is
    en-heavier than the corpus base rate); missing args raise."""
    tgt = tmp_path / "dsir_tgt"
    spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        "lang = 'en'"
    ).write.parquet(str(tgt / "documents.parquet"))

    out = tmp_path / "curated_dsir"
    rc = main([
        "--input", SF_DIR, "--output", str(out),
        "--steps", "dsir",
        "--dsir-target", str(tgt), "--dsir-keep", "100",
    ])
    assert rc == 0
    kept = spark.read.parquet(str(out / "documents.parquet"))
    assert kept.count() == 100
    en_frac = kept.filter("lang = 'en'").count() / 100
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base_frac = (base.filter("lang = 'en'").count() / base.count())
    assert en_frac > base_frac          # the selection steers

    with pytest.raises(SystemExit, match="dsir requires"):
        main(["--input", SF_DIR, "--output", str(out),
              "--steps", "dsir"])


def test_curate_jsonl_ingest_step(spark, tmp_path, capsys):
    """A .jsonl.gz shard directory runs straight through the pipeline:
    the jsonl step parses typed rows, counts and drops the quarantined
    malformed lines, and the rest of the steps see ordinary docs."""
    import gzip

    src = tmp_path / "shards"
    shard0 = (
        b'{"doc_id": 1, "lang": "en", "text": "good prose here"}\n'
        b'{"doc_id": 2, "lang": "en"\n'                   # malformed
        b'{"doc_id": 3, "lang": "en", "text": "good prose here"}\n'
    )
    shard1 = gzip.compress(
        b'{"doc_id": 4, "lang": "fr", "text": "autre texte ici"}\n',
        mtime=0,
    )
    spark.createDataFrame(
        [(0, bytearray(shard0)), (1, bytearray(shard1))],
        "source_id long, content binary",
    ).write.parquet(str(src / "documents.parquet"))

    out = tmp_path / "curated_jsonl"
    rc = main([
        "--input", str(src), "--output", str(out),
        "--steps", "jsonl,exact_dedup", "--report",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    c = rep["counts"]
    assert c == {"input": 2, "jsonl_malformed": 1, "jsonl": 3,
                 "exact_dedup": 2, "output": 2}
    df = spark.read.parquet(str(out / "documents.parquet"))
    assert {r.doc_id for r in df.collect()} == {1, 4}   # 3 = exact dup

    with pytest.raises(SystemExit, match="shard columns"):
        main(["--input", SF_DIR, "--output", str(out),
              "--steps", "jsonl"])


def test_curate_lines_step(spark, tmp_path):
    """The lines step rewrites each doc in place (row count unchanged,
    repeated non-blank lines dropped, blank separators kept)."""
    src = tmp_path / "linesrc"
    spark.createDataFrame(
        [(0, "nav\nbody one\nnav\n\nbody two"), (1, "a\na")],
        "doc_id long, text string",
    ).write.parquet(str(src / "documents.parquet"))
    out = tmp_path / "curated_lines"
    rc = main([
        "--input", str(src), "--output", str(out), "--steps", "lines",
    ])
    assert rc == 0
    got = {r.doc_id: r.text for r in
           spark.read.parquet(str(out / "documents.parquet")).collect()}
    assert got == {0: "nav\nbody one\n\nbody two", 1: "a"}


def test_curate_warc_step(spark, tmp_path):
    """WARC shards run the whole pass: 2xx responses become docs with
    deterministic ids, 404s drop, a truncated shard is counted and
    quarantined whole, and the html step chains on the extracted
    bodies."""
    from xenoeye_spark.datapipe.warc import encode_warc, http_response_bytes

    def shard(pages, gz):
        recs = [({"WARC-Type": "warcinfo"}, b"software: xe\r\n")]
        for uri, status, body in pages:
            recs.append((
                {"WARC-Type": "response", "WARC-Target-URI": uri},
                http_response_bytes(body.encode(), status=status),
            ))
        return bytearray(encode_warc(recs, per_record_gzip=gz))

    s0 = shard([("http://a/1", 200, "<p>alpha beta</p>"),
                ("http://a/2", 404, "gone"),
                ("http://a/3", 200, "<b>gamma</b> delta")], True)
    s1 = shard([("http://b/1", 200, "<p>epsilon</p>")], False)
    s2 = bytearray(s0[:30])                       # truncated whole file
    src = tmp_path / "warcsrc"
    spark.createDataFrame(
        [(0, s0), (1, s1), (2, s2)], "source_id long, content binary"
    ).write.parquet(str(src / "documents.parquet"))

    out = tmp_path / "curated_warc"
    rc = main([
        "--input", str(src), "--output", str(out),
        "--steps", "warc,html,exact_dedup",
    ])
    assert rc == 0
    got = {r.doc_id: r.text for r in
           spark.read.parquet(str(out / "documents.parquet")).collect()}
    # warcinfo is rec 0; responses are recs 1.. — 404 (rec 2) dropped
    assert got == {1: "alpha beta", 3: "gamma delta", 1000001: "epsilon"}

    with pytest.raises(SystemExit, match="alternative ingests"):
        main(["--input", str(src), "--output", str(out),
              "--steps", "warc,jsonl"])


def test_curate_classify_step_fit_and_save(spark, tmp_path, capsys):
    """r10: the learned quality filter as a CLI step — fit on a
    labeled corpus (here: the corpus itself, lang labels), save the
    model, keep only argmax-en docs; counts stay monotone."""
    out = tmp_path / "c_clf"
    model_path = str(tmp_path / "clf_model.parquet")
    rc = main([
        "--input", SF_DIR, "--output", str(out),
        "--steps", "quality,classify",
        "--classifier-target", SF_DIR,
        "--classifier-model", model_path,
        "--classifier-keep", "en",
        "--report",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    c = rep["counts"]
    assert c["input"] >= c["quality"] >= c["classify"] == c["output"]
    assert 0 < c["classify"] < c["quality"]   # a real cut, not a no-op
    kept = spark.read.parquet(str(out / "documents.parquet"))
    assert kept.count() == c["classify"]
    # the model was persisted with its kernel provenance (crc32, the
    # one gram family)
    model = spark.read.parquet(model_path)
    assert {"label", "bucket", "w_micro", "bias_micro",
            "hash_fn", "n_buckets"} <= set(model.columns)
    provs = model.select("hash_fn", "n_buckets").distinct().collect()
    assert [(r.hash_fn, r.n_buckets) for r in provs] == [("crc32", 1024)]


def test_curate_classify_step_saved_model_reuse(spark, tmp_path, capsys):
    """The fit-once/apply-many split through the CLI: a second run
    loads the saved model (no --classifier-target) and keeps exactly
    the same documents."""
    model_path = str(tmp_path / "clf_model.parquet")
    out1, out2 = tmp_path / "r1", tmp_path / "r2"
    rc = main([
        "--input", SF_DIR, "--output", str(out1),
        "--steps", "classify",
        "--classifier-target", SF_DIR,
        "--classifier-model", model_path,
        "--classifier-keep", "en,fr",
    ])
    assert rc == 0
    rc = main([
        "--input", SF_DIR, "--output", str(out2),
        "--steps", "classify",
        "--classifier-model", model_path,
        "--classifier-keep", "en,fr",
    ])
    assert rc == 0
    ids = lambda p: sorted(  # noqa: E731
        r.doc_id for r in
        spark.read.parquet(str(p / "documents.parquet")).collect()
    )
    got1, got2 = ids(out1), ids(out2)
    assert got1 == got2 and len(got1) > 0


def test_curate_classify_argv_errors():
    with pytest.raises(SystemExit, match="classifier-keep"):
        main(["--input", SF_DIR, "--output", "/tmp/x",
              "--steps", "classify"])
    with pytest.raises(SystemExit, match="classifier-model"):
        main(["--input", SF_DIR, "--output", "/tmp/x",
              "--steps", "classify", "--classifier-keep", "en"])


def test_curate_url_dedup_step(spark, tmp_path):
    """r10: warc ingest -> URL dedup — a re-crawl of the same page
    under a different URL SURFACE (www + trailing slash + utm params)
    keeps only the first-seen doc; the URL-less input errors loudly."""
    from xenoeye_spark.datapipe.warc import encode_warc, http_response_bytes

    def shard(pages):
        recs = [({"WARC-Type": "warcinfo"}, b"software: xe\r\n")]
        for uri, body in pages:
            recs.append((
                {"WARC-Type": "response", "WARC-Target-URI": uri},
                http_response_bytes(body.encode(), status=200),
            ))
        return bytearray(encode_warc(recs, per_record_gzip=False))

    s0 = shard([("http://site.com/a", "first crawl"),
                ("https://other.org/b?z=1&a=2", "page b")])
    s1 = shard([("https://WWW.Site.COM/a/?utm_source=x", "re-crawl"),
                ("http://other.org/b?a=2&z=1", "page b again")])
    src = tmp_path / "warcsrc2"
    spark.createDataFrame(
        [(0, s0), (1, s1)], "source_id long, content binary"
    ).write.parquet(str(src / "documents.parquet"))

    out = tmp_path / "curated_urldedup"
    rc = main([
        "--input", str(src), "--output", str(out),
        "--steps", "warc,url_dedup",
    ])
    assert rc == 0
    got = {r.doc_id: r.target_uri for r in
           spark.read.parquet(str(out / "documents.parquet")).collect()}
    # shard 0's two pages survive; shard 1's are canonical re-crawls
    assert got == {1: "http://site.com/a",
                   2: "https://other.org/b?z=1&a=2"}

    with pytest.raises(SystemExit, match="target_uri or url"):
        main(["--input", SF_DIR, "--output", str(out),
              "--steps", "url_dedup"])


def test_curate_raw_crawl_full_chain(spark, tmp_path, capsys):
    """r10: the full raw-crawl front half in ONE run — warc ingest ->
    URL dedup -> html extraction -> line dedup -> exact dedup ->
    split. Counts monotone, the URL re-crawl collapses before any
    text work, and the output carries the split column."""
    import json as _json

    from xenoeye_spark.datapipe.warc import encode_warc, http_response_bytes

    def shard(pages):
        recs = [({"WARC-Type": "warcinfo"}, b"software: xe\r\n")]
        for uri, body in pages:
            recs.append((
                {"WARC-Type": "response", "WARC-Target-URI": uri},
                http_response_bytes(body.encode(), status=200),
            ))
        return bytearray(encode_warc(recs, per_record_gzip=False))

    body = "<p>alpha beta</p><p>alpha beta</p><p>gamma</p>"
    s0 = shard([("http://site.com/a", body),
                ("https://other.org/b", "<i>unique text</i>")])
    s1 = shard([("https://WWW.Site.COM/a/", body),       # URL re-crawl
                ("http://third.net/c", body)])           # same text, new URL
    src = tmp_path / "crawl"
    spark.createDataFrame(
        [(0, s0), (1, s1)], "source_id long, content binary"
    ).write.parquet(str(src / "documents.parquet"))

    out = tmp_path / "curated_chain"
    rc = main([
        "--input", str(src), "--output", str(out),
        "--steps", "warc,url_dedup,html,lines,exact_dedup,split",
        "--report",
    ])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    c = rep["counts"]
    assert c["warc"] == 4
    assert c["url_dedup"] == 3          # the re-crawl collapsed by URL
    assert c["html"] == c["lines"] == 3
    assert c["exact_dedup"] == 2        # third.net copy collapsed by text
    assert c["split"] == c["output"] == 2
    got = spark.read.parquet(str(out / "documents.parquet"))
    rows = {r.doc_id: (r.text, r.split) for r in got.collect()}
    assert set(rows) == {1, 2}
    # line dedup kept only the first "alpha beta" line... html joins
    # paragraphs with spaces, so the repeat survives AS TEXT unless the
    # page had newlines — assert the extraction instead
    assert rows[1][0] == "alpha beta alpha beta gamma"
    assert rows[2][0] == "unique text"
    assert all(s in ("train", "val") for _, s in rows.values())


def test_curate_ppl_bucket_step(spark, tmp_path, capsys):
    """r11: the CCNet perplexity split as a CLI step — train the
    bigram LM on the corpus itself, keep head+middle per language;
    counts stay monotone and the tail cut is real."""
    out = tmp_path / "c_ppl"
    rc = main([
        "--input", SF_DIR, "--output", str(out),
        "--steps", "quality,ppl_bucket",
        "--ppl-target", SF_DIR,
        "--report",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    c = rep["counts"]
    assert c["input"] >= c["quality"] >= c["ppl_bucket"] == c["output"]
    assert 0 < c["ppl_bucket"] < c["quality"]   # the tail dropped
    kept = spark.read.parquet(str(out / "documents.parquet"))
    assert kept.count() == c["ppl_bucket"]


def test_curate_ppl_bucket_band_distribution(spark, tmp_path, capsys):
    """Band distribution: keeping all three bands retains every
    scoreable doc, and the default head+middle keep lands near 2/3 of
    them (terciles per language, rounding slack for tiny groups)."""
    out_hm, out_all = tmp_path / "hm", tmp_path / "all"
    run = lambda out, keep: main([  # noqa: E731
        "--input", SF_DIR, "--output", str(out),
        "--steps", "ppl_bucket", "--ppl-target", SF_DIR,
        "--ppl-keep", keep, "--report",
    ])
    assert run(out_hm, "head,middle") == 0
    assert run(out_all, "head,middle,tail") == 0
    n = lambda out: spark.read.parquet(  # noqa: E731
        str(out / "documents.parquet")).count()
    n_hm, n_all = n(out_hm), n(out_all)
    assert 0 < n_hm < n_all
    assert 0.5 <= n_hm / n_all <= 0.85
    # head+middle docs are exactly a ppl-prefix per language: every
    # kept doc's ppl is <= every dropped doc's ppl within its lang
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from xenoeye_spark.datapipe.ranking import bigram_lm_score

    ppl = {
        r.doc_id: (r.lang, r.lm_ppl)
        for r in bigram_lm_score(docs, docs, k=0.5)
        .join(docs.select("doc_id", "lang"), "doc_id").collect()
    }
    kept_ids = {r.doc_id for r in spark.read.parquet(
        str(out_hm / "documents.parquet")).select("doc_id").collect()}
    all_ids = {r.doc_id for r in spark.read.parquet(
        str(out_all / "documents.parquet")).select("doc_id").collect()}
    by_lang: dict = {}
    for did in all_ids:
        lang, v = ppl[did]
        by_lang.setdefault(lang, []).append((v, did in kept_ids))
    for lang, rows in by_lang.items():
        kept_v = [v for v, k in rows if k]
        drop_v = [v for v, k in rows if not k]
        if kept_v and drop_v:
            assert max(kept_v) <= min(drop_v), lang


def test_curate_ppl_bucket_argv_errors():
    with pytest.raises(SystemExit, match="ppl-target"):
        main(["--input", SF_DIR, "--output", "/tmp/x",
              "--steps", "ppl_bucket"])
    with pytest.raises(SystemExit, match="ppl-keep"):
        main(["--input", SF_DIR, "--output", "/tmp/x",
              "--steps", "ppl_bucket", "--ppl-target", SF_DIR,
              "--ppl-keep", "head,junk"])


def test_warc_source_id_guard(spark):
    """r11 (symmetric to the rec_index guard): source_id past the
    documented id-permutation domain bound raises per-row instead of
    silently minting out-of-contract doc_ids; the in-bound product is
    computed in long."""
    import scripts.xe_curate as curate

    ok = spark.createDataFrame(
        [{"source_id": 4293, "rec_index": 999_999}]
    ).select(curate.warc_doc_id()).collect()
    assert ok[0].doc_id == 4_293_999_999        # > 2^31: long math
    bad = spark.createDataFrame([{"source_id": 4294, "rec_index": 0}])
    with pytest.raises(Exception, match="id-permutation domain"):
        bad.select(curate.warc_doc_id()).collect()
    neg = spark.createDataFrame([{"source_id": -1, "rec_index": 0}])
    with pytest.raises(Exception, match="id-permutation domain"):
        neg.select(curate.warc_doc_id()).collect()


def test_curate_common_lines_step(spark, tmp_path, capsys):
    """r11: corpus-frequency boilerplate strip as a CLI step — a
    footer planted in every doc disappears from every doc (first copy
    included), per-doc unique text survives, rows are kept."""
    from pyspark.sql import functions as F

    src = tmp_path / "cl_src"
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = base.count()
    (
        base.select(
            "doc_id",
            F.concat(F.col("text"),
                     F.lit("\nGLOBAL FOOTER | COOKIES")).alias("text"),
        )
        .write.parquet(str(src / "documents.parquet"))
    )
    out = tmp_path / "cl_out"
    rc = main([
        "--input", str(src), "--output", str(out),
        "--steps", "common_lines", "--min-line-docs", "5", "--report",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["counts"]["common_lines"] == rep["counts"]["input"] == n
    got = spark.read.parquet(str(out / "documents.parquet"))
    assert got.count() == n                     # rows kept
    assert got.filter(
        F.col("text").contains("GLOBAL FOOTER")
    ).count() == 0                              # stripped everywhere
    assert got.filter(F.length("text") > 0).count() > 0
