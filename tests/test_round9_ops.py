"""Round-9 additions: HTML text extraction (incl. adversarial fuzz),
DSIR importance weights (fit/apply split, the crc32 gram family), weighted
mixture interleave (+ shard-writer composition), within-doc line
dedup, the hashed NB/linear classifier (twin, quality-filter demo),
JSONL ingest (roundtrip, quarantine, garbage fuzz), and the
duplication profile — each against a literal python twin, plus the
documented heuristic boundaries and validation errors."""

from __future__ import annotations

import math
import re
import zlib
from collections import Counter

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


# ------------------------------------------------------------ html_extract

def _py_extract(html: str) -> tuple[str, str, int]:
    """Literal python twin of extract_html_text (same regex subset —
    Python re and Java regex agree on it like RE2 does)."""
    from xenoeye_spark.datapipe.text import (
        HTML_DROP_PATTERNS, HTML_ENTITIES, HTML_LINK_RE, HTML_TITLE_RE,
    )

    from xenoeye_spark.datapipe.text import HTML_WS

    body = html
    for pat in HTML_DROP_PATTERNS:
        body = re.sub(pat, " ", body)
    m = re.search(HTML_TITLE_RE, html)
    title = m.group(1) if m else ""

    def decode(s: str) -> str:
        for src, dst in HTML_ENTITIES:
            s = s.replace(src, dst)
        return re.sub(HTML_WS + "+", " ", s).strip(" ")

    return decode(title), decode(body), len(re.findall(HTML_LINK_RE, html))


HTML_CASES = [
    # ordinary page: title, style, script with newlines, entities, links
    ('<html><head><title>T &amp; U</title><style>a{}</style></head>'
     '<body><script>var x;\ny;</script><p>A &lt;b&gt;&nbsp;C</p>'
     '<a href="u">l</a><A HREF="v">m</A></body></html>'),
    # no title, uppercase/whitespace-laden tags, comment spanning lines
    ('<BODY>< p >x</ p ><!-- multi\nline\ncomment -->y  z</BODY>'),
    # single-pass entity decode: &amp;lt; must yield the literal "&lt;"
    ('<p>&amp;lt;tag&amp;gt; stays escaped; &quot;q&quot; &#39;s&#39;</p>'),
    # UNCLOSED script: documented heuristic — code leaks as text
    ('<div><script>leaks();</div>after'),
    # attribute containing ">" in quotes: tag regex stops at first ">"
    ('<p title="a>b">body</p>'),
    # empty and markup-only pages
    '', '<br/><hr>',
]


def test_html_extract_matches_python_twin(spark):
    from xenoeye_spark.datapipe.text import extract_html_text

    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(HTML_CASES)], "doc_id long, html string"
    )
    got = {
        r.doc_id: (r.title, r.text, r.n_links, r.html_chars, r.text_chars)
        for r in extract_html_text(df).collect()
    }
    assert len(got) == len(HTML_CASES)
    for i, h in enumerate(HTML_CASES):
        title, text, n_links = _py_extract(h)
        assert got[i] == (title, text, n_links, len(h), len(text)), (
            f"case {i}: {h!r} -> {got[i]}"
        )
    # spot-check the planted semantics, not just twin parity
    assert got[0][:2] == ("T & U", 'A <b> C l m') and got[0][2] == 2
    assert got[2][1] == '&lt;tag&gt; stays escaped; "q" \'s\''
    assert "leaks();" in got[3][1]          # unclosed script leaks
    assert got[4][1] == 'b">body'           # ">" inside quoted attr
    assert got[5] == ("", "", 0, 0, 0)


# -------------------------------------------------------------------- dsir

def _py_dsir(raw: list[tuple[int, str]], target: list[str],
             n_buckets: int) -> dict[int, tuple[int, int]]:
    """Literal python twin: same gram hash (crc32 of the UTF-8 bytes),
    add-one smoothing, one floor per bucket, integer weight sums."""

    def grams(text: str) -> list[str]:
        t = [x for x in re.split(r"\s+", text.strip()) if x]
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    def bucket(g: str) -> int:
        return zlib.crc32(g.encode()) % n_buckets

    raw_occ = {i: Counter(bucket(g) for g in grams(t)) for i, t in raw}
    raw_b: Counter = Counter()
    for c in raw_occ.values():
        raw_b.update(c)
    tgt_b: Counter = Counter()
    for t in target:
        tgt_b.update(bucket(g) for g in grams(t))
    rtot, ttot = sum(raw_b.values()), sum(tgt_b.values())
    lr = {
        b: math.floor(1e6 * math.log(
            ((tgt_b.get(b, 0) + 1.0) / (ttot + n_buckets))
            / ((rb + 1.0) / (rtot + n_buckets))))
        for b, rb in raw_b.items()
    }
    return {
        i: (sum(cnt * lr[b] for b, cnt in c.items()), sum(c.values()))
        for i, c in raw_occ.items() if c
    }


def test_dsir_weights_match_python_twin(spark):
    from xenoeye_spark.datapipe.sampling import dsir_weights

    raw = [
        (0, "spark shuffles partitions and spark broadcasts joins"),
        (1, "le chat noir dort sur le tapis rouge"),
        (2, "spark partitions spark partitions spark"),
        (3, "der hund läuft schnell durch den wald"),
        (4, "  "),                       # no grams -> absent
        (5, "broadcast joins beat shuffles"),
    ]
    tgt_texts = ["spark broadcasts joins", "partitions and shuffles",
                 "spark spark shuffles"]
    raw_df = spark.createDataFrame(raw, "doc_id long, text string")
    tgt_df = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(tgt_texts)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.logw_micro, r.n_grams)
        for r in dsir_weights(raw_df, tgt_df, n_buckets=64).collect()
    }
    assert got == _py_dsir(raw, tgt_texts, 64)
    # steering: the english-spark docs outscore french/german ones
    assert min(got[0][0], got[2][0], got[5][0]) > max(got[1][0], got[3][0])
    assert 4 not in got                  # empty doc carries no evidence

    with pytest.raises(ValueError, match="n_buckets"):
        dsir_weights(raw_df, tgt_df, n_buckets=1)


def test_dsir_fit_apply_split_matches_inline(spark):
    """fit-once/apply-many: a saved ratio table reproduces the inline
    target= path exactly, the ratio is total over the bucket space,
    and the exactly-one-of validation raises both ways."""
    from xenoeye_spark.datapipe.sampling import dsir_fit, dsir_weights

    raw_df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "beta gamma delta delta")],
        "doc_id long, text string",
    )
    tgt_df = spark.createDataFrame([(9, "beta gamma")],
                                   "doc_id long, text string")
    ratio = dsir_fit(raw_df, tgt_df, n_buckets=32)
    rows = ratio.collect()
    assert len(rows) == 32                       # total over the space
    assert sorted(r.bucket for r in rows) == list(range(32))
    inline = dsir_weights(raw_df, tgt_df, n_buckets=32).collect()
    applied = dsir_weights(raw_df, ratio=ratio, n_buckets=32).collect()
    key = lambda r: r.doc_id  # noqa: E731
    assert sorted(inline, key=key) == sorted(applied, key=key)

    with pytest.raises(ValueError, match="exactly one"):
        dsir_weights(raw_df, tgt_df, ratio=ratio)
    with pytest.raises(ValueError, match="exactly one"):
        dsir_weights(raw_df)


# ----------------------------------------------------------- mixture_order

def test_mixture_order_matches_weighted_round_robin(spark):
    from math import lcm

    from xenoeye_spark.datapipe.sampling import mixture_order

    weights = {"a": 3, "b": 1, "c": 2}
    rows = [Row(doc_id=i, source="abcx"[i % 4]) for i in range(80)]
    df = spark.createDataFrame(rows)
    out = (
        mixture_order(df, weights)
        .orderBy("interleave_key", "source", "doc_id")
        .collect()
    )
    # twin: each source's i-th doc at key (2i-1) * L/w, merged
    big = lcm(*weights.values())
    twin = []
    for s, w in weights.items():
        ids = sorted(r.doc_id for r in rows if r.source == s)
        twin += [
            (i, s, rank, (2 * rank - 1) * (big // w))
            for rank, i in enumerate(ids, start=1)
        ]
    twin.sort(key=lambda t: (t[3], t[1], t[0]))
    assert [(r.doc_id, r.source, r.src_rank, r.interleave_key)
            for r in out] == twin
    # weight-0 semantics: source "x" is gone entirely
    assert all(r.source != "x" for r in out)
    # ratio property: over the full order, counts follow the weights
    n_a = sum(1 for r in out if r.source == "a")
    n_b = sum(1 for r in out if r.source == "b")
    assert n_a == 20 and n_b == 20        # all rows of every kept source
    # and in the first 6 virtual slots of each L-block the pattern is
    # dominated by the heavier source
    first12 = [r.source for r in out[:12]]
    assert first12.count("a") >= first12.count("c") >= first12.count("b")


def test_mixture_order_validation(spark):
    from xenoeye_spark.datapipe.sampling import mixture_order

    df = spark.createDataFrame([Row(doc_id=1, source="a")])
    with pytest.raises(ValueError, match="no source has positive weight"):
        mixture_order(df, {"a": 0})
    with pytest.raises(ValueError, match="integers"):
        mixture_order(df, {"a": 1.5})
    with pytest.raises(ValueError, match="lcm"):
        # pairwise-coprime big weights blow the lcm cap
        mixture_order(df, {"a": 1021, "b": 1031, "c": 1033})


def test_mixture_weights_lcm_constant():
    """The oracle's hard-coded lcm stays true to MIXTURE_WEIGHTS."""
    from math import lcm

    import __spark_entry__ as entrymod

    assert entrymod._MIX_LCM == lcm(*entrymod.MIXTURE_WEIGHTS.values())


# -------------------------------------------------------------- dedup_lines

def test_dedup_lines_twin_and_semantics(spark):
    from xenoeye_spark.datapipe.text import dedup_lines

    docs = [
        (0, "nav\nhome\nbody text\nnav\n\nmore body\nnav\nhome"),
        (1, "a\n\n\na\n  \na"),        # blanks (incl. spaces) survive
        (2, ""),                        # empty doc
        (3, "only one line"),
    ]
    got = {
        r.doc_id: (r.text, r.n_lines, r.n_kept)
        for r in dedup_lines(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }

    def twin(t):
        ls = t.split("\n")
        kept, seen = [], set()
        for x in ls:
            if x.strip() == "":
                kept.append(x)
            elif x not in seen:
                seen.add(x)
                kept.append(x)
        nb = [x for x in ls if x.strip() != ""]
        kb = [x for x in kept if x.strip() != ""]
        return "\n".join(kept), len(nb), len(kb)

    for i, t in docs:
        assert got[i] == twin(t), f"doc {i}"
    assert got[0][0] == "nav\nhome\nbody text\n\nmore body"
    assert got[1] == ("a\n\n\n  ", 3, 1)
    assert got[2] == ("", 0, 0)


# ------------------------------------------------------------ hash classify

def test_hash_nb_classifier_twin(spark):
    """Model and prediction against a literal python NB twin; the model
    is total over label x bucket; ties break to the smallest label;
    self-classification separates two clearly distinct vocabularies."""
    from xenoeye_spark.datapipe.ranking import (
        hash_linear_classify, hash_nb_fit,
    )

    B = 64
    docs = [
        (0, "spark shuffle partition broadcast join", "tech"),
        (1, "join shuffle spark spark partition", "tech"),
        (2, "violin sonata allegro tempo forte", "music"),
        (3, "tempo allegro violin forte sonata sonata", "music"),
        (4, "spark partition shuffle", "tech"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    model = hash_nb_fit(df, "lang", n_buckets=B)
    rows = model.collect()
    assert len(rows) == 2 * B                   # total over the space
    assert {r.label for r in rows} == {"music", "tech"}

    # python twin
    def grams(t):
        w = t.split()
        return w + [f"{a} {b}" for a, b in zip(w, w[1:])]

    def bucket(g):
        return zlib.crc32(g.encode()) % B

    cnt: dict = {}
    ndocs: Counter = Counter()
    for _, t, lab in docs:
        ndocs[lab] += 1
        for g in grams(t):
            cnt[(lab, bucket(g))] = cnt.get((lab, bucket(g)), 0) + 1
    tot = Counter()
    for (lab, _), c in cnt.items():
        tot[lab] += c
    N, L = sum(ndocs.values()), len(ndocs)
    w_twin = {
        (lab, bk): math.floor(1e6 * math.log(
            (cnt.get((lab, bk), 0) + 1.0) / (tot[lab] + B)))
        for lab in ndocs for bk in range(B)
    }
    bias_twin = {
        lab: math.floor(1e6 * math.log((n + 1.0) / (N + L)))
        for lab, n in ndocs.items()
    }
    got_model = {(r.label, r.bucket): (r.w_micro, r.bias_micro)
                 for r in rows}
    for k, w in w_twin.items():
        assert got_model[k] == (w, bias_twin[k[0]]), k

    pred = {r.doc_id: (r.label, r.score_micro)
            for r in hash_linear_classify(df, model, n_buckets=B).collect()}
    for i, t, lab in docs:
        sc = {
            c: bias_twin[c]
            + sum(w_twin[(c, bucket(g))] for g in grams(t))
            for c in ndocs
        }
        best = min(sorted(sc), key=lambda c: (-sc[c], c))
        assert pred[i] == (best, sc[best]), f"doc {i}"
        assert pred[i][0] == lab                # separable vocabularies

    with pytest.raises(ValueError, match="n_buckets"):
        hash_nb_fit(df, "lang", n_buckets=1)


def test_html_extract_fuzz_vs_twin(spark):
    """Seeded fuzz over an adversarial tag/entity alphabet (mismatched
    script/head closers, bare '<'/'>', quoted '>', entity prefixes,
    and — r10 — a bare vertical tab \\x0B, the one ASCII char where
    Java's \\s and RE2's \\s disagree, now safe because the chain
    spells out the explicit [ \\t\\n\\x0B\\f\\r] class on both
    engines): Spark's Java-regex chain must agree with the python
    twin on every page. The same corpus was cross-checked against the
    RE2 chain in DuckDB (0 divergences); this committed twin run
    keeps the Java side pinned."""
    import random

    from xenoeye_spark.datapipe.text import extract_html_text

    rng = random.Random(2026)
    pieces = [
        "<script>", "</script>", "<script type='a'>", "</script >",
        "<style>", "</style>", "<head>", "</head>", "<title>",
        "</title>", "<!--", "-->", "<p>", "</p>", "<a href='u'>",
        "<A>", "</a>", "&amp;", "&lt;", "&gt;", "&quot;", "&#39;",
        "&nbsp;", "&amp;lt;", "word", "x y", "\n", "  ", "<", ">",
        "<br/>", '<p attr="a>b">', "\t", "z<1", "a&b", "<<>>", "</",
        "<-", "<0>", "<p", "p>", "\x0b", "</script\x0b>", "a\x0bb",
    ]
    pages = ["".join(rng.choices(pieces, k=rng.randint(0, 40)))
             for _ in range(150)]
    df = spark.createDataFrame(
        list(enumerate(pages)), "doc_id long, html string"
    )
    got = {r.doc_id: (r.title, r.text, r.n_links)
           for r in extract_html_text(df).collect()}
    for i, p in enumerate(pages):
        assert got[i] == _py_extract(p), f"page {i}: {p!r}"


def test_mixture_order_feeds_shard_writer(spark, tmp_path):
    """Composition: mixture_order's integer key is a valid shard-writer
    order column, so a training run streams shards in the mixture
    schedule. Shard 0 must hold exactly the first rows of the
    (interleave_key, doc_id) twin order — the writer's documented
    totalization when keys repeat across sources."""
    from xenoeye_spark.datapipe.layout import write_training_shards
    from xenoeye_spark.datapipe.sampling import mixture_order

    weights = {"a": 2, "b": 1}
    rows = [Row(doc_id=i, source="ab"[i % 2]) for i in range(60)]
    ordered = mixture_order(spark.createDataFrame(rows), weights)
    path = str(tmp_path / "mix_shards")
    n = write_training_shards(
        ordered, path, order_col="interleave_key",
        rows_per_shard=16, id_col="doc_id",
    )
    assert n == -(-60 // 16)                    # shard COUNT
    got = [
        (r.doc_id, r.source)
        for r in spark.read.parquet(f"{path}/_shard=0")
        .orderBy("interleave_key", "doc_id").collect()
    ]
    from math import lcm

    big = lcm(*weights.values())
    twin = []
    for s, w in weights.items():
        ids = sorted(r.doc_id for r in rows if r.source == s)
        twin += [((2 * k - 1) * (big // w), i, s)
                 for k, i in enumerate(ids, start=1)]
    twin.sort(key=lambda t: (t[0], t[1]))
    assert got == [(i, s) for _, i, s in twin[:16]]


def test_hash_linear_classify_validates_model_shape(spark):
    from xenoeye_spark.datapipe.ranking import hash_linear_classify

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    bad = spark.createDataFrame([(0, "x")], "bucket long, label string")
    with pytest.raises(ValueError, match="model lacks columns"):
        hash_linear_classify(df, bad)


def test_gram_crc32_one_family(spark):
    """The one gram family keeps every semantic property on its own:
    dsir fit/apply equality, steering toward the target, classifier
    separability."""
    from xenoeye_spark.datapipe.ranking import (
        hash_linear_classify, hash_nb_fit,
    )
    from xenoeye_spark.datapipe.sampling import dsir_fit, dsir_weights

    raw = spark.createDataFrame(
        [(0, "spark shuffle partition join"),
         (1, "violin sonata allegro tempo"),
         (2, "spark join shuffle broadcast")],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [(9, "spark shuffle broadcast join")], "doc_id long, text string"
    )
    ratio = dsir_fit(raw, tgt, n_buckets=64)
    assert {r.hash_fn for r in ratio.select("hash_fn").collect()} == {
        "crc32"}
    inline = {r.doc_id: r.logw_micro for r in dsir_weights(
        raw, tgt, n_buckets=64).collect()}
    applied = {r.doc_id: r.logw_micro for r in dsir_weights(
        raw, ratio=ratio, n_buckets=64).collect()}
    assert inline == applied
    assert min(inline[0], inline[2]) > inline[1]      # steering holds

    lab = raw.withColumn(
        "lang", F.when(F.col("doc_id") == 1, "music").otherwise("tech")
    )
    model = hash_nb_fit(lab, "lang", n_buckets=64)
    pred = {r.doc_id: r.label for r in hash_linear_classify(
        lab, model, n_buckets=64).collect()}
    assert pred == {0: "tech", 1: "music", 2: "tech"}


# dirty gram corpus: non-ASCII, non-BMP, NBSP (not whitespace to either
# tokenizer), outer/inner runs of whitespace, "", NULL, one token
GRAM_DIRTY = [
    (0, "é 中 café 中文"),
    (1, "smile \U0001F600 \U0001F600x"),
    (2, "a\u00a0b c\u00a0 d"),
    (3, ""),
    (4, None),
    (5, "single"),
    (6, "  \t lead  and\ttrail \n "),
]


def test_gram_buckets_are_zlib_crc32(spark):
    """Every gram bucket is zlib.crc32 of the gram's UTF-8 bytes mod
    n_buckets — the rule an external linear model re-buckets by."""
    from xenoeye_spark.datapipe.sampling import _gram_bucket_occurrences

    n = 97
    df = spark.createDataFrame(GRAM_DIRTY, "doc_id long, text string")
    got = Counter(
        (r.doc_id, r.bucket)
        for r in _gram_bucket_occurrences(df, "text", "doc_id", n).collect()
    )
    want: Counter = Counter()
    for i, text in GRAM_DIRTY:
        t = [x for x in re.split(r"[ \t\n\x0b\f\r]+",
                                 (text or "").strip(" ")) if x]
        for g in t + [f"{a} {b}" for a, b in zip(t, t[1:])]:
            want[(i, zlib.crc32(g.encode()) % n)] += 1
    assert got == want
    assert {i for i, _ in got} == {0, 1, 2, 5, 6}


def test_oracle_crc32_fold_matches_zlib():
    """The DuckDB oracles' SQL crc32 (byte table + list_reduce fold)
    equals zlib.crc32 on the dirty grams, and the byte table is the
    one zlib uses."""
    import duckdb

    from __spark_entry__ import CRC32_CTE, crc32_sql, crc32_table

    # zlib seeded with 0xFFFFFFFF starts its register at 0, so one byte
    # b leaves exactly table[b] in it (complemented on the way out)
    assert crc32_table() == [zlib.crc32(bytes([b]), 0xFFFFFFFF) ^ 0xFFFFFFFF
                             for b in range(256)]
    strs = ["", "a", "single", "é", "中文", "\U0001F600", "a\u00a0b",
            "lead and", "x" * 300]
    strs += [t for _, t in GRAM_DIRTY if t]
    rows = duckdb.connect().execute(
        f"WITH {CRC32_CTE}, s AS (SELECT unnest(?) AS g) "
        f"SELECT g, {crc32_sql('hex(encode(g))')} FROM s CROSS JOIN crc",
        [strs],
    ).fetchall()
    assert len(rows) == len(strs)
    for g, c in rows:
        assert c == zlib.crc32(g.encode()), g


# ------------------------------------------------------------ jsonl ingest

def test_jsonl_documents_roundtrip_and_quarantine(spark):
    import gzip

    from xenoeye_spark.datapipe.text import jsonl_documents

    shard0 = (                       # plain, one broken line, one {}
        b'{"doc_id": 1, "lang": "en", "text": "a b"}\n'
        b'{"doc_id": 2, "lang": "fr"\n'
        b'{}\n'
        b'\n'
        b'{"doc_id": 3, "lang": "de", "text": "c"}\n'
    )
    shard1 = gzip.compress(
        b'{"doc_id": 4, "lang": "es", "text": "d e f"}\n', mtime=0
    )
    files = spark.createDataFrame(
        [(0, bytearray(shard0)), (1, bytearray(shard1))],
        "source_id long, content binary",
    )
    rows = jsonl_documents(
        files, "doc_id long, lang string, text string", on_error="null"
    ).collect()
    good = {r.doc_id: (r.lang, r.text, r.source_id, r.is_malformed)
            for r in rows if not r.is_malformed}
    # {} is a LEGITIMATE empty object, not malformed
    assert good == {
        1: ("en", "a b", 0, False),
        3: ("de", "c", 0, False),
        4: ("es", "d e f", 1, False),
        None: (None, None, 0, False),
    }
    badrows = [r for r in rows if r.is_malformed]
    assert len(badrows) == 1 and badrows[0].source_id == 0
    assert badrows[0].doc_id is None and badrows[0].text is None

    # fail mode raises on the malformed line
    with pytest.raises(Exception, match="malformed line in file 0"):
        jsonl_documents(
            files, "doc_id long, lang string, text string",
            on_error="fail",
        ).collect()
    # but parses a clean corpus
    clean = jsonl_documents(
        files.filter("source_id = 1"),
        "doc_id long, lang string, text string", on_error="fail",
    ).collect()
    assert [(r.doc_id, r.is_malformed) for r in clean] == [(4, False)]

    with pytest.raises(ValueError, match="collide"):
        jsonl_documents(files, "source_id long, text string")
    with pytest.raises(ValueError, match="on_error"):
        jsonl_documents(files, "doc_id long", on_error="skip")


def test_jsonl_undecompressable_shard_leaves_a_marker(spark):
    """A truncated gzip shard must surface as exactly ONE all-NULL
    quarantine row in 'null' mode (not silently vanish), and raise in
    'fail' mode."""
    import gzip

    from xenoeye_spark.datapipe.text import jsonl_documents

    ok = gzip.compress(b'{"doc_id": 1, "text": "a"}\n', mtime=0)
    files = spark.createDataFrame(
        [(0, bytearray(ok)), (1, bytearray(ok[:10]))],
        "source_id long, content binary",
    )
    rows = jsonl_documents(files, "doc_id long, text string",
                           on_error="null").collect()
    marks = [(r.source_id, r.is_malformed, r.doc_id) for r in rows]
    assert sorted(marks) == [(0, False, 1), (1, True, None)]
    with pytest.raises(Exception):
        jsonl_documents(files, "doc_id long, text string",
                        on_error="fail").collect()


def test_dsir_weights_validates_ratio_shape(spark):
    from xenoeye_spark.datapipe.sampling import dsir_weights

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    bad = spark.createDataFrame([(0,)], "bucket long")
    with pytest.raises(ValueError, match="ratio= lacks columns"):
        dsir_weights(df, ratio=bad)


def test_jsonl_fuzz_never_crashes_in_null_mode(spark):
    """Decoder-fuzz discipline for the new ingest surface: seeded
    random garbage shards (binary noise, half-valid JSON, gzip
    prefixes, empty) must never raise in 'null' mode, every emitted
    row must carry a known source_id, and quarantine flags must be
    consistent (malformed rows all-NULL, clean rows parse-complete)."""
    import random

    from xenoeye_spark.datapipe.text import jsonl_documents

    rng = random.Random(99)
    shards = []
    for fid in range(40):
        kind = fid % 4
        if kind == 0:                      # pure binary noise
            data = bytes(rng.randrange(256) for _ in range(rng.randrange(64)))
        elif kind == 1:                    # gzip magic + noise
            data = b"\x1f\x8b" + bytes(
                rng.randrange(256) for _ in range(rng.randrange(32)))
        elif kind == 2:                    # half-valid jsonl
            data = (b'{"doc_id": %d}\n{"doc_id":\nnot json\n' % fid)
        else:                              # clean
            data = b'{"doc_id": %d, "text": "ok"}\n' % fid
        shards.append((fid, bytearray(data)))
    rows = jsonl_documents(
        spark.createDataFrame(shards, "source_id long, content binary"),
        "doc_id long, text string", on_error="null",
    ).collect()
    assert {r.source_id for r in rows} <= set(range(40))
    for r in rows:
        if r.is_malformed:
            assert r.doc_id is None and r.text is None
    # every clean shard's row came through
    clean_ids = {r.doc_id for r in rows if not r.is_malformed}
    assert {fid for fid in range(40) if fid % 4 == 3} <= clean_ids


def test_hash_classifier_learns_the_quality_rule(spark):
    """The fasttext-style use case end-to-end: fit NB on rule-derived
    quality labels (the composite quality_score's median cut at
    sf0.001 — gopher_pass is uniform on this synthetic corpus),
    classify the same corpus, and agree with the rules decisively
    above the majority baseline — the cheap learned filter that
    replaces re-running every rule at ingest time."""
    import os

    from xenoeye_spark.datapipe.ranking import (
        hash_linear_classify, hash_nb_fit,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("driver testdata not present")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # gopher_pass is uniform on this synthetic corpus; the composite
    # quality_score's median cut guarantees two real classes
    from xenoeye_spark.datapipe.text import text_stats

    stats = text_stats(docs)
    med = stats.agg(
        F.expr("percentile(quality_score, 0.5)")
    ).collect()[0][0]
    labeled = docs.join(
        stats.select(
            "doc_id",
            F.when(F.col("quality_score") >= med, "good")
            .otherwise("bad").alias("label_true"),
        ),
        "doc_id",
    )
    assert 1 < labeled.filter("label_true = 'good'").count() < 499
    model = hash_nb_fit(labeled, "label_true", n_buckets=2048)
    pred = hash_linear_classify(labeled, model, n_buckets=2048)
    scored = labeled.join(pred, "doc_id")
    n = scored.count()
    agree = scored.filter("label_true = label").count()
    base = max(
        r[0] for r in labeled.groupBy("label_true").count()
        .select("count").collect()
    )
    # decisively better than always-majority (~50% on a median cut);
    # bag-of-hashed-grams only partially encodes the length/punct
    # signals behind the composite score, so demand signal, not
    # perfection (measured 76% at this SF)
    assert agree / n >= 0.7, f"agreement {agree}/{n}"
    assert agree > base * 1.2, (
        f"barely better than majority baseline: {agree} vs {base}"
    )


def test_dup_profile_histogram(spark):
    from xenoeye_spark.datapipe.dedup import dup_profile

    rows = [(i, t) for i, t in enumerate(
        ["a", "a", "a", "b", "b", "c", "d", "d"])]
    got = {
        r.class_size: (r.n_classes, r.n_docs)
        for r in dup_profile(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    # sizes: a->3, b->2, d->2, c->1
    assert got == {3: (1, 3), 2: (2, 4), 1: (1, 1)}
    assert sum(nd for _, nd in got.values()) == len(rows)


def test_dsir_target_cond_matches_target(spark):
    """r13 fused fit+apply: target_cond= (one shared gram pass) must
    reproduce the target= path bit-for-bit, including NULL-predicate
    docs (excluded from the target like raw.filter would) and
    empty-text docs (absent either way)."""
    from pyspark.sql import functions as F

    from xenoeye_spark.datapipe.sampling import dsir_weights

    raw_df = spark.createDataFrame(
        [
            (0, "en", "spark shuffles partitions and spark broadcasts"),
            (1, "fr", "le chat noir dort sur le tapis rouge"),
            (2, "en", "spark partitions spark partitions spark"),
            (3, None, "null lang doc stays out of the target"),
            (4, "en", "  "),
            (5, "de", "broadcast joins beat shuffles"),
        ],
        "doc_id long, lang string, text string",
    )
    cond = F.col("lang") == "en"
    via_target = {
        r.doc_id: (r.logw_micro, r.n_grams)
        for r in dsir_weights(
            raw_df, raw_df.filter(cond), n_buckets=64
        ).collect()
    }
    fused = dsir_weights(raw_df, target_cond=cond, n_buckets=64)
    via_cond = {
        r.doc_id: (r.logw_micro, r.n_grams) for r in fused.collect()
    }
    assert via_cond == via_target
    assert 4 not in via_cond

    import pytest as _pytest
    with _pytest.raises(ValueError, match="exactly one"):
        dsir_weights(raw_df, raw_df, target_cond=cond)
