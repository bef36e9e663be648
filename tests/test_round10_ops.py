"""Round-10 additions: mixture_order's ``rank_col`` escape hatch and
the ``source_rank`` distributed per-source rank it composes with
(bit-identity vs the window path), quantile_clip NULL-group
semantics (eqNullSafe join), the xe_curate classifier step, and the
doc_id rec_index collision guard."""

from __future__ import annotations

from math import lcm

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F


# -------------------------------------------------------------- source_rank

def _mix_rows(n: int = 120):
    # skewed: "a" dominates (the scale scenario that breaks a
    # per-source reducer), plus an unweighted source "x"
    return [
        Row(doc_id=i, source="a" if i % 4 != 3 else "bcx"[i % 3])
        for i in range(n)
    ]


def test_source_rank_matches_window(spark):
    from xenoeye_spark.datapipe.sampling import source_rank

    df = spark.createDataFrame(_mix_rows())
    got = sorted(
        source_rank(df).collect(),
        key=lambda r: (r.source, r.doc_id),
    )
    w = Window.partitionBy("source").orderBy(F.col("doc_id").asc())
    want = sorted(
        df.withColumn(
            "src_rank", F.row_number().over(w).cast("long")
        ).collect(),
        key=lambda r: (r.source, r.doc_id),
    )
    assert [(r.source, r.doc_id, r.src_rank) for r in got] == \
        [(r.source, r.doc_id, r.src_rank) for r in want]


def test_source_rank_survives_many_partitions(spark):
    """Ranks stay dense and 1-based when a source spans partitions."""
    from xenoeye_spark.datapipe.sampling import source_rank

    df = spark.createDataFrame(_mix_rows(400)).repartition(16)
    out = source_rank(df).collect()
    by_src: dict[str, list[int]] = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.src_rank)
    for src, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), src


def test_source_rank_rejects_collision(spark):
    from xenoeye_spark.datapipe.sampling import source_rank

    df = spark.createDataFrame([Row(doc_id=1, source="a", src_rank=9)])
    with pytest.raises(ValueError, match="already exists"):
        source_rank(df)


# ----------------------------------------- mixture_order rank_col hatch

def test_mixture_order_rank_col_bit_identical(spark):
    """The composed source_rank → mixture_order(rank_col=...) path
    produces the SAME (doc_id, source, src_rank, interleave_key)
    tuples as the single-reducer window path — the escape hatch is a
    drop-in, not an approximation."""
    from xenoeye_spark.datapipe.sampling import mixture_order, source_rank

    weights = {"a": 5, "b": 1, "c": 2}
    df = spark.createDataFrame(_mix_rows())
    key = lambda r: (r.interleave_key, r.source, r.doc_id)  # noqa: E731
    via_window = sorted(mixture_order(df, weights).collect(), key=key)
    via_rank = sorted(
        mixture_order(
            source_rank(df), weights, rank_col="src_rank"
        ).collect(),
        key=key,
    )
    tup = lambda r: (r.doc_id, r.source, r.src_rank, r.interleave_key)  # noqa: E731
    assert [tup(r) for r in via_window] == [tup(r) for r in via_rank]
    # and the unweighted source is dropped on both paths
    assert all(r.source != "x" for r in via_rank)


def test_mixture_order_rank_col_custom_name(spark):
    """A rank under any name is normalized to src_rank in the output
    and the original column is CONSUMED (r11): all three paths emit
    the identical schema; keys match the window path."""
    from xenoeye_spark.datapipe.sampling import mixture_order, source_rank

    weights = {"a": 3, "b": 1}
    df = spark.createDataFrame(_mix_rows(60))
    pre = source_rank(df, rank_col="my_rank")
    out = mixture_order(pre, weights, rank_col="my_rank")
    wout = mixture_order(df, weights)
    assert out.columns == wout.columns     # my_rank gone, same order
    key = lambda r: (r.interleave_key, r.source, r.doc_id)  # noqa: E731
    want = sorted(wout.collect(), key=key)
    got = sorted(out.collect(), key=key)
    assert [(r.doc_id, r.src_rank, r.interleave_key) for r in got] == \
        [(r.doc_id, r.src_rank, r.interleave_key) for r in want]


def test_source_rank_cache_release_contract(spark):
    """r11: source_rank pins a MEMORY_AND_DISK copy of the ranged
    input for its two-pass layout — the handle rides the result (and
    propagates through mixture_order) so a long-lived driver can
    release it after materializing; at mixture scale the pinned copy
    IS the corpus."""
    from xenoeye_spark.datapipe.sampling import mixture_order, source_rank

    sc = spark.sparkContext
    base = sc._jsc.getPersistentRDDs().size()
    out = mixture_order(
        source_rank(spark.createDataFrame(_mix_rows(80))),
        {"a": 2, "b": 1}, rank_col="src_rank",
    )
    assert out.count() > 0
    cached = out._xe_cached
    lvl = cached.storageLevel
    assert lvl.useMemory or lvl.useDisk
    assert sc._jsc.getPersistentRDDs().size() == base + 1
    cached.unpersist(blocking=True)
    lvl = cached.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)
    assert sc._jsc.getPersistentRDDs().size() == base


def test_mixture_order_rank_col_plan_has_no_window(spark):
    """The escape hatch's point is the PLAN: with a caller rank there
    must be no Window operator anywhere (source_rank itself is range
    exchange + mapInPandas, also window-free)."""
    from xenoeye_spark.datapipe.sampling import mixture_order, source_rank

    df = spark.createDataFrame(_mix_rows(40))
    plan = (
        mixture_order(source_rank(df), {"a": 2, "b": 1},
                      rank_col="src_rank")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    # and the window path (the tens-of-sources default) does use one
    plan_w = (
        mixture_order(df, {"a": 2, "b": 1})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" in plan_w


def test_mixture_order_rank_col_validation(spark):
    from xenoeye_spark.datapipe.sampling import mixture_order

    df = spark.createDataFrame([Row(doc_id=1, source="a")])
    with pytest.raises(ValueError, match="not in input"):
        mixture_order(df, {"a": 1}, rank_col="nope")
    # collision guards
    with_key = df.withColumn("interleave_key", F.lit(1))
    with pytest.raises(ValueError, match="interleave_key"):
        mixture_order(with_key, {"a": 1})
    with_rank = df.withColumn("src_rank", F.lit(1))
    with pytest.raises(ValueError, match="src_rank"):
        mixture_order(with_rank, {"a": 1})      # window path would clash
    # explicit rank_col='src_rank' on the same frame is the sanctioned use
    ok = mixture_order(with_rank, {"a": 1}, rank_col="src_rank").collect()
    assert [(r.src_rank, r.interleave_key) for r in ok] == [(1, 1)]


def test_mixture_order_rank_col_rejects_bad_rank(spark):
    """A NULL or 0-based caller rank raises at execution instead of
    silently shifting every slot."""
    from pyspark.errors import PySparkRuntimeError
    from pyspark.sql.utils import SparkUpgradeException  # noqa: F401

    from xenoeye_spark.datapipe.sampling import mixture_order

    df = spark.createDataFrame(
        [Row(doc_id=1, source="a", r=0), Row(doc_id=2, source="a", r=1)]
    )
    with pytest.raises(Exception, match="1-based positive"):
        mixture_order(df, {"a": 1}, rank_col="r").collect()


# ----------------------------------------------------------- url_dedup

def _py_canonical_url(u: str) -> str | None:
    """Literal python twin of canonical_url_expr (same regex subset —
    Python re, Java regex and RE2 agree on it)."""
    import re

    from xenoeye_spark.datapipe.dedup import URL_TRACKING_RE

    u = u.strip()
    u = re.sub(r"#.*$", "", u)
    u = re.sub(r"^[A-Za-z][A-Za-z0-9+.\-]*://", "", u)
    # %XX hex-case fold — the same split/uppercase walk as the JVM
    # transform ('%' is not a hex digit, so boundaries are independent)
    if "%" in u:
        parts = u.split("%")
        u = parts[0] + "".join(
            "%" + (p[:2].upper() + p[2:]
                   if re.match(r"^[0-9a-fA-F]{2}", p) else p)
            for p in parts[1:]
        )
    m = re.match(r"^([^/?]*)", u)
    auth, rest = m.group(1), u[m.end():]
    auth = re.sub(r"^[^@]*@", "", auth).lower()
    auth = re.sub(r"^www\.", "", auth)
    auth = re.sub(r":(80|443)$", "", auth)
    folded = rest.replace("?", "&")
    path, _, params_s = folded.partition("&")
    path = re.sub(r"/+$", "", path)
    params = sorted(
        p for p in params_s.split("&")
        if p != "" and not re.match(URL_TRACKING_RE, p)
    )
    key = auth + path + ("&" + "&".join(params) if params else "")
    return key or None


URL_CASES = [
    "https://WWW.Example.COM:443/a/b/",
    "http://example.com/a/b",
    "https://u:p@example.com:443/a/b/?utm_source=x&utm_campaign=1",
    "http://example.com/a/b?fbclid=abc#frag",
    "example.com/a/b",                        # scheme-less
    "https://example.com/a/b?z=2&a=1",        # param order
    "http://example.com/a/b?a=1&z=2&gclid=9",
    "HTTPS://example.com",                    # bare host
    "http://www.example.com/",
    "ftp://Files.Example.org:21/pub/",        # non-default port kept
    "https://example.com/CaseSensitive/Path", # path case kept
    "http://example.com/p?",                  # empty query
    "  http://example.com/sp  ",              # surrounding ws
    "https://example.com/%7Euser",            # pct-encoding NOT normalized
    "https://example.com/~user",
    "http://a.example.com/x?utm_medium=&q=1&utm_x=2",
    "",
    "   ",
    # --- r11 additions: the authority-split fix and the two folded
    # boundaries ---
    "http://h.com?a=1",                       # query, no path
    "http://h.com/?a=1",                      # same page, '/' form
    "http://h.com?email=a@evil.com",          # '@' in a no-path query
    "https://example.com/a/b?UTM_Source=x",   # tracker case-folded
    "https://example.com/x%2fy",              # %XX hex case folds...
    "https://example.com/x%2Fy",
    "https://example.com/x%2gy",              # ...but only real hex
    "http://h.com/p?k=%3d&K=%3D",             # fold BEFORE param sort
]


def test_canonical_url_expr_matches_twin(spark):
    from xenoeye_spark.datapipe.dedup import canonical_url_expr

    df = spark.createDataFrame(
        list(enumerate(URL_CASES)), "i long, url string"
    )
    got = {r.i: r.k
           for r in df.select("i", canonical_url_expr("url").alias("k"))
           .collect()}
    for i, u in enumerate(URL_CASES):
        assert got[i] == _py_canonical_url(u), f"case {i}: {u!r}"
    # the canonical classes the recipe promises
    k = _py_canonical_url
    assert k(URL_CASES[0]) == k(URL_CASES[1]) == k(URL_CASES[2]) \
        == k(URL_CASES[3]) == k(URL_CASES[4]) == "example.com/a/b"
    assert k(URL_CASES[5]) == k(URL_CASES[6]) == "example.com/a/b&a=1&z=2"
    assert k(URL_CASES[7]) == k(URL_CASES[8]) == "example.com"
    assert k(URL_CASES[9]) == "files.example.org:21/pub"
    assert k(URL_CASES[13]) != k(URL_CASES[14])     # documented boundary
    assert k(URL_CASES[15]) == "a.example.com/x&q=1"
    assert k(URL_CASES[16]) is None and k(URL_CASES[17]) is None
    # r11: no-path queries key with the '/' form, and the '@' stays in
    # the query token (the old authority split mis-ate it as userinfo)
    assert k(URL_CASES[18]) == k(URL_CASES[19]) == "h.com&a=1"
    assert k(URL_CASES[20]) == "h.com&email=a@evil.com"
    # r11: tracking params are case-insensitive
    assert k(URL_CASES[21]) == "example.com/a/b"
    # r11: %XX hex case folds (real hex pairs only), before the sort
    assert k(URL_CASES[22]) == k(URL_CASES[23]) == "example.com/x%2Fy"
    assert k(URL_CASES[24]) == "example.com/x%2gy"
    assert k(URL_CASES[25]) == "h.com/p&K=%3D&k=%3D"


def test_canonical_url_fuzz_vs_twin(spark):
    """Seeded fuzz over an adversarial URL-piece alphabet (double
    schemes, empty authorities, @-in-path, repeated '?'/'#', port
    fragments, tracking prefixes that almost match, '&&' runs, case
    soup): the JVM expression chain must agree with the python twin on
    every input — the html_extract fuzz pattern applied to the URL
    canonicalizer."""
    import random

    from xenoeye_spark.datapipe.dedup import canonical_url_expr

    rng = random.Random(2026)
    pieces = [
        "http://", "https://", "HTTPS://", "ftp://", "://", "//",
        "www.", "WWW.", "a.B.c", "Example.COM", "xn--bcher-kva.ch",
        ":443", ":80", ":8080", ":", "@", "u:p@", "/", "//", "/a",
        "/A/b", "?", "&", "#", "#frag", "?a=1", "&b=2", "?z=9&a=1",
        "utm_source=x", "&utm_=y", "?utm=notracking", "fbclid=1",
        "&gclid=2", "&fbclid2=keep", "a=", "=b", "&&", "?&", "/./",
        "%7E", "~", " ", "p/", "?q=a b",
        # r11: no-path queries, '@' after '?', tracker case soup,
        # %XX case pairs and almost-hex
        "h?a=1", "?e=a@b", "UTM_Source=x", "&GCLID=9", "%2f", "%2F",
        "%3d", "%2g", "%", "%%2f", "a%2fb",
    ]
    urls = ["".join(rng.choices(pieces, k=rng.randint(0, 12)))
            for _ in range(300)]
    df = spark.createDataFrame(
        list(enumerate(urls)), "i long, url string"
    )
    got = {r.i: r.k
           for r in df.select("i", canonical_url_expr("url").alias("k"))
           .collect()}
    for i, u in enumerate(urls):
        assert got[i] == _py_canonical_url(u), f"case {i}: {u!r}"


def test_url_dedup_groups_and_drops_nulls(spark):
    from xenoeye_spark.datapipe.dedup import url_dedup

    rows = [
        Row(doc_id=1, url="https://WWW.Example.COM/a/"),
        Row(doc_id=2, url="http://example.com/a?utm_source=x"),
        Row(doc_id=3, url="example.com/a"),
        Row(doc_id=4, url="https://other.org/b?x=1&a=2"),
        Row(doc_id=5, url="https://other.org/b?a=2&x=1"),
        Row(doc_id=6, url=None),
        Row(doc_id=7, url=""),
    ]
    out = {r.canon_url: (r.keep_id, r.n_docs)
           for r in url_dedup(spark.createDataFrame(rows)).collect()}
    assert out == {
        "example.com/a": (1, 3),
        "other.org/b&a=2&x=1": (4, 2),
    }


def test_url_dedup_streaming_composition(spark, tmp_path):
    """Streaming URL dedup = canonical_url_expr (stateless projection)
    + dedup_stream's watermark state: a canonical re-crawl arriving in
    a later micro-batch is suppressed; distinct canonical URLs pass."""
    from pyspark.sql import types as T

    from xenoeye_spark.datapipe.dedup import canonical_url_expr
    from xenoeye_spark.streaming.dedup_stream import dedup_stream

    src = str(tmp_path / "urlsrc")
    spark.createDataFrame(
        [("http://site.com/a", "2026-01-01 00:00:00", 1),
         ("https://other.org/b?z=1&a=2", "2026-01-01 00:00:10", 2)],
        "url string, ts string, doc_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(
        [("https://WWW.Site.COM/a/?utm_source=x",       # re-crawl of 1
          "2026-01-01 00:00:20", 3),
         ("http://third.net/c", "2026-01-01 00:00:30", 4)],
        "url string, ts string, doc_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1) \
        .write.mode("append").parquet(src)

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("doc_id", T.LongType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("canon_url", canonical_url_expr("url"))
    )
    out = dedup_stream(stream, ["canon_url"], "ts",
                       watermark_delay="10 minutes")
    q = (
        out.writeStream.format("memory").queryName("url_dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_url"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT canon_url FROM url_dedup_out"
    ).collect()
    assert sorted(r.canon_url for r in rows) == [
        "other.org/b&a=2&z=1", "site.com/a", "third.net/c",
    ]


# ----------------------------------- fit/apply hash-consistency guards

def _stamped(table, family: str):
    return table.withColumn("hash_fn", F.lit(family))


def test_dsir_ratio_provenance_guard(spark):
    """A saved ratio table stamps hash_fn/n_buckets; a table fitted by
    another gram family (every pre-crc32 table says 'poly' or
    'xxhash64') or applied with another n_buckets raises, naming what
    differs, instead of silently mis-bucketing. Tables without the
    columns still apply."""
    from xenoeye_spark.datapipe.sampling import dsir_fit, dsir_weights

    raw = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "beta gamma delta")],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame([(9, "beta gamma")],
                                "doc_id long, text string")
    ratio = dsir_fit(raw, tgt, n_buckets=32)
    assert {"hash_fn", "n_buckets"} <= set(ratio.columns)
    for family in ("poly", "xxhash64"):
        with pytest.raises(Exception, match=f"hash_fn={family}"):
            dsir_weights(raw, ratio=_stamped(ratio, family),
                         n_buckets=32).collect()
    with pytest.raises(Exception, match="n_buckets"):
        dsir_weights(raw, ratio=ratio, n_buckets=64).collect()
    # legacy shape (no provenance columns) passes unguarded
    legacy = ratio.select("bucket", "lr")
    ok = dsir_weights(raw, ratio=legacy, n_buckets=32).collect()
    want = dsir_weights(raw, ratio=ratio, n_buckets=32).collect()
    key = lambda r: r.doc_id  # noqa: E731
    assert sorted(ok, key=key) == sorted(want, key=key)


def test_classifier_provenance_guard(spark):
    from xenoeye_spark.datapipe.ranking import (
        hash_linear_classify, hash_nb_fit,
    )

    df = spark.createDataFrame(
        [(0, "spark shuffle join", "tech"),
         (1, "violin sonata tempo", "music")],
        "doc_id long, text string, lang string",
    )
    model = hash_nb_fit(df, "lang", n_buckets=64)
    assert {"hash_fn", "n_buckets"} <= set(model.columns)
    for family in ("poly", "xxhash64"):
        with pytest.raises(Exception, match=f"hash_fn={family}"):
            hash_linear_classify(df, _stamped(model, family),
                                 n_buckets=64).collect()
    with pytest.raises(Exception, match="n_buckets"):
        hash_linear_classify(df, model, n_buckets=32).collect()
    ok = hash_linear_classify(df, model, n_buckets=64).collect()
    assert {r.doc_id: r.label for r in ok} == {0: "tech", 1: "music"}


# --------------------------------------------------- quantile_bucket

def test_quantile_bucket_twin(spark):
    """Tercile labels against a literal python twin (same linear-
    interpolation percentile, same rounded-cut <= rule), incl. a NULL
    group, NULL values, and ties sitting exactly on a cut."""
    import math

    from xenoeye_spark.operators.summary import quantile_bucket

    rows = []
    vals = {}
    for g, n in (("a", 30), ("b", 7), (None, 5)):
        vs = [float((i * 7) % 13) for i in range(n)]
        vals[g] = sorted(vs)
        rows += [Row(doc_id=len(rows) + i, g=g, v=v)
                 for i, v in enumerate(vs)]
    rows.append(Row(doc_id=999, g="a", v=None))
    df = spark.createDataFrame(rows, "doc_id long, g string, v double")
    out = {r.doc_id: r.bucket
           for r in quantile_bucket(df, ["g"], "v").collect()}

    def pctl(sorted_vs, p):        # linear interpolation between ranks
        k = (len(sorted_vs) - 1) * p
        lo, hi = math.floor(k), math.ceil(k)
        return round(
            sorted_vs[lo] + (sorted_vs[hi] - sorted_vs[lo]) * (k - lo), 6
        )

    for r in rows:
        if r.v is None:
            assert out[r.doc_id] is None
            continue
        c1, c2 = pctl(vals[r.g], 1 / 3), pctl(vals[r.g], 2 / 3)
        want = "head" if r.v <= c1 else "middle" if r.v <= c2 else "tail"
        assert out[r.doc_id] == want, (r, c1, c2)
    # every input row labeled (NULL group included)
    assert len(out) == len(rows)


def test_quantile_bucket_validation(spark):
    from xenoeye_spark.operators.summary import quantile_bucket

    df = spark.createDataFrame([Row(doc_id=1, g="a", v=1.0)])
    with pytest.raises(ValueError, match="labels"):
        quantile_bucket(df, ["g"], "v", probs=[0.5], labels=["x"])
    with pytest.raises(ValueError, match="increasing"):
        quantile_bucket(df, ["g"], "v", probs=[0.6, 0.4],
                        labels=["a", "b", "c"])
    with pytest.raises(ValueError, match="\\(0, 1\\)"):
        quantile_bucket(df, ["g"], "v", probs=[0.0, 0.5],
                        labels=["a", "b", "c"])
    with pytest.raises(ValueError, match="collide"):
        quantile_bucket(df.withColumn("bucket", F.lit(1)), ["g"], "v")


def test_quantile_bucket_ccnet_composition(spark):
    """The CCNet recipe end-to-end: bigram-LM perplexity scores ->
    per-language head/middle/tail terciles. Head docs must have the
    LOWEST perplexity (labels[0] = low end), and each language splits
    roughly in thirds."""
    from xenoeye_spark.datapipe.ranking import bigram_lm_score
    from xenoeye_spark.operators.summary import quantile_bucket

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    tr = docs.filter(F.col("doc_id") % 5 != 0)
    scored = bigram_lm_score(ev, tr, k=0.5).join(
        ev.select("doc_id", "lang"), "doc_id"
    )
    labeled = quantile_bucket(scored, ["lang"], "lm_ppl")
    rows = labeled.select("lang", F.col("lm_ppl").alias("ppl"),
                          "bucket").collect()
    assert rows and {r.bucket for r in rows} <= {"head", "middle", "tail"}
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        heads = [r.ppl for r in rs if r.bucket == "head"]
        tails = [r.ppl for r in rs if r.bucket == "tail"]
        if heads and tails:
            assert max(heads) <= min(tails), lang
        # tercile balance within rounding slack
        for b in ("head", "middle", "tail"):
            n = sum(1 for r in rs if r.bucket == b)
            assert abs(n - len(rs) / 3) <= 2 + len(rs) * 0.1, (lang, b)


# ------------------------------------------- xe_curate warc doc_id guard

def test_warc_doc_id_guard(spark):
    """rec_index >= 1e6 would silently collide into the next source's
    id space — the guarded expression raises per-row instead."""
    import scripts.xe_curate as curate

    ok = spark.createDataFrame(
        [Row(source_id=3, rec_index=999_999)]
    ).select(curate.warc_doc_id()).collect()
    assert ok[0].doc_id == 3_999_999
    bad = spark.createDataFrame([Row(source_id=3, rec_index=1_000_000)])
    with pytest.raises(Exception, match="outside \\[0, 1e6\\)"):
        bad.select(curate.warc_doc_id()).collect()
    # r11: a NEGATIVE rec_index from a corrupt walker would collide
    # into the previous source's id space just as silently
    neg = spark.createDataFrame([Row(source_id=3, rec_index=-1)])
    with pytest.raises(Exception, match="outside \\[0, 1e6\\)"):
        neg.select(curate.warc_doc_id()).collect()


# ------------------------------------------ quantile_clip NULL groups

def test_quantile_clip_null_group_survives(spark):
    """r10 fix: a NULL group key is a legitimate group (matching
    groupBy / DuckDB GROUP BY) — before the eqNullSafe join those rows
    silently vanished through the inner equi-join."""
    from xenoeye_spark.operators.summary import quantile_clip

    rows = (
        [Row(doc_id=i, g="a", v=float(i)) for i in range(1, 11)]
        + [Row(doc_id=100 + i, g=None, v=float(10 * i))
           for i in range(1, 11)]
    )
    df = spark.createDataFrame(rows, "doc_id long, g string, v double")
    out = quantile_clip(df, ["g"], "v", lo=0.1, hi=0.9).collect()
    # no row lost — the NULL group is present with its own band
    assert len(out) == len(rows)
    nulls = sorted(
        (r.v, r.clipped) for r in out if r.g is None
    )
    # NULL group's band is [p10, p90] of ITS OWN values 10..100
    # (linear interpolation: p10 = 19.0, p90 = 91.0)
    assert nulls[0] == (10.0, 19.0)
    assert nulls[-1] == (100.0, 91.0)
    # the "a" group clamps against its own 1..10 band, untouched by
    # the NULL group's values
    a_vals = {r.v: r.clipped for r in out if r.g == "a"}
    assert a_vals[1.0] == 1.9 and a_vals[10.0] == 9.1


def test_quantile_clip_reserved_bounds_key_name(spark):
    from xenoeye_spark.operators.summary import quantile_clip

    df = spark.createDataFrame(
        [Row(doc_id=1, g="a", _qk_g="x", v=1.0)]
    )
    with pytest.raises(ValueError, match="collide"):
        quantile_clip(df, ["g"], "v")


def test_mixture_order_rank_col_feeds_shard_writer(spark, tmp_path):
    """Full 100-TB-shaped composition: distributed per-source rank →
    interleave keys → deterministic shard writer, no window anywhere
    in the chain."""
    from xenoeye_spark.datapipe.layout import write_training_shards
    from xenoeye_spark.datapipe.sampling import mixture_order, source_rank

    weights = {"a": 3, "b": 1, "c": 2}
    rows = _mix_rows(96)
    ordered = mixture_order(
        source_rank(spark.createDataFrame(rows)),
        weights,
        rank_col="src_rank",
    )
    n = write_training_shards(
        ordered, str(tmp_path / "shards"), "interleave_key",
        rows_per_shard=16, id_col="doc_id",
    )
    back = (
        spark.read.parquet(str(tmp_path / "shards"))
        .orderBy("_shard", "interleave_key", "doc_id")
        .collect()
    )
    assert n == len(back) // 16 + (1 if len(back) % 16 else 0)
    # writer order == interleave order
    keys = [(r.interleave_key, r.doc_id) for r in back]
    assert keys == sorted(keys)
    # ratio property holds over the full order
    big = lcm(*weights.values())
    assert big == 6
    counts = {s: sum(1 for r in back if r.source == s) for s in weights}
    assert counts == {
        s: sum(1 for r in rows if r.source == s) for s in weights
    }


# ------------------------------------------- strip_common_lines (r11)

def _py_strip_common(rows, min_docs):
    """Literal python twin of strip_common_lines: count DISTINCT docs
    per non-blank line, strip >= min_docs lines from every doc. NOTE
    strip(' '): Spark trim and DuckDB trim are SPACE-only — python's
    all-whitespace strip() would call a tab-only line blank where the
    engines don't."""
    blank = lambda x: x.strip(" ") == ""  # noqa: E731

    freq: dict[str, set] = {}
    for did, text in rows:
        for ln in text.split("\n"):
            if not blank(ln):
                freq.setdefault(ln, set()).add(did)
    common = {ln for ln, s in freq.items() if len(s) >= min_docs}
    out = {}
    for did, text in rows:
        ls = text.split("\n")
        kept = [x for x in ls if blank(x) or x not in common]
        nb = sum(1 for x in ls if not blank(x))
        keptnb = sum(1 for x in kept if not blank(x))
        out[did] = ("\n".join(kept), nb, nb - keptnb)
    return out


def test_strip_common_lines_matches_twin(spark):
    from xenoeye_spark.datapipe.text import strip_common_lines

    rows = (
        # footer in 6 docs (>= min_docs=3), banner in exactly 3,
        # near-miss in 2, blanks, repeated-within-one-doc line (one
        # doc only -> survives), a doc that empties completely
        [(i, f"body {i}\nFOOTER\n\nu{i}") for i in range(6)]
        + [(10 + i, f"x {i}\nBANNER") for i in range(3)]
        + [(20 + i, f"y {i}\nnear miss") for i in range(2)]
        + [(30, "solo\nsolo\nsolo")]
        + [(31, "FOOTER\nBANNER")]
        # a tab-only line is NOT blank under the engines' space-only
        # trim: shared by 3 docs, it must strip like any other line
        + [(40 + i, f"tabdoc {i}\n\t\nu{40 + i}") for i in range(3)]
    )
    want = _py_strip_common(rows, 3)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text, r.n_lines, r.n_stripped)
           for r in strip_common_lines(df, min_docs=3).collect()}
    assert got == want
    # the rule's promises, independently of the twin
    assert got[31] == ("", 2, 2)                 # emptied entirely
    assert got[0] == ("body 0\n\nu0", 3, 1)      # blank survived
    assert got[30] == ("solo\nsolo\nsolo", 3, 0)  # one-doc repeat kept
    assert got[20][2] == 0                        # below threshold


def test_strip_common_lines_validation_and_every_doc(spark):
    from xenoeye_spark.datapipe.text import strip_common_lines

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_docs"):
        strip_common_lines(df, min_docs=1)
    # a single-doc corpus: nothing is common, everything survives
    out = strip_common_lines(df, min_docs=2).collect()
    assert [(r.doc_id, r.text, r.n_lines, r.n_stripped)
            for r in out] == [(1, "a", 1, 0)]


def test_strip_common_lines_preserves_null_text(spark):
    """r12 advice: a NULL-text doc (an upstream quarantine marker,
    e.g. decompress on_error='null') must come back with NULL text and
    NULL counts — never silently rewritten to ''."""
    from xenoeye_spark.datapipe.text import strip_common_lines

    rows = [(i, f"body {i}\nFOOTER") for i in range(4)] + [(9, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text, r.n_lines, r.n_stripped)
           for r in strip_common_lines(df, min_docs=3).collect()}
    assert got[9] == (None, None, None)
    assert got[0] == ("body 0", 2, 1)           # the rule still runs
    assert set(got) == {0, 1, 2, 3, 9}          # every doc appears
