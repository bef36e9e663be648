"""Round-4 operators: interval_join, time_rollup, gopher_quality,
segment_dedup, bm25_score, vocab_topk, kmv_distinct,
contamination_check."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from xenoeye_spark.datapipe.dedup import segment_dedup, token_chunks
from xenoeye_spark.datapipe.ranking import (
    KMV_M, KMV_MIX, KMV_P, bm25_score, kmv_distinct, vocab_topk,
)
from xenoeye_spark.datapipe.text import gopher_quality
from xenoeye_spark.operators.rollup import time_rollup
from xenoeye_spark.operators.temporal import interval_join


# ---------------------------------------------------------------- interval

def test_interval_join_matches_theta_join(spark):
    import random

    rng = random.Random(7)
    left = [
        Row(iv_id=i, key=rng.randrange(4), start=rng.randrange(0, 1000),
            end=0)
        for i in range(40)
    ]
    left = [r.asDict() | {"end": r.start + rng.randrange(0, 120)} for r in left]
    right = [
        Row(ev_id=i, key=rng.randrange(4), t=rng.randrange(0, 1100))
        for i in range(300)
    ]
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame([r.asDict() for r in right])

    got = sorted(
        (r.iv_id, r.ev_id)
        for r in interval_join(
            ldf, rdf, "start", "end", "t", bucket_width=64, by="key"
        ).collect()
    )
    want = sorted(
        (lr["iv_id"], rr.ev_id)
        for lr in left for rr in right
        if lr["key"] == rr.key and lr["start"] <= rr.t <= lr["end"]
    )
    assert got == want and len(got) > 0


def test_interval_join_no_key(spark):
    ldf = spark.createDataFrame([Row(iv=1, s=10, e=20), Row(iv=2, s=15, e=15)])
    rdf = spark.createDataFrame([Row(ev=1, t=15), Row(ev=2, t=21)])
    got = sorted(
        (r.iv, r.ev)
        for r in interval_join(ldf, rdf, "s", "e", "t", bucket_width=7).collect()
    )
    assert got == [(1, 1), (2, 1)]


def test_interval_join_is_hash_join_not_bnl(spark):
    ldf = spark.range(100).select(
        F.col("id").alias("iv"), (F.col("id") * 10).alias("s"),
        (F.col("id") * 10 + 5).alias("e"),
    )
    rdf = spark.range(1000).select(F.col("id").alias("ev"), F.col("id").alias("t"))
    plan = interval_join(
        ldf, rdf, "s", "e", "t", bucket_width=16
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


# ----------------------------------------------------------------- rollup

def test_time_rollup_grains_add_up(spark):
    rows = [
        Row(ts=f"2026-01-0{d} {h:02d}:{m:02d}:00", k="a" if m % 2 else "b",
            v=float(d * 100 + h * 10 + m))
        for d in (1, 2) for h in (0, 1, 5) for m in (0, 7, 30)
    ]
    df = spark.createDataFrame(rows).select(
        F.col("ts").cast("timestamp").alias("ts"), "k", "v"
    )
    out = time_rollup(df, "ts", ["k"], "v", grains=["hour", "day"]).collect()
    hours = [r for r in out if r.grain == "hour"]
    days = [r for r in out if r.grain == "day"]
    assert sum(r.n_rows for r in hours) == len(rows)
    assert sum(r.n_rows for r in days) == len(rows)
    # each day bucket equals the sum of its hour buckets
    for d in days:
        member_hours = [
            r for r in hours
            if r.k == d.k and r.bucket_ts.date() == d.bucket_ts.date()
        ]
        assert math.isclose(d.sum_value, sum(r.sum_value for r in member_hours))
    # the finest-grain exchange is computed once and REUSED by coarser
    # grains (AQE resolves exchange reuse at runtime — execute, then read
    # the final plan)
    df2 = time_rollup(df, "ts", ["k"], "v", grains=["hour", "day"])
    df2.collect()
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert "Reused" in plan, plan


def test_time_rollup_rejects_unknown_grain(spark):
    df = spark.createDataFrame([Row(ts="2026-01-01", v=1.0)])
    try:
        time_rollup(df, "ts", [], "v", grains=["fortnight"])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# ----------------------------------------------------------------- gopher

def test_gopher_quality_rules(spark):
    docs = spark.createDataFrame([
        # clean english-ish doc: passes
        Row(doc_id=0, text="the quick brown fox jumps over the lazy dog today"),
        # too short
        Row(doc_id=1, text="hi there"),
        # symbol soup: symbol/word ratio breach
        Row(doc_id=2, text="# # # word # lists # of # hashes # everywhere #"),
        # one bigram dominates: repetition breach
        Row(doc_id=3, text="spam ham " * 20),
        # huge mean word length
        Row(doc_id=4, text="aaaaaaaaaaaaaaaaaaaaaa " * 6),
    ])
    got = {r.doc_id: r for r in gopher_quality(docs).collect()}
    assert got[0].gopher_pass
    assert not got[1].gopher_pass        # n_words < 5
    assert not got[2].gopher_pass        # symbol ratio
    assert got[2].symbol_word_ratio > 0.1
    assert not got[3].gopher_pass        # top bigram frac ~ 0.5
    assert got[3].top_bigram_frac > 0.4
    assert not got[4].gopher_pass        # mean word len > 10
    assert got[4].mean_word_len > 10


def test_gopher_quality_empty_doc(spark):
    docs = spark.createDataFrame([Row(doc_id=0, text="   ")])
    [r] = gopher_quality(docs).collect()
    assert r.n_words == 0 and not r.gopher_pass


# ----------------------------------------------------------- segment dedup

def test_segment_dedup_cross_doc_first_occurrence(spark):
    docs = spark.createDataFrame([
        Row(doc_id=0, text="alpha beta|gamma delta"),
        Row(doc_id=1, text="gamma delta|epsilon"),   # first seg dup of doc0 seg2
        Row(doc_id=2, text="alpha beta|alpha beta"), # self-dup + dup of doc0
        Row(doc_id=3, text=""),
    ])
    segs = F.filter(F.split(F.col("text"), r"\|"), lambda s: s != "")
    got = {r.doc_id: r for r in segment_dedup(docs, segs).collect()}
    assert (got[0].n_segments, got[0].n_kept) == (2, 2)
    assert (got[1].n_segments, got[1].n_kept) == (2, 1)
    assert (got[2].n_segments, got[2].n_kept) == (2, 0)
    assert (got[3].n_segments, got[3].n_kept) == (0, 0)
    import hashlib
    assert got[1].kept_digest == hashlib.md5(b"epsilon").hexdigest()
    assert got[3].kept_digest == hashlib.md5(b"").hexdigest()


def test_segment_dedup_null_id_claims_nothing(spark):
    """A NULL doc id holds no first occurrence: with rows (NULL, A),
    (1, A), (2, A), doc 1 keeps both paragraphs, doc 2 keeps none, and
    the NULL row keeps its own text."""
    import hashlib

    a = "first paragraph here\n\nsecond paragraph there"
    docs = spark.createDataFrame(
        [(None, a), (1, a), (2, a)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in segment_dedup(
        docs, F.split(F.col("text"), "\n\n")
    ).collect()}
    assert (got[1].n_segments, got[1].n_kept) == (2, 2)
    assert (got[2].n_segments, got[2].n_kept) == (2, 0)
    assert (got[None].n_segments, got[None].n_kept) == (2, 2)
    assert got[1].kept_digest == got[None].kept_digest == hashlib.md5(
        a.replace("\n\n", " ").encode()
    ).hexdigest()
    assert got[2].kept_digest == hashlib.md5(b"").hexdigest()


def test_token_chunks_segmenter(spark):
    docs = spark.createDataFrame([Row(doc_id=0, text="a b c d e f g")])
    [r] = docs.select(token_chunks(F.col("text"), 3).alias("c")).collect()
    assert r.c == ["a b c", "d e f", "g"]


# ------------------------------------------------------------------- bm25

def _py_bm25(corpus, terms, k1=1.2, b=0.75):
    toks = {i: t.split() for i, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, v in toks.items():
        s = 0.0
        m = 0
        for t in terms:
            tf = v.count(t)
            if not tf:
                continue
            m += 1
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if m:
            out[i] = (round(s, 6), m)
    return out


def test_bm25_matches_reference_formula(spark):
    corpus = {
        0: "spark table scan fast fast",
        1: "slow table",
        2: "spark spark spark",
        3: "nothing relevant here",
    }
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in corpus.items()]
    )
    got = {
        r.doc_id: (r.bm25, r.n_terms_matched)
        for r in bm25_score(docs, ["spark", "fast"]).collect()
    }
    want = _py_bm25(corpus, ["spark", "fast"])
    assert set(got) == set(want)
    for i in want:
        assert math.isclose(got[i][0], want[i][0], abs_tol=1e-6)
        assert got[i][1] == want[i][1]


# ------------------------------------------------------------------ vocab

def test_vocab_topk(spark):
    docs = spark.createDataFrame([
        Row(doc_id=0, text="a b a c"),
        Row(doc_id=1, text="a b b"),
    ])
    got = [(r.token, r.n_occurrences, r.n_docs)
           for r in vocab_topk(docs, k=2).collect()]
    assert got == [("a", 3, 2), ("b", 3, 2)]  # tie broken by token asc


# -------------------------------------------------------------------- kmv

def _poly(tok: str) -> int:
    acc = 0
    for ch in tok:
        acc = (acc * KMV_M + ord(ch)) % KMV_P
    return acc * KMV_MIX % KMV_P


def test_kmv_poly_sql_spelling():
    """The one spelling of the interpreted char-polynomial fold behind
    kmv_distinct, its stream twin and the Count-Min sketch: the string
    is pinned so the timed kmv_distinct plan cannot drift."""
    from xenoeye_spark.datapipe.ranking import kmv_poly_sql

    assert kmv_poly_sql("t") == (
        "aggregate(transform(split(t, ''), ch -> ascii(ch)), 0L, "
        "(acc, x) -> (acc * 31 + x) % 1073741789)"
    )


def test_kmv_underfull_is_exact(spark):
    docs = spark.createDataFrame([
        Row(doc_id=0, src="x", text="a b c a"),
        Row(doc_id=1, src="x", text="c d"),
    ])
    [r] = kmv_distinct(docs, "src", k=256).collect()
    assert r.n_distinct_exact == 4 and r.kmv_estimate == 4.0


def test_kmv_estimate_formula_and_accuracy(spark):
    words = [f"w{i}x" for i in range(3000)]
    docs = spark.createDataFrame(
        [Row(doc_id=i, src="s", text=" ".join(words[i * 30:(i + 1) * 30]))
         for i in range(100)]
    )
    k = 64
    [r] = kmv_distinct(docs, "src", k=k).collect()
    hashes = sorted(set(_poly(w) for w in words))
    assert r.n_distinct_exact == len(hashes)
    want = round((k - 1) * float(KMV_P) / hashes[k - 1], 6)
    assert r.kmv_estimate == want
    # sketch accuracy: within ~3/sqrt(k) of truth
    assert abs(r.kmv_estimate - len(hashes)) / len(hashes) < 3 / math.sqrt(k)


def test_kmv_prefilter_matches_plain(spark, monkeypatch):
    """The r5 coarse-threshold prefilter is selection-exact: output equals
    the single-window plan on a fixture that exercises every path — a big
    group the cut actually prunes, a short group the fallback re-admits
    in full, an under-full group (estimate = exact), and a NULL group.

    XE_KMV_LOCAL_ROWS=0 pins the REAL prefilter path (r13, ADVICE r12):
    without it the r12 size-adaptive bypass routes every test-sized
    input to the plain plan and the hash-cut/short-fallback machinery —
    the scale path — would go unexercised. A third arm runs the bypass
    (default env) and must match too."""
    rows = []
    # big group: 100 docs x 30 distinct tokens >> k=16
    words = [f"w{i}x" for i in range(3000)]
    rows += [Row(doc_id=i, src="big", text=" ".join(words[i * 30:(i + 1) * 30]))
             for i in range(100)]
    # short group: 20 distinct tokens, just above k=16 (cut likely short)
    rows += [Row(doc_id=1000, src="short", text=" ".join(f"s{i}" for i in range(20)))]
    # under-full group: 4 distinct < k
    rows += [Row(doc_id=2000, src="tiny", text="a b c d a")]
    # NULL group
    rows += [Row(doc_id=3000, src=None, text="n1 n2 n3 " + " ".join(f"q{i}" for i in range(40)))]
    docs = spark.createDataFrame(rows)

    key = lambda r: (r.src or "", r.n_distinct_exact, r.kmv_k, r.kmv_estimate)
    plain = kmv_distinct(docs, "src", k=16, prefilter_factor=None)
    got_plain = sorted(map(key, plain.collect()))

    bypass = kmv_distinct(docs, "src", k=16, prefilter_factor=2)
    got_bypass = sorted(map(key, bypass.collect()))
    bypass._xe_cached.unpersist()

    monkeypatch.setenv("XE_KMV_LOCAL_ROWS", "0")
    pref = kmv_distinct(docs, "src", k=16, prefilter_factor=2)
    got_pref = sorted(map(key, pref.collect()))
    pref._xe_cached.unpersist()

    assert got_pref == got_plain == got_bypass
    assert len(got_pref) == 4


# ---------------------------------------------------------- contamination

def test_contamination_check(spark):
    from xenoeye_spark.datapipe.dedup import contamination_check

    train = spark.createDataFrame([
        Row(doc_id=10, text="one two three four five six seven"),
        Row(doc_id=11, text="alpha beta gamma delta epsilon zeta"),
    ])
    ev = spark.createDataFrame([
        # shares the 5-gram "two three four five six" with train doc 10
        Row(doc_id=0, text="zero two three four five six extra"),
        # clean
        Row(doc_id=1, text="red green blue yellow purple orange"),
        # too short for a 5-shingle
        Row(doc_id=2, text="tiny doc"),
    ])
    got = {r.doc_id: r for r in contamination_check(ev, train, n=5).collect()}
    # of doc 0's 3 shingles, exactly "two three four five six" is in train
    assert got[0].is_contaminated == 1 and got[0].n_hits == 1
    assert got[0].n_shingles == 3
    assert got[1].is_contaminated == 0 and got[1].n_hits == 0
    assert got[2].n_shingles == 0 and got[2].is_contaminated == 0


def test_contamination_df_cap_drops_boilerplate(spark):
    from xenoeye_spark.datapipe.dedup import contamination_check

    boiler = "this is common boilerplate text here"
    train = spark.createDataFrame(
        [Row(doc_id=i, text=boiler) for i in range(10, 15)]
        + [Row(doc_id=20, text="rare unique five gram signal phrase")]
    )
    ev = spark.createDataFrame([
        Row(doc_id=0, text=boiler),
        Row(doc_id=1, text="rare unique five gram signal phrase"),
    ])
    got = {
        r.doc_id: r
        for r in contamination_check(ev, train, n=5, train_df_cap=3).collect()
    }
    # boilerplate shingles occur in 5 train docs > cap 3 -> dropped
    assert got[0].n_hits == 0
    assert got[1].n_hits > 0


# -------------------------------------------------------------- bucketing

def test_bucketed_join_is_shuffle_free(spark):
    from xenoeye_spark.datapipe.layout import bucketed_join, write_bucketed

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        write_bucketed(a, "t_bkt_a", ["k"], 4, sort_cols=["k"])
        write_bucketed(b, "t_bkt_b", ["k"], 4, sort_cols=["k"])
        j = bucketed_join(spark, "t_bkt_a", "t_bkt_b", ["k"])
        assert j.count() == 1000
        plan = j._jdf.queryExecution().executedPlan().toString()
        # the whole point: the shuffle was paid at write time, the join
        # plan itself has NO exchange on either side
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


# -------------------------------------------------------------- quantiles

def test_group_quantiles_exact_matches_numpy(spark):
    import numpy as np

    from xenoeye_spark.operators.summary import group_quantiles

    import random
    rng = random.Random(3)
    rows = [Row(g=f"g{i % 3}", v=float(rng.randrange(0, 10000)))
            for i in range(500)]
    df = spark.createDataFrame(rows)
    got = {r.g: r for r in group_quantiles(df, ["g"], "v").collect()}
    for g in ("g0", "g1", "g2"):
        vals = np.array([r.v for r in rows if r.g == g])
        assert got[g].n_rows == len(vals)
        for p, col in [(50, "p50"), (90, "p90"), (99, "p99")]:
            assert got[g][col] == round(
                float(np.percentile(vals, p, method="linear")), 6
            ), (g, p)


def test_group_quantiles_approx_close(spark):
    from xenoeye_spark.operators.summary import group_quantiles

    df = spark.range(10000).select(
        F.lit("a").alias("g"), F.col("id").cast("double").alias("v")
    )
    [r] = group_quantiles(df, ["g"], "v", probs=[0.5], exact=False).collect()
    assert abs(r.p50 - 4999.5) < 50  # GK sketch within accuracy bound


# --------------------------------------------------------- streaming dedup

def test_dedup_stream_suppresses_duplicates(spark, tmp_path):
    from pyspark.sql import types as T

    from xenoeye_spark.streaming.dedup_stream import dedup_stream

    src = str(tmp_path / "src")
    # two part files (append) -> with maxFilesPerTrigger=1 the stream
    # processes them as separate micro-batches; key "a" recurs in both
    spark.createDataFrame(
        [("a", "2026-01-01 00:00:00", 1), ("b", "2026-01-01 00:00:10", 2)],
        "k string, ts string, payload long",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(
        [("a", "2026-01-01 00:00:20", 3), ("c", "2026-01-01 00:00:30", 4)],
        "k string, ts string, payload long",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1) \
        .write.mode("append").parquet(src)

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("payload", T.LongType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = dedup_stream(stream, ["k"], "ts", watermark_delay="10 minutes")
    q = (
        out.writeStream.format("memory").queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT k FROM dedup_out").collect()
    assert sorted(r.k for r in rows) == ["a", "b", "c"]


def test_dedup_stream_rejects_ts_in_keys(spark):
    from xenoeye_spark.streaming.dedup_stream import dedup_stream

    df = spark.createDataFrame([("a", 1)], "k string, v long")
    try:
        dedup_stream(df, ["k", "ts"], "ts")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_dedup_batch_first_wins(spark):
    from xenoeye_spark.streaming.dedup_stream import dedup_batch_first_wins

    df = spark.createDataFrame(
        [("a", 5, "late"), ("a", 1, "first"), ("b", 3, "only")],
        "k string, seq long, tag string",
    )
    got = {r.k: (r.seq, r.tag)
           for r in dedup_batch_first_wins(df, ["k"], "seq").collect()}
    assert got == {"a": (1, "first"), "b": (3, "only")}


# ------------------------------------------------------------------ tfidf

def test_tfidf_topterms(spark):
    from xenoeye_spark.datapipe.ranking import tfidf_topterms

    corpus = {
        0: "apple apple banana common common",
        1: "banana cherry common",
        2: "common cherry cherry date",
    }
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in corpus.items()]
    )
    got = {}
    for r in tfidf_topterms(docs, top_n=2).collect():
        got.setdefault(r.doc_id, []).append((r.term_rank, r.term, r.tfidf))
    # python twin
    n = len(corpus)
    toks = {i: t.split() for i, t in corpus.items()}
    df = {}
    for v in toks.values():
        for t in set(v):
            df[t] = df.get(t, 0) + 1
    for i, v in toks.items():
        scores = sorted(
            ((-v.count(t) * math.log(n / df[t]), t) for t in set(v))
        )[:2]
        want = [
            (rk + 1, t, round(-s, 6)) for rk, (s, t) in enumerate(scores)
        ]
        assert sorted(got[i]) == want, (i, got[i], want)
    # "common" appears in every doc -> idf 0 -> never a top term over
    # a positive-scoring alternative
    assert all(t != "common" or s == 0.0
               for terms in got.values() for _, t, s in terms)


# ------------------------------------------------------------- hash split

def test_hash_split_deterministic_and_partitioned(spark):
    from xenoeye_spark.datapipe.sampling import hash_split

    df = spark.range(10000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(df, w).collect()}
    b = {r.doc_id: r.split for r in hash_split(df, w).collect()}
    assert a == b                                   # reproducible
    from collections import Counter
    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert abs(c["train"] / 10000 - 0.8) < 0.02     # fractions hold
    assert abs(c["val"] / 10000 - 0.1) < 0.02
    # salt decorrelates
    s = {r.doc_id: r.split for r in hash_split(df, w, salt=7).collect()}
    assert s != a


def test_hash_split_rejects_bad_weights(spark):
    from xenoeye_spark.datapipe.sampling import hash_split

    df = spark.range(10).select(F.col("id").alias("doc_id"))
    try:
        hash_split(df, {"a": 0.5, "b": 0.2})
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# ---------------------------------------------------------------- packing

def test_pack_sequences_capacity_quantized(spark):
    from xenoeye_spark.datapipe.sampling import pack_sequences

    import random
    rng = random.Random(11)
    rows = [Row(doc_id=i, n=rng.randrange(50, 900)) for i in range(200)]
    df = spark.createDataFrame(rows)
    out = pack_sequences(df, capacity=2048, len_col="n").collect()
    assert len(out) == 200
    # python twin: FFD order, exclusive cumsum, floor-division bins
    order = sorted(rows, key=lambda r: (-r.n, r.doc_id))
    cum = 0
    want = {}
    for r in order:
        want[r.doc_id] = (cum // 2048, cum - (cum // 2048) * 2048)
        cum += r.n
    got = {r.doc_id: (r.bin_id, r.bin_offset) for r in out}
    assert got == want
    # overflow bound: every bin's total <= capacity + max doc len
    totals = {}
    lens = {r.doc_id: r.n for r in rows}
    for d, (b, _) in got.items():
        totals[b] = totals.get(b, 0) + lens[d]
    mx = max(lens.values())
    assert all(t <= 2048 + mx for t in totals.values())
    # bins are contiguous 0..K
    assert sorted(set(b for b, _ in got.values())) == list(
        range(max(b for b, _ in got.values()) + 1)
    )


def test_pack_sequences_oversized_doc_gets_own_bins(spark):
    from xenoeye_spark.datapipe.sampling import pack_sequences

    df = spark.createDataFrame(
        [Row(doc_id=0, n=5000), Row(doc_id=1, n=100), Row(doc_id=2, n=100)]
    )
    out = {r.doc_id: r.bin_id for r in
           pack_sequences(df, capacity=1024, len_col="n").collect()}
    assert out[0] == 0          # giant doc opens bin 0
    assert out[1] != 0 and out[2] == out[1]  # smalls land past its span


# -------------------------------------------------------------- bigram LM

def test_bigram_lm_matches_python_twin(spark):
    from xenoeye_spark.datapipe.ranking import bigram_lm_score

    train = {
        10: "the cat sat on the mat",
        11: "the dog sat on the rug",
    }
    ev = {
        0: "the cat sat",          # all bigrams seen
        1: "zebra quantum flux",   # nothing seen
        2: "word",                 # < 2 tokens: NULL score, 0 bigrams
    }
    tdf = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in train.items()])
    edf = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in ev.items()])
    got = {r.doc_id: r for r in bigram_lm_score(edf, tdf, k=0.5).collect()}

    # python twin
    ttoks = [t.split() for t in train.values()]
    c2, c1 = {}, {}
    for ts in ttoks:
        for a, b in zip(ts, ts[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
        for a in ts:
            c1[a] = c1.get(a, 0) + 1
    V = len(c1)
    for i, t in ev.items():
        ts = t.split()
        bgs = list(zip(ts, ts[1:]))
        if not bgs:
            # r5 contract: bigram-less docs still appear, score NULL
            assert got[i].n_bigrams == 0 and got[i].n_unseen == 0
            assert got[i].lm_score is None and got[i].lm_ppl is None
            continue
        lps = [
            math.log((c2.get(bg, 0) + 0.5) / (c1.get(bg[0], 0) + 0.5 * V))
            for bg in bgs
        ]
        want = round(sum(lps) / len(lps), 6)
        assert got[i].lm_score == want, (i, got[i].lm_score, want)
        assert got[i].n_bigrams == len(bgs)
        assert got[i].n_unseen == sum(1 for bg in bgs if bg not in c2)
    assert got[0].lm_score > got[1].lm_score  # junk scores lower


# ------------------------------------------------------ randomized twins

def test_segment_dedup_random_vs_python_twin(spark):
    """Random corpora with heavy cross-doc segment duplication: the
    Spark result must equal a direct python first-occurrence replay."""
    import hashlib
    import random

    for seed in (1, 7, 23):
        rng = random.Random(seed)
        docs = []
        for d in range(120):
            segs = [f"s{rng.randrange(40)}" for _ in range(rng.randrange(0, 6))]
            docs.append((d, "|".join(segs)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        segs_col = F.filter(F.split(F.col("text"), r"\|"), lambda s: s != "")
        got = {r.doc_id: (r.n_segments, r.n_kept, r.kept_digest)
               for r in segment_dedup(df, segs_col).collect()}

        seen = set()
        for d, text in docs:
            segs = [s for s in text.split("|") if s != ""]
            kept = []
            for s in segs:
                if s not in seen:
                    seen.add(s)
                    kept.append(s)
            digest = hashlib.md5(" ".join(kept).encode()).hexdigest()
            assert got[d] == (len(segs), len(kept), digest), (seed, d)


def test_contamination_random_vs_python_twin(spark):
    from xenoeye_spark.datapipe.dedup import contamination_check
    import random

    for seed in (3, 11):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(25)]
        mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))
        train = [(100 + i, mk(rng.randrange(4, 30))) for i in range(40)]
        ev = [(i, mk(rng.randrange(0, 30))) for i in range(25)]
        n = 4
        tdf = spark.createDataFrame(train, "doc_id long, text string")
        edf = spark.createDataFrame(ev, "doc_id long, text string")
        got = {r.doc_id: (r.n_shingles, r.n_hits, r.is_contaminated)
               for r in contamination_check(edf, tdf, n=n).collect()}

        def shingles(t):
            ts = t.split()
            return {" ".join(ts[i:i + n]) for i in range(len(ts) - n + 1)}

        tr_set = set().union(*(shingles(t) for _, t in train))
        for d, t in ev:
            sh = shingles(t)
            hits = len(sh & tr_set)
            assert got[d] == (len(sh), hits, int(hits > 0)), (seed, d)


def test_hash_split_rejects_out_of_domain_ids(spark):
    """Ids outside [0, 2^32) or NULL raise at execution instead of
    silently wrapping the int64 product / landing in the last split
    via a negative % remainder (r5 guard)."""
    import pytest
    from pyspark.errors import PySparkException

    from xenoeye_spark.datapipe.sampling import hash_split

    w = {"train": 0.8, "test": 0.2}
    ok = spark.createDataFrame([(0,), ((1 << 32) - 1,)], "doc_id long")
    assert hash_split(ok, w).count() == 2
    for bad in (-1, 1 << 33, None):
        df = spark.createDataFrame([(bad,)], "doc_id long")
        with pytest.raises(PySparkException):
            hash_split(df, w).collect()
    with pytest.raises(ValueError):
        hash_split(ok, w, salt=-3)


def test_hash_split_values_unchanged_for_valid_ids(spark):
    """The pmod guard must not move any in-domain row between splits:
    the assignment equals the direct ((id+salt)*A+B) % P arithmetic."""
    from xenoeye_spark.datapipe.sampling import _A, _B, _P31, hash_split

    w = {"train": 0.5, "val": 0.3, "test": 0.2}
    ids = [0, 1, 7, 12345, 10**9, (1 << 32) - 6]  # salt=5: domain is [0, 2^32-5)
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.split for r in hash_split(df, w, salt=5).collect()}
    cut1, cut2 = int(0.5 * _P31), int(0.8 * _P31)
    for i in ids:
        h = ((i + 5) * _A + _B) % _P31
        want = "train" if h < cut1 else ("val" if h < cut2 else "test")
        assert got[i] == want, (i, got[i], want)
