"""Operator semantics tests: top-N+others, classification, mavg EWMA
(scalar-oracle exact), overlimit thresholds, scalar functions.

Modeled on the reference's behaviors (file:line cited per test)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from xenoeye_spark.functions.scalar import (
    div_l, div_r, ip4_to_str, min2, portstr, ppstr, str_to_ip4, tfstr, xdiv,
)
from xenoeye_spark.operators.classify import stamp_classes, top_percent_classes
from xenoeye_spark.operators.mavg import ewma_replay_py, mavg_overlimit, mavg_rates
from xenoeye_spark.operators.topn import top_n_with_others


# ---------------------------------------------------------------- top-N+others

def test_topn_others_basic(spark):
    """monit-objects-fwm.c:403-481: first `limit` sorted rows, remainder
    summed into one NULL-key row."""
    df = spark.createDataFrame(
        [("a", 100), ("b", 90), ("c", 80), ("d", 5), ("e", 3)],
        "k string, v long",
    )
    out = top_n_with_others(
        df, key_cols=["k"], val_cols=["v"],
        order_by=[F.col("v").desc()], n=3,
    ).collect()
    by_k = {r["k"]: r["v"] for r in out}
    assert by_k == {"a": 100, "b": 90, "c": 80, None: 8}


def test_topn_others_partitioned(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 9), (1, "c", 1),
         (2, "a", 7), (2, "b", 2), (2, "c", 1)],
        "t long, k string, v long",
    )
    out = top_n_with_others(
        df, key_cols=["k"], val_cols=["v"],
        order_by=[F.col("v").desc()], n=2, partition_by=["t"],
    ).collect()
    got = {(r["t"], r["k"]): r["v"] for r in out}
    assert got == {(1, "a"): 10, (1, "b"): 9, (1, None): 1,
                   (2, "a"): 7, (2, "b"): 2, (2, None): 1}


def test_topn_no_remainder_no_others_row(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    out = top_n_with_others(
        df, key_cols=["k"], val_cols=["v"], order_by=[F.col("v").desc()], n=5,
    ).collect()
    assert sorted(r["k"] for r in out if r["k"]) == ["a", "b"]
    assert all(r["k"] is not None for r in out)


# ------------------------------------------------------------- classification

def test_top_percent_inclusive_crossing_row(spark):
    """classification.c:540-608: emit sorted classes until cumulative >=
    top-percents%, inclusive of the crossing row."""
    df = spark.createDataFrame(
        [("x", 50), ("y", 30), ("z", 15), ("w", 5)], "k string, val long"
    )
    kept = {r["k"] for r in top_percent_classes(df, ["k"], "val", 60).collect()}
    # 50 covers 50% < 60 -> keep x; y's preceding cum 50 < 60 -> keep y (crossing)
    assert kept == {"x", "y"}

    kept90 = {r["k"] for r in top_percent_classes(df, ["k"], "val", 90).collect()}
    assert kept90 == {"x", "y", "z"}  # 50+30=80 < 90 -> z crosses


def test_stamp_classes_unmatched_empty_string(spark):
    """classification.c:954-956: no class -> '' (not NULL)."""
    flows = spark.createDataFrame([("tcp",), ("udp",), ("icmp",)], "proto string")
    model = spark.createDataFrame([("tcp", "bulk")], "proto string, class_name string")
    out = stamp_classes(flows, model, ["proto"]).collect()
    got = {r["proto"]: r["class0"] for r in out}
    assert got == {"tcp": "bulk", "udp": "", "icmp": ""}


# ----------------------------------------------------------------- mavg / EWMA

def test_ewma_replay_reference_recurrence():
    """monit-objects-mavg.c:571-593: N -= (dt/T)*N; N += V; dt>=T -> N=V."""
    T = int(10e9)  # 10s window
    ts = np.array([0, int(1e9), int(2e9)], dtype=np.int64)
    vals = np.array([100.0, 100.0, 100.0])
    n, tprev = ewma_replay_py(ts, vals, T)
    # manual: n=100; n=100-0.1*100+100=190; n=190-0.1*190+100=271
    assert n == pytest.approx(271.0)
    assert tprev == int(2e9)


def test_ewma_window_elapse_resets():
    T = int(10e9)
    ts = np.array([0, int(20e9)], dtype=np.int64)
    vals = np.array([500.0, 7.0])
    n, _ = ewma_replay_py(ts, vals, T)
    assert n == 7.0  # dt >= T -> N = V


def test_mavg_rates_matches_scalar_oracle(spark):
    """Distributed replay == scalar oracle per key, any partitioning."""
    rng = np.random.RandomState(7)
    rows = []
    base = 1_700_000_000
    for k in range(5):
        t = base
        for _ in range(50):
            t += int(rng.randint(1, 30))
            rows.append((k, float(t), float(rng.randint(1, 1000))))
    df = spark.createDataFrame(rows, "k long, ts double, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).repartition(4)
    out = {r["k"]: r["mavg_val"] for r in
           mavg_rates(df, ["k"], "v", window_sec=60).collect()}
    for k in range(5):
        kr = sorted([r for r in rows if r[0] == k], key=lambda r: r[1])
        ts_ns = np.array([int(r[1] * 1e9) for r in kr], dtype=np.int64)
        vals = np.array([r[2] for r in kr])
        n_exp, _ = ewma_replay_py(ts_ns, vals, int(60e9))
        assert out[k] == pytest.approx(n_exp, rel=1e-9)


def test_mavg_overlimit_default_and_perkey(spark):
    """monit-objects-mavg-limfile.c: per-key thresholds with default
    fallback; under= inverts (monit-objects-mavg-under.c)."""
    rates = spark.createDataFrame(
        [("a", 100.0), ("b", 10.0), ("c", 55.0)], "k string, rate double"
    )
    limits = spark.createDataFrame([("a", 200.0)], "k string, threshold double")
    over = mavg_overlimit(rates, limits, default_threshold=50.0, key_cols=["k"])
    got = {r["k"] for r in over.collect()}
    assert got == {"c"}  # a: 100 < 200 per-key; b: 10 < 50 default; c: 55 >= 50

    under = mavg_overlimit(
        rates, limits, default_threshold=50.0, key_cols=["k"], under=True
    )
    assert {r["k"] for r in under.collect()} == {"a", "b"}


# ------------------------------------------------------------ scalar functions

def test_scalar_div_family(spark):
    df = spark.createDataFrame(
        [(100, 3), (100, 0), (0, 5), (5000, 2), (7, 7)], "a long, b long"
    )
    out = df.select(
        xdiv(F.col("a"), F.col("b")).alias("d"),
        div_r(F.col("a"), F.col("b"), 100).alias("dr"),
        div_l(F.col("a"), F.col("b"), 10).alias("dl"),
    ).collect()
    assert [(r["d"], r["dr"], r["dl"]) for r in out] == [
        (33, 0, 10),      # 100/3=33 -> dr 0, dl 10
        (0, 0, 0),        # div by zero -> 0 (filter.h:399-401)
        (0, 0, 0),
        (2500, 2500, 1000),
        (1, 0, 1),
    ]


def test_div_l_exact_powers(spark):
    """log-free ladder: no libm rounding surprises at exact powers."""
    df = spark.createDataFrame([(10**i, 1) for i in range(1, 13)], "a long, b long")
    out = df.select(div_l(F.col("a"), F.col("b"), 10).alias("dl")).collect()
    assert [r["dl"] for r in out] == [10**i for i in range(1, 13)]


def test_min2_tfstr_portstr(spark):
    df = spark.createDataFrame([(443, 51000, 0x12), (53, 53, 0)],
                               "p1 long, p2 long, fl long")
    out = df.select(
        min2(F.col("p1"), F.col("p2")).alias("mn"),
        tfstr(F.col("fl")).alias("tf"),
        portstr(F.col("p1")).alias("ps"),
        ppstr(F.col("p1"), F.col("p2")).alias("pp"),
    ).collect()
    assert out[0]["mn"] == 443
    assert out[0]["tf"] == "ACK+SYN"  # high-bit-first join (utils.c:22-26)
    assert out[0]["ps"] == "https (443)"
    assert out[0]["pp"] == "https(443) ->"  # known -> unknown, p1 < p2
    assert out[1]["tf"] == ""
    assert out[1]["pp"] == "domain(53) -> domain(53)"


def test_ip4_roundtrip(spark):
    assert str_to_ip4("10.0.2.128") == 167772800
    df = spark.createDataFrame([(167772800,), (0,), (4294967295,)], "ip long")
    out = df.select(ip4_to_str(F.col("ip")).alias("s")).collect()
    assert [r["s"] for r in out] == ["10.0.2.128", "0.0.0.0", "255.255.255.255"]


# ------------------------------------------------------------ report helpers

def test_xe_rep_topn_other(spark):
    """EXTRA.md:296-342: period-wide top-N keys as series, rest as 'Other'."""
    from xenoeye_spark.operators.report import xe_rep
    rows = [(1, "a", 100), (1, "b", 50), (1, "c", 5), (1, "d", 1),
            (2, "a", 10), (2, "c", 7), (2, "d", 2)]
    df = spark.createDataFrame(rows, "time long, k string, val long")
    out = xe_rep(df, "k", "val", n=2).collect()
    got = {(r["time"], r["series"]): r["val"] for r in out}
    # top-2 overall: a (110), b (50); c+d lumped into Other
    assert got == {(1, "a"): 100, (1, "b"): 50, (1, "Other"): 6,
                   (2, "a"): 10, (2, "Other"): 9}


def test_mfreq_batch_semantics(spark):
    """filter.c:711-751 batch fixed point: more-frequent value wins,
    tie -> smaller."""
    from xenoeye_spark.operators.report import mfreq_batch
    rows = [(1, 80, 999), (2, 80, 443), (3, 443, 80), (4, 7, 8)]
    df = spark.createDataFrame(rows, "id long, p1 long, p2 long")
    out = {r["id"]: r["mfreq"] for r in mfreq_batch(df, "p1", "p2").collect()}
    # freq: 80 -> 3, 443 -> 2, 999 -> 1, 7 -> 1, 8 -> 1
    assert out[1] == 80   # 80(3) > 999(1)
    assert out[2] == 80   # 80(3) > 443(2)
    assert out[3] == 80   # 443(2) < 80(3)
    assert out[4] == 7    # tie 1-1 -> min


def test_doc_fingerprint_robust_to_small_edits(spark):
    """Winnowing property: fingerprints of a doc and a lightly-edited copy
    overlap heavily; disjoint docs don't."""
    from xenoeye_spark.datapipe.text import doc_fingerprint
    base = "the quick brown fox jumps over the lazy dog " * 5
    edited = base.replace("lazy", "hazy", 1)
    other = "completely different content with other words entirely " * 5
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, other), (4, ""), (5, "short")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in doc_fingerprint(df).collect()}
    fp1, fp2, fp3 = (set(out[i]["fingerprint"]) for i in (1, 2, 3))
    overlap12 = len(fp1 & fp2) / len(fp1 | fp2)
    overlap13 = len(fp1 & fp3) / len(fp1 | fp3)
    assert overlap12 > 0.6
    assert overlap13 < 0.05
    assert out[1]["fp_digest"] != out[3]["fp_digest"]
    assert out[4]["fp_size"] == 0
    assert out[5]["fp_size"] == 1  # shorter than k -> whole-text hash


def test_token_count_golden(spark):
    from xenoeye_spark.datapipe.text import token_count
    df = spark.createDataFrame(
        [(1, "Hello world, 12345 times!"), (2, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in token_count(df).collect()}
    assert out[1]["n_ws_tokens"] == 4
    # BPE-ish: Hello|world|,|123|45|times|! -> 7
    assert out[1]["n_bpe_tokens"] == 7
    assert out[2]["n_ws_tokens"] == 0 and out[2]["n_bpe_tokens"] == 0


# ------------------------------------------------------------- temporal ops

def test_asof_join_backward_semantics(spark):
    from xenoeye_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 5), (2, 7), (3, 50)], "k long, t long"
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 9, 900.0), (9, 1, 1.0)],
        "k long, t long, px double",
    )
    rows = {
        (r["k"], r["t"]): (r["asof_on"], r["asof_px"])
        for r in asof_join(left, right, on="t", by="k", value_cols=["px"]).collect()
    }
    assert rows[(1, 10)] == (10, 100.0)   # equal-time tie matches
    assert rows[(1, 20)] == (15, 150.0)   # latest preceding
    assert rows[(1, 5)] == (None, None)   # nothing before
    assert rows[(2, 7)] == (None, None)   # right row is later
    assert rows[(3, 50)] == (None, None)  # key absent on right


def test_asof_join_null_value_in_latest_row(spark):
    """The matched row travels WHOLE: a NULL value in the latest
    preceding right row must surface as NULL (pandas/DuckDB ASOF
    semantics), not be skipped in favor of an older row's value."""
    from xenoeye_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 3)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 1, 5.0), (1, 2, None)], "k long, t long, v double"
    )
    [r] = asof_join(left, right, on="t", by="k", value_cols=["v"]).collect()
    assert r["asof_on"] == 2 and r["asof_v"] is None


def test_asof_join_tolerance(spark):
    from xenoeye_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 100), (1, 200)], "k long, t long")
    right = spark.createDataFrame([(1, 95, 5.0), (1, 120, 7.0)], "k long, t long, v double")
    rows = {
        r["t"]: (r["asof_on"], r["asof_v"])
        for r in asof_join(
            left, right, on="t", by="k", value_cols=["v"], tolerance=10
        ).collect()
    }
    assert rows[100] == (95, 5.0)
    assert rows[200] == (None, None)  # 120 is 80 units stale > tolerance


def test_asof_join_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from xenoeye_spark.operators.temporal import asof_join

    rng = np.random.RandomState(11)
    lpdf = pd.DataFrame({
        "k": rng.randint(0, 5, 80), "t": rng.randint(0, 1000, 80).astype("int64")
    }).drop_duplicates(["k", "t"])
    rpdf = pd.DataFrame({
        "k": rng.randint(0, 5, 60), "t": rng.randint(0, 1000, 60).astype("int64"),
    }).drop_duplicates(["k", "t"])
    rpdf["v"] = rpdf["t"] * 2.0
    got = asof_join(
        spark.createDataFrame(lpdf), spark.createDataFrame(rpdf),
        on="t", by="k", value_cols=["v"],
    ).toPandas().sort_values(["k", "t"]).reset_index(drop=True)
    want = pd.merge_asof(
        lpdf.sort_values("t"), rpdf.sort_values("t"),
        on="t", by="k", direction="backward",
    ).sort_values(["k", "t"]).reset_index(drop=True)
    assert list(got["asof_v"].fillna(-1)) == list(want["v"].fillna(-1))


def test_sessionize(spark):
    from xenoeye_spark.operators.temporal import sessionize

    df = spark.createDataFrame(
        [(1, 0), (1, 10), (1, 100), (1, 105), (2, 0)], "k long, t long"
    )
    rows = {
        (r["k"], r["t"]): (r["session_seq"], r["session_event_seq"])
        for r in sessionize(df, "k", "t", gap=30).collect()
    }
    assert rows == {
        (1, 0): (1, 1), (1, 10): (1, 2),
        (1, 100): (2, 1), (1, 105): (2, 2),
        (2, 0): (1, 1),
    }
