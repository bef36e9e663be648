"""Structured Streaming tests: stateful mavg (EWMA continuity across
micro-batches vs the scalar oracle, alert state machine), streaming fwm
with SQL-file export, config-driven pipelines."""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xenoeye_spark.config.mo import MoConfig, parse_jsonc
from xenoeye_spark.operators.mavg import ewma_replay_py
from xenoeye_spark.streaming.fwm_stream import fwm_batch_handler, fwm_sql_export
from xenoeye_spark.streaming.mavg_stream import mavg_alert_stream

FLOW_SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("v", T.DoubleType()),
])


def _write_batches(spark, dir_path, batches):
    """Write each batch as one parquet file so maxFilesPerTrigger=1 maps
    one batch -> one micro-batch."""
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "k string, ts double, v double") \
            .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1)
        df.write.parquet(os.path.join(dir_path, f"b{i}"))
    return [os.path.join(dir_path, f"b{i}") for i in range(len(batches))]


def _run_stream_over_dirs(spark, dirs, build_query, out_rows, timeout=120):
    """Feed parquet dirs one-at-a-time into a file-source stream by
    pointing the source at a staging dir and moving files in; simpler:
    run one availableNow pass per batch dir with a shared checkpoint so
    state persists across runs (each run = >=1 micro-batch)."""
    import shutil, tempfile
    stage = tempfile.mkdtemp(prefix="stream_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    for d in dirs:
        for f in glob.glob(os.path.join(d, "*.parquet")):
            shutil.copy(f, os.path.join(stage, os.path.basename(d) + "_" + os.path.basename(f)))
        stream = (
            spark.readStream.schema(FLOW_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        q = build_query(stream, ckpt, out_rows)
        q.awaitTermination(timeout)
    return out_rows



def _await_input_processed(q, time_mod, deadline_sec=120, settle_sec=8):
    """Wait until this run has COMPLETED a micro-batch that actually
    read rows (recentProgress carries numInputRows per batch), then a
    bounded settle window for timer-driven emissions. Fixed waits
    flaked on loaded hosts where the first micro-batch had not even
    started; polling for ROWS instead would burn the deadline on
    batches that legitimately emit nothing."""
    deadline = time_mod.time() + deadline_sec
    while time_mod.time() < deadline:
        try:
            if any(
                (p or {}).get("numInputRows", 0) > 0
                for p in (q.recentProgress or [])
            ):
                break
        except Exception:
            pass
        q.awaitTermination(1)
    q.awaitTermination(settle_sec)


def _run_batches(spark, dirs, build_query, out_rows, sleep_between=0.0,
                 timeout=8):
    """availableNow drain per batch dir. Armed processing-time timeouts
    keep an availableNow query alive (the silent-key watch keeps
    scheduling batches), so each run waits a bounded ``timeout`` for the
    timer-driven emissions and then stops the query explicitly."""
    import shutil, tempfile

    stage = tempfile.mkdtemp(prefix="timer_src_")
    ckpt = tempfile.mkdtemp(prefix="timer_ckpt_")
    for d in dirs:
        for f in glob.glob(os.path.join(d, "*.parquet")):
            shutil.copy(f, os.path.join(stage, os.path.basename(d) + "_" + os.path.basename(f)))
        stream = (
            spark.readStream.schema(FLOW_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        q = build_query(stream, ckpt, out_rows)
        _await_input_processed(q, time, settle_sec=timeout)
        q.stop()
        q.awaitTermination(60)
        if sleep_between:
            time.sleep(sleep_between)
    return out_rows


BASE = 1_700_000_000


def test_mavg_state_continuity_across_batches(spark, tmp_path):
    """EWMA accumulator must survive micro-batch boundaries: replaying
    batches [A, B] through the stateful op == scalar replay of A+B."""
    rng = np.random.RandomState(3)
    all_rows = []
    t = BASE
    for _ in range(40):
        t += int(rng.randint(1, 5))
        all_rows.append(("k1", float(t), float(rng.randint(50, 150))))
    batches = [all_rows[:20], all_rows[20:]]
    dirs = _write_batches(spark, str(tmp_path / "src"), batches)

    collected = []

    def build(stream, ckpt, out):
        alerts = mavg_alert_stream(
            stream, ["k"], "v", window_sec=30,
            threshold=0.0,  # always over limit -> emits UPDATE each batch
            back2norm_sec=5, silent_watch=False,
        )

        def sink(df, epoch):
            out.extend(df.collect())

        return (
            alerts.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )

    _run_stream_over_dirs(spark, dirs, build, collected)
    assert collected, "no alert rows emitted"
    # the last emitted rate must equal the scalar oracle over ALL rows
    final = max(collected, key=lambda r: r["ts_ns"])
    ts_ns = np.array([int(r[1] * 1e9) for r in all_rows], dtype=np.int64)
    vals = np.array([r[2] for r in all_rows])
    n_exp, _ = ewma_replay_py(ts_ns, vals, int(30e9))
    assert final["rate"] == pytest.approx(n_exp / 30, rel=1e-6)


def test_mavg_alert_state_machine(spark, tmp_path):
    """NEW on threshold breach; GONE only after back2norm_sec below limit
    (monit-objects-mavg-act.c:342-444)."""
    # batch 1: burst -> NEW; batch 2: silence + tiny values -> decay + GONE
    burst = [("k1", float(BASE + i), 1000.0) for i in range(10)]
    quiet = [("k1", float(BASE + 100 + i * 10), 0.001) for i in range(10)]
    dirs = _write_batches(spark, str(tmp_path / "src"), [burst, quiet])

    collected = []

    def build(stream, ckpt, out):
        alerts = mavg_alert_stream(
            stream, ["k"], "v", window_sec=10, threshold=50.0,
            back2norm_sec=20, silent_watch=False,
        )

        def sink(df, epoch):
            out.extend(df.collect())

        return (
            alerts.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )

    _run_stream_over_dirs(spark, dirs, build, collected)
    events = [r["event"] for r in sorted(collected, key=lambda r: r["ts_ns"])]
    assert events[0] == "NEW"
    assert "GONE" in events
    assert events.index("NEW") < events.index("GONE")


def test_fwm_streaming_sql_export(spark, tmp_path):
    """foreachBatch fwm: window agg -> top-N+others -> SQL file with the
    reference's DDL+INSERT shape (monit-objects-fwm.c:269-414)."""
    mo = MoConfig.from_dict(
        {
            "filter": "",
            "fwm": [{"name": "fw1", "fields": ["octets desc", "src host"],
                     "time": 30, "limit": 2}],
        },
        name="momo",
    )
    rows = []
    for i, (ip, octs) in enumerate(
        [(0x0A000001, 500), (0x0A000002, 400), (0x0A000003, 50),
         (0x0A000004, 30), (0x0A000001, 100)]
    ):
        rows.append((ip, octs, float(BASE + i)))
    src = str(tmp_path / "flows")
    spark.createDataFrame(rows, "ip4_src_addr long, in_bytes long, ts double") \
        .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1) \
        .write.parquet(src)

    schema = T.StructType([
        T.StructField("ip4_src_addr", T.LongType()),
        T.StructField("in_bytes", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    stream = spark.readStream.schema(schema).parquet(src)
    exp_dir = str(tmp_path / "exp")
    handler = fwm_batch_handler(
        mo, mo.fwm[0],
        lambda result, epoch: fwm_sql_export(result, "momo_fw1", exp_dir, epoch),
    )
    q = (stream.writeStream.foreachBatch(handler)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    files = glob.glob(os.path.join(exp_dir, "momo_fw1_*.sql"))
    assert len(files) == 1
    sql = open(files[0]).read()
    assert "CREATE TABLE IF NOT EXISTS momo_fw1" in sql
    assert "INSERT INTO momo_fw1" in sql
    # top-2 rows by octets (600, 400) + one NULL-key others row (80)
    assert sql.count("(") >= 3
    assert "NULL" in sql  # others row has NULL src host


def test_parse_jsonc_and_mo_model():
    txt = """
    {
        // line comment
        "filter": "proto 6", /* block */
        "fwm": [
            {"name": "fw1", "fields": ["src host", "octets desc"],
             "time": 15, "limit": 5},
        ],
        "mavg": [
            {"name": "m1", "time": "10", "dump": "10",
             "fields": ["dst host", "packets"],
             "overlimit": [{"name": "level1", "default": [100000],
                            "back2norm-time": 5}]}
        ]
    }
    """
    mo = MoConfig.from_dict(parse_jsonc(txt), name="t")
    assert mo.filter == "proto 6"
    assert mo.fwm[0].spec.time == 15 and mo.fwm[0].spec.limit == 5
    assert mo.mavg[0].time == 10
    assert mo.mavg[0].overlimit[0].default == [100000.0]
    assert mo.mavg[0].overlimit[0].back2norm_time == 5
    # fields split into key/value sets (monit-objects-fwm.c:102-135)
    assert [f.sql_name for f in mo.mavg[0].key_fields] == ["dst_host"]
    assert [f.sql_name for f in mo.mavg[0].val_fields] == ["packets"]


def test_mavg_underlimit_with_grace(spark, tmp_path):
    """monit-objects-mavg-under.c: alarm when rate drops BELOW limit, but
    never during the key's first window (grace, under.c:298-303)."""
    # steady high traffic for 40s (window 10s), then collapse
    high = [("k1", float(BASE + i), 100.0) for i in range(0, 40, 2)]
    low = [("k1", float(BASE + 60 + i * 5), 0.01) for i in range(10)]
    dirs = _write_batches(spark, str(tmp_path / "src"), [high, low])

    collected = []

    def build(stream, ckpt, out):
        alerts = mavg_alert_stream(
            stream, ["k"], "v", window_sec=10, threshold=10.0,
            back2norm_sec=1000, under=True, silent_watch=False,
        )

        def sink(df, epoch):
            out.extend(df.collect())

        return (
            alerts.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )

    _run_stream_over_dirs(spark, dirs, build, collected)
    news = [r for r in collected if r["event"] == "NEW"]
    assert news, "traffic drop not detected"
    # the NEW must come from the low batch, after the grace window
    assert news[0]["ts_ns"] >= int((BASE + 60) * 1e9)
    # no alarm during the first window even though rate starts below limit
    assert all(r["ts_ns"] >= int((BASE + 10) * 1e9) for r in news)


def test_limits_csv_roundtrip(tmp_path):
    from xenoeye_spark.config.limits import load_limits_csv, parse_limits_lines
    p = tmp_path / "limits.csv"
    p.write_text("# ICMP threshold\n1.2.3.4,1,100000\n\n1.2.3.4,6,300000\nbad,line\n")
    limits = load_limits_csv(str(p), n_keys=2)
    assert limits == {("1.2.3.4", "1"): 100000.0, ("1.2.3.4", "6"): 300000.0}
    assert parse_limits_lines(["a,5"], 1) == {("a",): 5.0}


def test_classification_feedback_loop(spark, tmp_path):
    """classification.c one-cycle lag: batch N stamped with model from
    batch N-1; renames from the class DB win (CONFIG.md:428-435)."""
    from xenoeye_spark.operators.classify import ClassDB
    from xenoeye_spark.streaming.classify_stream import ClassificationLoop

    db = ClassDB(str(tmp_path / "clsf"), "mo1", 0)
    stamped_by_epoch = {}

    loop = ClassificationLoop(
        ["proto"], "octets", top_percents=60, class_db=db,
        output_fn=lambda df, e: stamped_by_epoch.setdefault(
            e, {r["proto"]: r["class0"] for r in df.collect()}),
    )
    b1 = spark.createDataFrame([(6, 900), (17, 90), (1, 10)], "proto long, octets long")
    b2 = spark.createDataFrame([(6, 900), (17, 90), (1, 10)], "proto long, octets long")
    loop.process_batch(b1, 0)
    # first batch: no model yet -> all ''
    assert set(stamped_by_epoch[0].values()) == {""}
    loop.process_batch(b2, 1)
    # second batch stamped with batch-1 model: tcp covers 90% -> classed
    # keys keep their SOURCE type in every epoch (the string cast used
    # to leak into the output schema once a model existed)
    assert stamped_by_epoch[1][6] == "tcp"
    assert stamped_by_epoch[1][17] == ""

    # user renames the class; next cycle the model picks it up
    import os
    with open(os.path.join(db.dir, "6", "name"), "w") as fh:
        fh.write("all-tcp")
    loop.process_batch(b2, 2)
    b3 = spark.createDataFrame([(6, 1)], "proto long, octets long")
    loop.process_batch(b3, 3)
    assert stamped_by_epoch[3][6] == "all-tcp"


def test_fwm_event_time_watermark(spark, tmp_path):
    """Event-time extension: windows keyed by the flow's own ts; a late
    row within the watermark still lands in its (past) window."""
    from xenoeye_spark.streaming.fwm_stream import fwm_event_time_stream

    mo = MoConfig.from_dict(
        {"filter": "", "fwm": [{"name": "f", "fields": ["octets", "src host"],
                                "time": 60}]},
        name="et",
    )
    rows = [
        (0x0A000001, 100, float(BASE + 10)),
        (0x0A000001, 100, float(BASE + 70)),   # next window
        (0x0A000001, 100, float(BASE + 20)),   # late for window 1, in order file
    ]
    src = str(tmp_path / "flows")
    spark.createDataFrame(rows, "ip4_src_addr long, in_bytes long, ts double") \
        .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1) \
        .write.parquet(src)
    schema = T.StructType([
        T.StructField("ip4_src_addr", T.LongType()),
        T.StructField("in_bytes", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    stream = spark.readStream.schema(schema).parquet(src)
    agg = fwm_event_time_stream(stream, mo, mo.fwm[0], watermark="5 minutes")
    got = []
    q = (
        agg.writeStream.foreachBatch(lambda df, e: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    by_window = {r["time"]: r["octets"] for r in got}
    assert len(by_window) == 2
    assert sorted(by_window.values()) == [100, 200]  # late row joined window 1


def test_mo_reloader_detects_changes(tmp_path):
    from xenoeye_spark.config.mo import MoReloader
    import json, os, time as time_mod
    d = tmp_path / "mo" / "m1"
    d.mkdir(parents=True)
    conf = d / "mo.conf"
    conf.write_text(json.dumps({"filter": "proto 6"}))
    r = MoReloader(str(tmp_path / "mo"))
    assert r.check() == []  # unchanged
    time_mod.sleep(0.05)
    conf.write_text(json.dumps({"filter": "proto 17"}))
    os.utime(conf, (time_mod.time(), time_mod.time() + 1))
    changed = r.check()
    assert len(changed) == 1 and changed[0].filter == "proto 17"
    assert r.check() == []


# ----------------------------------------------------------- exact mfreq

def _mfreq_scalar_replay(flows, pred_values):
    """Per-flow replay of the reference's frequency map
    (filter.c:711-751): decide from the table so far, then count both
    args (we don't reproduce the filter.c:737-741 double-count slip)."""
    freq = [0] * 65536
    decisions = []
    for a, b in flows:
        fa, fb = freq[a & 0xFFFF], freq[b & 0xFFFF]
        res = (a if fa > fb else b) if fa != fb else min(a, b)
        decisions.append(res in pred_values)
        freq[a & 0xFFFF] += 1
        freq[b & 0xFFFF] += 1
    return decisions


def _mfreq_fwm_handler(filter_str, ctx, got):
    """An fwm handler over an exact-mfreq filter whose sink records, per
    one-flow batch, whether the flow passed the filter."""
    from xenoeye_spark.dsl.compiler import find_mfreq_field_pairs
    from xenoeye_spark.streaming.mfreq_stream import MfreqState

    mo = MoConfig.from_dict({
        "filter": filter_str,
        "fwm": [{"name": "f", "fields": ["src port", "octets"], "time": 30}],
    }, name="m")
    state = MfreqState()
    handler = fwm_batch_handler(
        mo, mo.fwm[0], lambda result, epoch: got.append(result.count() > 0),
        ctx, mfreq_state=state,
        mfreq_pairs=find_mfreq_field_pairs(filter_str, ctx),
    )
    return handler, state


def _one_flow_batch(spark, a, b):
    return spark.createDataFrame(
        [(a, b, 1, float(BASE))],
        "l4_src_port long, l4_dst_port long, in_bytes long, ts double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_mfreq_exact_streaming_matches_scalar_replay(spark):
    """One-row triggers == per-flow evaluation: the fwm handler's exact
    mfreq must make exactly the reference's order-dependent decisions."""
    from xenoeye_spark.dsl.compiler import FilterContext, compile_filter

    # crafted so min2 would diverge: 443 becomes globally frequent, so
    # later (443, 80) flows resolve to 443 even though min is 80
    flows = [(443, 8080), (443, 9090), (443, 7070), (80, 443),
             (443, 80), (80, 443), (53, 443), (80, 53)]
    expected = _mfreq_scalar_replay(flows, {443})

    got = []
    handler, _ = _mfreq_fwm_handler(
        "mfreq(src port, dst port) 443", FilterContext(), got
    )
    for i, (a, b) in enumerate(flows):
        handler(_one_flow_batch(spark, a, b), i)
    assert got == expected
    # sanity: the order-dependent answer differs from the min2 approx
    df = spark.createDataFrame(flows, "l4_src_port long, l4_dst_port long")
    approx = [r[0] for r in df.select(
        compile_filter("mfreq(src port, dst port) 443", FilterContext())
    ).collect()]
    assert approx != expected


def test_mfreq_batch_granularity(spark):
    """Multi-row triggers: decisions inside one batch share the
    batch-start table; the table still accumulates across batches."""
    from xenoeye_spark.streaming.mfreq_stream import MfreqState, mfreq_decide
    import numpy as np

    batches = [
        [(443, 8080), (443, 9090)],
        [(80, 443), (443, 80)],
        [(53, 443)],
    ]
    # batch-granular scalar replay
    freq = np.zeros(65536, dtype=np.int64)
    expected = []
    for rows in batches:
        a = np.array([r[0] for r in rows]); b = np.array([r[1] for r in rows])
        expected.extend(int(x) for x in mfreq_decide(freq, a, b))
        for x, y in rows:
            freq[x & 0xFFFF] += 1
            freq[y & 0xFFFF] += 1

    state = MfreqState()
    got = []
    for i, rows in enumerate(batches):
        batch = spark.createDataFrame(
            rows, "l4_src_port long, l4_dst_port long"
        )
        vals = batch.select(
            state.expr(batch["l4_src_port"], batch["l4_dst_port"]).alias("m")
        ).collect()
        got.extend(r["m"] for r in vals)
        state.observe(batch, "l4_src_port", "l4_dst_port")
    assert got == expected
    assert state.freq[443] == 5


def test_mfreq_two_loops_share_ctx_without_racing(spark):
    """Two exact-mfreq fwm handlers over ONE FilterContext must keep
    independent frequency tables and never mutate the shared ctx — the
    snapshot-bound fn is bound per batch, not stored."""
    from xenoeye_spark.dsl.compiler import FilterContext

    ctx = FilterContext()
    flows_a = [(443, 8080), (443, 9090), (80, 443)]   # 443-heavy
    flows_b = [(53, 9999), (53, 8888), (80, 53)]      # 53-heavy
    exp_a = _mfreq_scalar_replay(flows_a, {443})
    exp_b = _mfreq_scalar_replay(flows_b, {53})

    got_a, got_b = [], []
    loop_a, state_a = _mfreq_fwm_handler(
        "mfreq(src port, dst port) 443", ctx, got_a
    )
    loop_b, state_b = _mfreq_fwm_handler(
        "mfreq(src port, dst port) 53", ctx, got_b
    )
    # interleave the two standing queries over the shared ctx
    for i, ((a1, b1), (a2, b2)) in enumerate(zip(flows_a, flows_b)):
        loop_a(_one_flow_batch(spark, a1, b1), i)
        loop_b(_one_flow_batch(spark, a2, b2), i)
    assert got_a == exp_a
    assert got_b == exp_b
    # the shared ctx was never mutated
    assert ctx.mfreq_fn is None
    # and the tables stayed per-handler
    assert state_a.freq[443] == 3 and state_a.freq[53] == 0
    assert state_b.freq[53] == 3 and state_b.freq[443] == 0


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Streaming sessionize == batch sessionize when micro-batches replay
    in event-time order: same per-event (session_seq, session_event_seq),
    including a session that SPANS a micro-batch boundary."""
    from xenoeye_spark.operators.temporal import sessionize
    from xenoeye_spark.streaming.sessionize_stream import sessionize_stream

    GAP = 1800  # seconds
    # key a: batch1 has two events 10s apart; batch2 continues the SAME
    # session (+60s) then breaks it (+GAP+1); key b: one session per batch
    batches = [
        [("a", BASE + 0.0, 1.0), ("a", BASE + 10.0, 2.0),
         ("b", BASE + 5.0, 3.0)],
        [("a", BASE + 70.0, 4.0), ("a", BASE + 70.0 + GAP + 1, 5.0),
         ("b", BASE + 5.0 + GAP + 100, 6.0)],
        [("a", BASE + 70.0 + GAP + 1 + GAP, 7.0)],  # exactly-gap: stays
    ]
    dirs = _write_batches(spark, str(tmp_path / "in"), batches)

    got: list = []

    def build(stream, ckpt, out_rows):
        sess = sessionize_stream(
            stream, "k", "ts", gap_sec=GAP, tiebreak_col="v",
            watermark_delay="2 hours",
        )
        return (
            sess.writeStream.foreachBatch(
                lambda df, e: out_rows.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )

    _run_stream_over_dirs(spark, dirs, build, got)

    all_rows = [r for b in batches for r in b]
    bdf = spark.createDataFrame(all_rows, "k string, ts double, v double")
    base = bdf.select(
        "k", "v", F.unix_micros(F.col("ts").cast("timestamp")).alias("t")
    )
    want = {
        (r.k, r.v): (r.session_seq, r.session_event_seq)
        for r in sessionize(
            base, "k", "t", gap=GAP * 1_000_000, tiebreak_col="v"
        ).collect()
    }
    got_map = {(r.k, r.v): (r.session_seq, r.session_event_seq) for r in got}
    assert got_map == want
    assert len(got) == len(all_rows)
    # the cross-batch session continuation actually happened
    assert got_map[("a", 4.0)] == (1, 3)
    # exactly-gap spacing stays in the session (batch > semantics)
    assert got_map[("a", 7.0)][0] == got_map[("a", 5.0)][0]


def test_session_window_agg_closes_sessions(spark, tmp_path):
    """Native session_window twin: per-session (start, end, n_events)
    rows appear once the watermark passes the session end, and agree
    with the batch sessionize's per-session rollup."""
    from xenoeye_spark.operators.temporal import sessionize
    from xenoeye_spark.streaming.sessionize_stream import session_window_agg

    batches = [
        [("a", BASE + 0.0, 1.0), ("a", BASE + 60.0, 2.0),
         ("b", BASE + 30.0, 3.0)],
        # far-future event pushes the watermark past every batch-1 session
        [("a", BASE + 50_000.0, 4.0)],
        [("a", BASE + 90_000.0, 5.0)],
    ]
    dirs = _write_batches(spark, str(tmp_path / "in"), batches)
    got: list = []

    def build(stream, ckpt, out_rows):
        agg = session_window_agg(
            stream, "k", "ts", gap="30 minutes", watermark_delay="1 minute"
        )
        return (
            agg.writeStream.foreachBatch(
                lambda df, e: out_rows.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )

    _run_stream_over_dirs(spark, dirs, build, got)
    closed = {(r.k, r.session_start.timestamp(), r.n_events) for r in got}
    # batch rollup of the same events (sessions 1 and 2 of key a + key b's)
    all_rows = [r for b in batches for r in b][:4]  # the closed ones
    bdf = spark.createDataFrame(all_rows, "k string, ts double, v double")
    base = bdf.select(
        "k", "v", F.unix_micros(F.col("ts").cast("timestamp")).alias("t")
    )
    sess = sessionize(base, "k", "t", gap=1800 * 1_000_000, tiebreak_col="v")
    want = {
        (r.k, r.t0 / 1e6, r.n)
        for r in sess.groupBy("k", "session_seq")
        .agg(F.min("t").alias("t0"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert want <= closed, (want, closed)
    assert closed >= {
        ("a", BASE + 0.0, 2), ("b", BASE + 30.0, 1), ("a", BASE + 50_000.0, 1)
    }


def test_asof_enrich_stream_matches_batch(spark, tmp_path):
    """Streaming as-of enrichment == batch asof_join under in-order
    replay: matches across micro-batch boundaries (state carries the
    latest reference row), equal-time inclusivity, tolerance nulling,
    and no-match-yet lefts."""
    from xenoeye_spark.operators.temporal import asof_join
    from xenoeye_spark.streaming.asof_stream import asof_enrich_stream

    # interleaved event (side=1) / reference (side=0) rows; v doubles as
    # a unique row id. Batch 2's first left must match batch 1's ref.
    batches = [
        [("a", BASE + 1.0, 1.0, 1), ("a", BASE + 5.0, 10.0, 0),
         ("a", BASE + 5.0, 2.0, 1),              # equal-time: matches 10.0
         ("b", BASE + 3.0, 3.0, 1)],             # no ref yet: NULL
        [("a", BASE + 9.0, 4.0, 1),              # cross-batch: matches 10.0
         ("b", BASE + 10.0, 20.0, 0),
         ("b", BASE + 12.0, 5.0, 1)],            # matches 20.0
        [("a", BASE + 5000.0, 6.0, 1)],          # tolerance 60s: NULLed
    ]
    src = tmp_path / "in"
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "k string, ts double, v double, side int"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1) \
            .write.parquet(str(src / f"b{i}"))
    dirs = [str(src / f"b{i}") for i in range(len(batches))]

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("side", T.IntegerType()),
    ])
    got: list = []
    import glob as _glob
    import shutil as _shutil
    import tempfile as _tempfile
    stage = _tempfile.mkdtemp(prefix="asof_src_")
    ckpt = _tempfile.mkdtemp(prefix="asof_ckpt_")
    for d in dirs:
        for f in _glob.glob(os.path.join(d, "*.parquet")):
            _shutil.copy(f, os.path.join(
                stage, os.path.basename(d) + "_" + os.path.basename(f)))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(stage)
        )
        lefts = stream.filter(F.col("side") == 1).select("k", "ts", "v")
        rights = stream.filter(F.col("side") == 0).select(
            "k", "ts", F.col("v").alias("ref_v")
        )
        out = asof_enrich_stream(
            lefts, rights, on="ts", by="k", value_cols=["ref_v"],
            tolerance_sec=60.0,
        )
        q = (
            out.writeStream.foreachBatch(
                lambda df, e: got.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    all_rows = [r for b in batches for r in b]
    bdf = spark.createDataFrame(
        all_rows, "k string, ts double, v double, side int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    bl = bdf.filter(F.col("side") == 1).select("k", "ts", "v")
    br = bdf.filter(F.col("side") == 0).select(
        "k", "ts", F.col("v").alias("ref_v")
    )
    want = {
        (r.k, r.v): (r.asof_on, r.asof_ref_v)
        for r in asof_join(
            bl, br, on="ts", by="k", value_cols=["ref_v"],
            tolerance=F.expr("INTERVAL 60 SECONDS"),
        ).collect()
    }
    got_map = {(r.k, r.v): (r.asof_on, r.asof_ref_v) for r in got}
    assert got_map == want, (got_map, want)
    assert got_map[("a", 2.0)][1] == 10.0      # equal-time inclusive
    assert got_map[("a", 4.0)][1] == 10.0      # cross-batch state carry
    assert got_map[("b", 3.0)] == (None, None)  # no ref yet
    assert got_map[("a", 6.0)] == (None, None)  # beyond tolerance


def test_kmv_distinct_stream_matches_batch(spark, tmp_path):
    """Streaming windowed KMV == batch kmv_distinct on the same rows,
    in BOTH regimes: a full sketch (estimate path) and an under-full
    one (exact path). Finals fire via event-time timeout after the
    watermark passes the window end; state is freed."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from xenoeye_spark.datapipe.ranking import kmv_distinct
    from xenoeye_spark.streaming.kmv_stream import kmv_distinct_stream

    WB = 1_700_000_040  # aligned: WB % 60 == 0, windows [WB, WB+60) ...
    K = 4
    # lateness is window-deterministic (r6): partials carry the window
    # END as event time and the delay widens by one window, so finals
    # fire one sentinel later than a raw-ts watermark would
    batches = [
        [("a", WB + 1.0, "apple banana cherry"), ("b", WB + 2.0, "x y")],
        [("a", WB + 30.0, "banana date egg fig grape"),
         ("a", WB + 70.0, "p q r")],          # window1
        [("a", WB + 200.0, "z")],             # watermark -> WB+180
        [("a", WB + 400.0, "zz")],            # watermark -> WB+360: fires
                                              # every final through WB+240
    ]
    src = tmp_path / "in"
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "k string, ts double, text string")
         .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1)
         .write.parquet(str(src / f"b{i}")))

    stage = _tempfile.mkdtemp(prefix="kmv_src_")
    ckpt = _tempfile.mkdtemp(prefix="kmv_ckpt_")
    got: list = []
    schema = "k string, ts timestamp, text string"
    for i in range(len(batches)):
        d = str(src / f"b{i}")
        for f in _glob.glob(_os.path.join(d, "*.parquet")):
            _shutil.copy(f, _os.path.join(stage, f"b{i}_" + _os.path.basename(f)))
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(stage))
        q = (kmv_distinct_stream(stream, "k", "ts", k=K,
                                 window="60 seconds",
                                 watermark_delay="0 seconds")
             .writeStream.foreachBatch(
                 lambda df, e: got.extend(df.collect()))
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    finals = {(r.window_start.timestamp(), r.k): r
              for r in got if r.is_final}
    # window0 (both keys), window1, and the WB+200 event's window all
    # closed exactly once ("zz"'s window never does: the watermark
    # never passes its end + the one-window widening)
    assert set(finals) == {(float(WB), "a"), (float(WB), "b"),
                           (float(WB + 60), "a"), (float(WB + 180), "a")}
    assert sum(1 for r in got if r.is_final) == 4
    # running rows preceded the finals for the spanning group
    assert sum(1 for r in got
               if not r.is_final and r.k == "a"
               and r.window_start.timestamp() == WB) == 2

    # batch twins, window by window
    def batch_twin(rows):
        df = spark.createDataFrame(rows, "k string, text string")
        return {r.k: r for r in kmv_distinct(df, "k", k=K).collect()}

    w0 = batch_twin([("a", "apple banana cherry"),
                     ("a", "banana date egg fig grape"), ("b", "x y")])
    f = finals[(float(WB), "a")]
    assert f.kmv_estimate == w0["a"].kmv_estimate
    assert f.n_sketch == K and w0["a"].n_distinct_exact == 7
    assert f.n_rows == 8  # token occurrences folded in
    fb = finals[(float(WB), "b")]
    assert fb.kmv_estimate == w0["b"].kmv_estimate == 2.0
    assert fb.n_sketch == w0["b"].n_distinct_exact == 2
    w1 = batch_twin([("a", "p q r")])
    f1 = finals[(float(WB + 60), "a")]
    assert f1.kmv_estimate == w1["a"].kmv_estimate == 3.0


def test_sessionize_stream_late_event_does_not_rewind_frontier(spark, tmp_path):
    """Review fix: a late (in-watermark) event joining the current
    session must not rewind last_ts; the next on-time event still
    continues the session (batch sessionize agrees)."""
    from xenoeye_spark.operators.temporal import sessionize
    from xenoeye_spark.streaming.sessionize_stream import sessionize_stream

    GAP = 1800
    batches = [
        [("a", BASE + 3600.0, 1.0)],
        [("a", BASE + 0.0, 2.0)],               # late by 1h, within gap*2+wm
        [("a", BASE + 3600.0 + 1200.0, 3.0)],   # 20 min after frontier
    ]
    dirs = _write_batches(spark, str(tmp_path / "in"), batches)
    got: list = []

    def build(stream, ckpt, out_rows):
        sess = sessionize_stream(
            stream, "k", "ts", gap_sec=GAP, tiebreak_col="v",
            watermark_delay="4 hours",
        )
        return (
            sess.writeStream.foreachBatch(
                lambda df, e: out_rows.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )

    _run_stream_over_dirs(spark, dirs, build, got)

    got_map = {r.v: r.session_seq for r in got}
    # the late event is 1h before the frontier (> gap): it opens its own
    # session ordinal in arrival order — but the on-time event 20 min
    # after the FRONTIER must continue session 1, not measure its gap
    # from the rewound late time (3600+1200-0 > gap would split)
    assert got_map[1.0] == 1
    assert got_map[3.0] == got_map[1.0]


def test_asof_stream_exact_microseconds_with_unmatched_row(spark, tmp_path):
    """Review fix: an unmatched left row makes the merged ref-ts column
    float64; ts rebuild must stay integer-exact at microsecond scale
    (float ns multiplication loses up to 1 us)."""
    from xenoeye_spark.streaming.asof_stream import asof_enrich_stream

    # ref at an odd microsecond (not a multiple of 32 us) near epoch 1.7e9
    REF = BASE + 7.000013
    batches = [
        [("a", REF, 10.0, 0), ("a", BASE + 9.0, 1.0, 1),
         ("b", BASE + 1.0, 2.0, 1)],            # no b-ref: unmatched -> NaN
    ]
    src = tmp_path / "in"
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "k string, ts double, v double, side int"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1) \
            .write.parquet(str(src / f"b{i}"))

    import tempfile as _tempfile
    ckpt = _tempfile.mkdtemp(prefix="asof_us_ckpt_")
    got: list = []
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("side", T.IntegerType()),
    ])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src / "b0")))
    lefts = stream.filter(F.col("side") == 1).select("k", "ts", "v")
    rights = stream.filter(F.col("side") == 0).select(
        "k", "ts", F.col("v").alias("ref_v"))
    out = asof_enrich_stream(lefts, rights, on="ts", by="k",
                             value_cols=["ref_v"])
    q = (out.writeStream.foreachBatch(lambda df, e: got.extend(df.collect()))
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    by_v = {r.v: r for r in got}
    assert by_v[2.0].asof_on is None            # the NaN row
    # exact microsecond equality, not 1-us-off
    assert by_v[1.0].asof_on.timestamp() == round(REF, 6)
    assert int(by_v[1.0].asof_on.microsecond) == 13


def test_asof_stream_rejects_output_name_collision(spark):
    """Review fix: left columns named asof_on / asof_<c> are rejected
    instead of producing a duplicate-name schema."""
    import pytest

    from xenoeye_spark.streaming.asof_stream import asof_enrich_stream

    left = spark.createDataFrame(
        [("a", 1.0, 2.0)], "k string, ts double, asof_on double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("a", 1.0, 3.0)], "k string, ts double, ref_v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="collide with output names"):
        asof_enrich_stream(left, right, on="ts", by="k",
                           value_cols=["ref_v"])


def test_heavy_hitters_stream_mg_guarantees(spark, tmp_path):
    """Streaming Misra-Gries == python mg_merge fold over the same
    micro-batches, and the classic guarantee holds vs exact counts:
    est <= true <= est + deficit, every item with true > deficit
    present in the final summary."""
    import collections
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from xenoeye_spark.streaming.topk_stream import (
        heavy_hitters_stream, mg_merge,
    )

    WB = 1_700_000_040
    K = 3
    # skewed items: x dominates, y second, long tail of singletons
    b1 = [("x", WB + 1.0)] * 6 + [("y", WB + 2.0)] * 3 + \
         [(f"t{i}", WB + 3.0) for i in range(4)]
    b2 = [("x", WB + 20.0)] * 5 + [("z", WB + 21.0)] * 4 + \
         [(f"u{i}", WB + 22.0) for i in range(3)]
    b3 = [("late", WB + 130.0)]     # window1; watermark -> closes window0
    b4 = [("later", WB + 400.0)]    # closes window1
    batches = [b1, b2, b3, b4]
    src = tmp_path / "in"
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "item string, ts double")
         .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1)
         .write.parquet(str(src / f"b{i}")))

    stage = _tempfile.mkdtemp(prefix="hh_src_")
    ckpt = _tempfile.mkdtemp(prefix="hh_ckpt_")
    got: list = []
    schema = "item string, ts timestamp"
    for i in range(len(batches)):
        for f in _glob.glob(_os.path.join(str(src / f"b{i}"), "*.parquet")):
            _shutil.copy(f, _os.path.join(stage, f"b{i}_" + _os.path.basename(f)))
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(stage))
        q = (heavy_hitters_stream(stream, "item", "ts", k=K,
                                  window="60 seconds",
                                  watermark_delay="0 seconds")
             .writeStream.foreachBatch(
                 lambda df, e: got.extend(df.collect()))
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    finals = [r for r in got
              if r.is_final and r.window_start.timestamp() == WB]
    assert finals, "window0 never closed"
    f_summary = {r.item: r.est_count for r in finals}
    deficit = finals[0].deficit
    n_rows = finals[0].n_rows

    # python twin: same merge fold, batch by batch
    summary, defc = {}, 0
    for rows in batches[:2]:            # only window0 rows
        cnt = collections.Counter(i for i, _ in rows)
        summary, sub = mg_merge(summary, dict(cnt), K)
        defc += sub
    assert f_summary == summary
    assert deficit == defc

    true = collections.Counter(i for b in batches[:2] for i, _ in b)
    assert n_rows == sum(true.values())
    for item, est in f_summary.items():
        assert est <= true[item] <= est + deficit, item
    for item, c in true.items():
        if c > deficit:
            assert item in f_summary, (item, c, deficit)
    # the two real heavy hitters survived
    assert "x" in f_summary and f_summary["x"] >= true["x"] - deficit


def test_heavy_hitters_stream_weighted(spark, tmp_path):
    """Octets-weighted top talkers: weights drive the counts."""
    import tempfile as _tempfile

    from xenoeye_spark.streaming.topk_stream import heavy_hitters_stream

    WB = 1_700_000_040
    rows = [("a", WB + 1.0, 1000), ("b", WB + 2.0, 10),
            ("c", WB + 3.0, 20), ("d", WB + 4.0, 30),
            ("a", WB + 5.0, 500)]
    src = tmp_path / "in"
    (spark.createDataFrame(rows, "item string, ts double, octets long")
     .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1)
     .write.parquet(str(src / "b0")))
    ckpt = _tempfile.mkdtemp(prefix="hhw_ckpt_")
    got: list = []
    stream = (spark.readStream
              .schema("item string, ts timestamp, octets long")
              .option("maxFilesPerTrigger", "1").parquet(str(src / "b0")))
    q = (heavy_hitters_stream(stream, "item", "ts", k=2,
                              window="60 seconds", weight_col="octets")
         .writeStream.foreachBatch(lambda df, e: got.extend(df.collect()))
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    run = {r.item: r for r in got if not r.is_final}
    # merge: a=1500, d=30, c=20, b=10 -> k=2 keeps counts above the
    # 3rd-largest (20): a=1480, d=10; deficit=20
    assert set(run) == {"a", "d"}
    assert run["a"].est_count == 1480 and run["d"].est_count == 10
    assert run["a"].deficit == 20 and run["a"].n_rows == 1560


def test_bottomk_sample_stream_matches_stratified(spark, tmp_path):
    """Streaming bottom-k final sample per (window, group) == batch
    stratified_sample on the same rows (same permuted-order criterion),
    including cross-batch candidate replacement and id dedup."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from xenoeye_spark.datapipe.sampling import stratified_sample
    from xenoeye_spark.streaming.sample_stream import bottomk_sample_stream

    WB = 1_700_000_040
    K = 5
    # group g0: 20 ids over two batches (incl. a duplicate delivery of
    # id 3); group g1: 3 ids (under-full)
    b1 = [("g0", WB + 1.0, i) for i in range(10)] + \
         [("g1", WB + 2.0, 100 + i) for i in range(3)]
    b2 = [("g0", WB + 30.0, 10 + i) for i in range(10)] + \
         [("g0", WB + 31.0, 3)]
    b3 = [("g0", WB + 70.0, 999)]     # window1
    b4 = [("g0", WB + 400.0, 998)]    # watermark -> WB+360: closes
                                      # window0 + window1
    batches = [b1, b2, b3, b4]
    src = tmp_path / "in"
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "k string, ts double, doc_id long")
         .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1)
         .write.parquet(str(src / f"b{i}")))

    stage = _tempfile.mkdtemp(prefix="bk_src_")
    ckpt = _tempfile.mkdtemp(prefix="bk_ckpt_")
    got: list = []
    for i in range(len(batches)):
        for f in _glob.glob(_os.path.join(str(src / f"b{i}"), "*.parquet")):
            _shutil.copy(f, _os.path.join(stage, f"b{i}_" + _os.path.basename(f)))
        stream = (spark.readStream
                  .schema("k string, ts timestamp, doc_id long")
                  .option("maxFilesPerTrigger", "1").parquet(stage))
        q = (bottomk_sample_stream(stream, "k", "ts", "doc_id", k=K,
                                   window="60 seconds",
                                   watermark_delay="0 seconds")
             .writeStream.foreachBatch(
                 lambda df, e: got.extend(df.collect()))
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    finals = [r for r in got
              if r.is_final and r.window_start.timestamp() == WB]
    by_group: dict = {}
    for r in finals:
        by_group.setdefault(r.k, {})[r.doc_id] = r.sample_rank

    # batch twin over window0 rows (dedup deliveries like the stream)
    w0_rows = list({(g, i) for g, t, i in b1 + b2 if t < WB + 60})
    bdf = spark.createDataFrame(w0_rows, "k string, doc_id long")
    want: dict = {}
    for r in stratified_sample(bdf, "k", K, id_col="doc_id").collect():
        want.setdefault(r.k, {})[r.doc_id] = r.sample_rank
    assert by_group == want
    assert len(by_group["g0"]) == K and len(by_group["g1"]) == 3
    # n_rows counts deliveries (21 for g0: 10 + 10 + dup)
    g0_final = [r for r in finals if r.k == "g0"][0]
    assert g0_final.n_rows == 21


def test_bottomk_sample_stream_hash_collision_keeps_both(spark, tmp_path):
    """Review fix: ids exactly 2^31-1 apart collide under the mod-P
    permutation; BOTH must survive (batch keeps both via the id
    tiebreak), ranked adjacently by id."""
    import tempfile as _tempfile

    from xenoeye_spark.datapipe.sampling import stratified_sample
    from xenoeye_spark.streaming.sample_stream import bottomk_sample_stream

    WB = 1_700_000_040
    P = (1 << 31) - 1
    ids = [5, 5 + P, 17, 40]
    rows = [("g", WB + 1.0, i) for i in ids]
    src = tmp_path / "in"
    (spark.createDataFrame(rows, "k string, ts double, doc_id long")
     .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1)
     .write.parquet(str(src / "b0")))
    ckpt = _tempfile.mkdtemp(prefix="bkc_ckpt_")
    got: list = []
    stream = (spark.readStream.schema("k string, ts timestamp, doc_id long")
              .option("maxFilesPerTrigger", "1").parquet(str(src / "b0")))
    q = (bottomk_sample_stream(stream, "k", "ts", "doc_id", k=4,
                               window="60 seconds")
         .writeStream.foreachBatch(lambda df, e: got.extend(df.collect()))
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    run = {r.doc_id: r.sample_rank for r in got if not r.is_final}
    assert set(run) == set(ids)          # the colliding pair BOTH kept
    want = {r.doc_id: r.sample_rank for r in stratified_sample(
        spark.createDataFrame([("g", i) for i in ids], "k string, doc_id long"),
        "k", 4, id_col="doc_id").collect()}
    assert run == want
    assert run[5] + 1 == run[5 + P]      # tie ranked by id, adjacent


def test_precombine_stamps_window_end(spark):
    """r6 review fix: the pre-combine's event-time column must be the
    window END — a pure function of the window — not the per-group max
    row ts. Stamping a merged partial with a max ts would let a late
    row survive the state op's late filter iff it happened to share a
    partition with a fresh row (partition-placement-dependent results).
    Driven in batch mode; all three streaming pre-combines."""
    from xenoeye_spark.streaming import kmv_stream, sample_stream
    from xenoeye_spark.streaming import topk_stream

    WB = 1_700_000_040
    base = spark.createDataFrame(
        [("g", WB + 1.0, "alpha beta", 7)] * 3
        + [("g", WB + 59.0, "gamma", 8), ("g", WB + 61.0, "delta", 9)],
        "k string, ts double, text string, doc_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    outs = [
        kmv_stream.precombined_input(base, "k", "ts", "text", 4,
                                     "60 seconds"),
        sample_stream.precombined_input(base, "k", "ts", "doc_id", 4,
                                        "60 seconds"),
        topk_stream.precombined_input(base, "text", "ts", "60 seconds"),
    ]
    for out in outs:
        bad = out.filter(
            F.col("ts").cast("long")
            != F.col("window_start").cast("long") + 60
        ).count()
        assert bad == 0, out.columns


def test_kmv_stream_lateness_is_window_deterministic(spark, tmp_path):
    """r6 review fix: lateness is decided per WINDOW, not per row — a
    raw-late row arriving BEFORE its window finalizes is absorbed
    (regardless of partition placement), and one arriving AFTER the
    final fired is dropped without re-creating state (no duplicate
    finals)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from xenoeye_spark.streaming.kmv_stream import kmv_distinct_stream

    WB = 1_700_000_040
    batches = [
        [("a", WB + 50.0, "one two")],
        # raw ts 45s behind the max seen — absorbed: window0 not final
        [("a", WB + 5.0, "three")],
        [("a", WB + 400.0, "x")],     # watermark -> WB+360
        # window0's final fires THIS trigger; the straggler is dropped
        # by the same-window rule and must NOT re-create state
        [("a", WB + 30.0, "four"), ("a", WB + 600.0, "y")],
    ]
    src = tmp_path / "in"
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "k string, ts double, text string")
         .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1)
         .write.parquet(str(src / f"b{i}")))

    stage = _tempfile.mkdtemp(prefix="kmvl_src_")
    ckpt = _tempfile.mkdtemp(prefix="kmvl_ckpt_")
    got: list = []
    schema = "k string, ts timestamp, text string"
    for i in range(len(batches)):
        for f in _glob.glob(_os.path.join(str(src / f"b{i}"), "*.parquet")):
            _shutil.copy(f, _os.path.join(stage, f"b{i}_" + _os.path.basename(f)))
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(stage))
        q = (kmv_distinct_stream(stream, "k", "ts", k=8,
                                 window="60 seconds",
                                 watermark_delay="0 seconds")
             .writeStream.foreachBatch(
                 lambda df, e: got.extend(df.collect()))
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    w0 = [r for r in got if r.window_start.timestamp() == WB]
    finals = [r for r in w0 if r.is_final]
    assert len(finals) == 1                      # no duplicate finals
    # "one two" + the absorbed raw-late "three"; NOT the post-final "four"
    assert finals[0].n_sketch == 3
    assert finals[0].n_rows == 3
    # nothing for window0 after its final (state never re-created)
    assert all(not r.is_final for r in w0[:-1])


def test_heavy_hitters_stream_null_items_excluded(spark, tmp_path):
    """Review fix: NULL items are excluded BEFORE the stateful op, so
    n_rows matches the summarized universe (pandas groupby would drop
    the None key but its weight previously inflated n_rows)."""
    import tempfile as _tempfile

    from xenoeye_spark.streaming.topk_stream import heavy_hitters_stream

    WB = 1_700_000_040
    rows = [("a", WB + 1.0), (None, WB + 2.0), ("a", WB + 3.0),
            (None, WB + 4.0), ("b", WB + 5.0)]
    src = tmp_path / "in"
    (spark.createDataFrame(rows, "item string, ts double")
     .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1)
     .write.parquet(str(src / "b0")))
    ckpt = _tempfile.mkdtemp(prefix="hhn_ckpt_")
    got: list = []
    stream = (spark.readStream.schema("item string, ts timestamp")
              .option("maxFilesPerTrigger", "1").parquet(str(src / "b0")))
    q = (heavy_hitters_stream(stream, "item", "ts", k=4,
                              window="60 seconds")
         .writeStream.foreachBatch(lambda df, e: got.extend(df.collect()))
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    run = {r.item: r for r in got if not r.is_final}
    assert set(run) == {"a", "b"}
    assert run["a"].est_count == 2 and run["a"].n_rows == 3  # not 5


def test_cms_watch_stream_matches_batch(spark, tmp_path):
    """Streaming windowed Count-Min == batch cms_build/probe on the
    same rows, cell-collisions included (width=16 forces them), across
    two windows; finals fire via event-time timeout and free state."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from xenoeye_spark.datapipe.sketch import cms_build
    from xenoeye_spark.streaming.cms_stream import (
        cms_watch_stream, probe_cells,
    )

    WB = 1_700_000_040
    W = 16
    PROBES = ["alpha", "beta", "gamma", "nosuch"]
    batches = [
        [(WB + 1.0, "alpha beta alpha"), (WB + 2.0, "gamma alpha")],
        [(WB + 30.0, "beta beta delta"), (WB + 70.0, "alpha zeta")],
        [(WB + 200.0, "beta")],     # watermark -> WB+180 after widening
        [(WB + 400.0, "eta")],      # fires finals through WB+240
    ]
    src = tmp_path / "in"
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "ts double, text string")
         .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1)
         .write.parquet(str(src / f"b{i}")))

    stage = _tempfile.mkdtemp(prefix="cms_src_")
    ckpt = _tempfile.mkdtemp(prefix="cms_ckpt_")
    got: list = []
    schema = "ts timestamp, text string"
    for i in range(len(batches)):
        d = str(src / f"b{i}")
        for f in _glob.glob(_os.path.join(d, "*.parquet")):
            _shutil.copy(f, _os.path.join(stage, f"b{i}_" + _os.path.basename(f)))
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(stage))
        q = (cms_watch_stream(stream, "ts", PROBES, width=W,
                              window="60 seconds",
                              watermark_delay="0 seconds")
             .writeStream.foreachBatch(
                 lambda df, e: got.extend(df.collect()))
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    finals = {(r.window_start.timestamp(), r.token): r
              for r in got if r.is_final}
    assert {w for w, _ in finals} == {float(WB), float(WB + 60),
                                      float(WB + 180)}

    # batch twin per window: fold the same texts through cms_build and
    # probe with the same hash family
    def batch_est(texts):
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        cells = {r.row_id * W + r.bucket: r.cnt
                 for r in cms_build(df, width=W).collect()}
        n = sum(len(t.split()) for t in texts)
        return {p: min(cells.get(c, 0) for c in probe_cells(p, W))
                for p in PROBES}, n

    w0_est, w0_n = batch_est(["alpha beta alpha", "gamma alpha",
                              "beta beta delta"])
    for p in PROBES:
        r = finals[(float(WB), p)]
        assert r.cms_est == w0_est[p], p
        assert r.n_tokens == w0_n
    # true counts are lower bounds (never-underestimate, per window)
    assert finals[(float(WB), "alpha")].cms_est >= 3
    assert finals[(float(WB), "beta")].cms_est >= 3
    assert finals[(float(WB), "gamma")].cms_est >= 1

    w1_est, w1_n = batch_est(["alpha zeta"])
    for p in PROBES:
        assert finals[(float(WB + 60), p)].cms_est == w1_est[p], p
    assert finals[(float(WB + 60), "alpha")].n_tokens == w1_n

    # running rows preceded finals for the spanning window
    assert any(not r.is_final and r.window_start.timestamp() == WB
               for r in got)


def test_cms_stream_precombine_bounds_crossing_volume(spark):
    """Batch-mode drive of the pre-combine: a hot-token stream's rows
    collapse to <= d*width cells per (window, partition) before the
    state shuffle."""
    from xenoeye_spark.datapipe.sketch import CMS_ROWS
    from xenoeye_spark.streaming.cms_stream import precombined_input

    W = 16
    N_PARTS = 4
    rows = [(1_700_000_000.0 + (i % 50), "hot hot hot cold w%d" % (i % 7))
            for i in range(20_000)]
    df = (spark.createDataFrame(rows, "ts double, text string")
          .withColumn("ts", F.col("ts").cast("timestamp"))
          .repartition(N_PARTS))
    pre = precombined_input(df, "ts", "text", W, "60 seconds")
    crossing = pre.count()
    # one window, <= d*W distinct cells per partition
    assert crossing <= len(CMS_ROWS) * W * N_PARTS, crossing
    # and the partial sums still total d * n_tokens exactly
    total = pre.agg(F.sum("_cnt")).collect()[0][0]
    assert total == len(CMS_ROWS) * 5 * 20_000


def test_hist_quantile_stream_matches_python_twin(spark, tmp_path):
    """Streaming windowed log-histogram quantiles == a python fold of
    the identical binning + interpolation, across two windows and keys;
    finals fire via event-time timeout; accuracy bounded vs exact."""
    import glob as _glob
    import math as _math
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    import numpy as _np

    from xenoeye_spark.streaming.quantile_stream import (
        hist_quantile_stream, hist_quantiles, value_bin,
    )

    WB = 1_700_000_040
    rng = __import__("random").Random(7)
    w0_a = [rng.randint(1, 5000) for _ in range(300)]
    w0_b = [rng.randint(100, 200) for _ in range(50)]
    w1_a = [rng.randint(1, 50) for _ in range(80)]
    batches = [
        [("a", WB + 1.0 + i * 0.1, v) for i, v in enumerate(w0_a[:150])]
        + [("b", WB + 2.0 + i * 0.1, v) for i, v in enumerate(w0_b)],
        [("a", WB + 20.0 + i * 0.1, v)
         for i, v in enumerate(w0_a[150:])]
        + [("a", WB + 70.0 + i * 0.01, v) for i, v in enumerate(w1_a)],
        [("a", WB + 400.0, 1)],   # fires finals for w0 and w1
    ]
    src = tmp_path / "in"
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "k string, ts double, v long")
         .withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1)
         .write.parquet(str(src / f"b{i}")))

    stage = _tempfile.mkdtemp(prefix="hq_src_")
    ckpt = _tempfile.mkdtemp(prefix="hq_ckpt_")
    got: list = []
    schema = "k string, ts timestamp, v long"
    for i in range(len(batches)):
        d = str(src / f"b{i}")
        for f in _glob.glob(_os.path.join(d, "*.parquet")):
            _shutil.copy(f, _os.path.join(stage, f"b{i}_" + _os.path.basename(f)))
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(stage))
        q = (hist_quantile_stream(stream, "k", "ts", "v",
                                  window="60 seconds",
                                  watermark_delay="0 seconds")
             .writeStream.foreachBatch(
                 lambda df, e: got.extend(df.collect()))
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    finals = {(r.window_start.timestamp(), r.k): r
              for r in got if r.is_final}
    assert (float(WB), "a") in finals and (float(WB), "b") in finals
    assert (float(WB + 60), "a") in finals

    def twin(vals):
        hist: dict[int, int] = {}
        for v in vals:
            b = value_bin(v)
            hist[b] = hist.get(b, 0) + 1
        bins = _np.array(list(hist.keys()), dtype=_np.int64)
        cnts = _np.array(list(hist.values()), dtype=_np.int64)
        return hist_quantiles(bins, cnts, [0.5, 0.9, 0.99])

    for (vals, key) in [(w0_a, (float(WB), "a")),
                        (w0_b, (float(WB), "b")),
                        (w1_a, (float(WB + 60), "a"))]:
        r = finals[key]
        t50, t90, t99 = twin(vals)
        assert (r.p50, r.p90, r.p99) == (t50, t90, t99), key
        assert r.n_rows == len(vals)
        # accuracy: within one sub-bin (1/16 relative) of the exact
        # nearest-rank percentile, both directions
        for q, est in [(0.5, r.p50), (0.9, r.p90), (0.99, r.p99)]:
            exact = sorted(vals)[max(1, _math.ceil(q * len(vals))) - 1]
            assert abs(est - exact) <= exact / 8 + 1, (key, q, est, exact)

    # cross-batch state carry emitted a running row before the final
    assert any(not r.is_final and r.k == "a"
               and r.window_start.timestamp() == WB for r in got)


def test_hist_quantile_precombine_bounds_crossing_volume(spark):
    """Batch-mode drive of the pre-combine: a hot key's raw rows
    collapse to <= touched-bins rows per (window, key, partition)."""
    from xenoeye_spark.streaming.quantile_stream import (
        SUB, precombined_input,
    )

    N_PARTS = 4
    rows = [("hot", 1_700_000_000.0 + (i % 50), (i % 1000) + 1)
            for i in range(30_000)]
    df = (spark.createDataFrame(rows, "k string, ts double, v long")
          .withColumn("ts", F.col("ts").cast("timestamp"))
          .repartition(N_PARTS))
    pre = precombined_input(df, "k", "ts", "v", "60 seconds")
    crossing = pre.count()
    # values 1..1000 touch <= 10 octaves * SUB bins
    assert crossing <= 10 * SUB * N_PARTS, crossing
    assert pre.agg(F.sum("_cnt")).collect()[0][0] == 30_000


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming new-batch-vs-corpus dedup == the batch operator on the
    same rows, across micro-batches: same flags, same best matches,
    same tie rule; docs with no bucket collision still emit is_dup=0."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import Row

    from xenoeye_spark.datapipe.dedup import incremental_dedup
    from xenoeye_spark.streaming.dedup_stream import (
        incremental_dedup_stream,
    )

    corpus_rows = [
        Row(doc_id=i, text=" ".join(f"c{i}w{j}" for j in range(30)))
        for i in range(20)
    ]
    t = " ".join(f"t{j}" for j in range(20))
    corpus_rows += [Row(doc_id=50, text=t), Row(doc_id=51, text=t)]
    corpus = spark.createDataFrame(corpus_rows)

    base3 = corpus_rows[3].text.split()
    batches = [
        [Row(doc_id=100, text=corpus_rows[5].text),          # exact dup
         Row(doc_id=101, text=" ".join(f"n{j}" for j in range(25)))],
        [Row(doc_id=102, text=" ".join(base3[:28] + ["x", "y"])),
         Row(doc_id=103, text=t)],                           # tie -> 50
    ]
    src = tmp_path / "in"
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows).coalesce(1)
         .write.parquet(str(src / f"b{i}")))

    stage = _tempfile.mkdtemp(prefix="incdedup_src_")
    ckpt = _tempfile.mkdtemp(prefix="incdedup_ckpt_")
    got: list = []
    for i in range(len(batches)):
        d = str(src / f"b{i}")
        for f in _glob.glob(_os.path.join(d, "*.parquet")):
            _shutil.copy(f, _os.path.join(stage, f"b{i}_" + _os.path.basename(f)))
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1").parquet(stage))
        q = (incremental_dedup_stream(stream, corpus, threshold=0.5)
             .writeStream.foreachBatch(
                 lambda df, e: got.extend(df.collect()))
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    # no stream-stream join state: the stream side is ONE lineage, so
    # the plan must carry no symmetric hash join (whose state would
    # grow with every doc ever ingested)
    stream0 = (spark.readStream.schema("doc_id long, text string")
               .parquet(stage))
    plan = (incremental_dedup_stream(stream0, corpus, threshold=0.5)
            ._jdf.queryExecution().analyzed().toString())
    assert "StreamingSymmetricHashJoin" not in plan

    got_map = {r.doc_id: (r.is_dup, r.dup_of, r.jaccard) for r in got}
    all_new = spark.createDataFrame(
        [r for b in batches for r in b]
    )
    want = {r.doc_id: (r.is_dup, r.dup_of, r.jaccard)
            for r in incremental_dedup(all_new, corpus,
                                       threshold=0.5).collect()}
    assert got_map == want, (got_map, want)
    assert got_map[100] == (1, 5, 1.0)
    assert got_map[101] == (0, None, None)
    assert got_map[103] == (1, 50, 1.0)     # tie to the LOWER corpus id
    assert got_map[102][0] == 1 and got_map[102][1] == 3


def test_mavg_limits_dict_bound_guard(spark, monkeypatch):
    """r7: a thresholds dict past LIMITS_DICT_MAX rides the pickled
    closure into every task — the stream refuses it (SURVEY §7.3)."""
    from xenoeye_spark.streaming import mavg_stream

    monkeypatch.setattr(mavg_stream, "LIMITS_DICT_MAX", 10)
    flows = spark.createDataFrame(
        [("k1", float(BASE), 1.0)], "k string, ts double, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    big = {(f"k{i}",): 1.0 for i in range(11)}
    with pytest.raises(ValueError, match="pickled closure"):
        mavg_alert_stream(flows, ["k"], "v", 10, 1.0, thresholds=big)


def _per_key_reference(batches, window_sec, threshold, back2norm_sec):
    """Plain-Python mavg reference: each micro-batch's rows grouped by
    key, replayed in time order through replay_rows with every key's
    state carried to the next batch (one state per key, no buckets).
    Returns the events as (k, event, ts_ns, rate)."""
    from xenoeye_spark.streaming.mavg_stream import S_NONE, replay_rows

    state: dict = {}
    events = []
    for rows in batches:
        by_key: dict = {}
        for k, ts, v in rows:
            by_key.setdefault(k, []).append((int(ts * 1e9), v))
        for k, kr in by_key.items():
            kr.sort()
            st, ev = replay_rows(
                state.get(k, (0.0, None, S_NONE, None, None)),
                [t for t, _ in kr], [v for _, v in kr], (k,), threshold,
                window_sec, int(window_sec * 1e9), int(back2norm_sec * 1e9),
                False,
            )
            state[k] = st
            events.extend(ev)
    return sorted((k, e, t, rate) for k, e, rate, _lim, t in events)


def test_mavg_bucketed_equivalent_to_per_key(spark, tmp_path):
    """r8: bucketed state (one pickled {key: state} dict per hash
    bucket — the reference's per-thread-trie layout) replays the exact
    event sequence of a per-key replay across micro-batches, including
    GONE on a later batch: every key's rates are bit-equal to the
    plain-Python per-key reference whether all keys share one bucket
    or spread over four."""
    burst = (
        [("k1", float(BASE + i), 1000.0) for i in range(10)]
        + [("k2", float(BASE + i), 0.001) for i in range(10)]
        + [("k3", float(BASE + i), 800.0) for i in range(5)]
    )
    quiet = (
        [("k1", float(BASE + 100 + i * 10), 0.001) for i in range(10)]
        + [("k3", float(BASE + 100), 900.0)]
    )
    dirs = _write_batches(spark, str(tmp_path / "src"), [burst, quiet])

    def run(**kw):
        collected = []

        def build(stream, ckpt, out):
            alerts = mavg_alert_stream(
                stream, ["k"], "v", window_sec=10, threshold=50.0,
                back2norm_sec=20, silent_watch=False, **kw,
            )

            def sink(df, epoch):
                out.extend(df.collect())

            return (
                alerts.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append").trigger(availableNow=True).start()
            )

        _run_stream_over_dirs(spark, dirs, build, collected)
        return sorted(
            (r["k"], r["event"], r["ts_ns"], r["rate"]) for r in collected
        )

    want = _per_key_reference([burst, quiet], 10, 50.0, 20)
    evs = [(k, e) for k, e, *_ in want]
    assert ("k1", "NEW") in evs and ("k1", "GONE") in evs
    assert ("k3", "NEW") in evs and ("k2", "NEW") not in evs
    assert run(buckets=1) == want       # same replay core -> bit-equal
    assert run(buckets=4) == want


def test_mavg_bucketed_thresholds_and_validation(spark, tmp_path):
    """Bucketed mode resolves per-key limits from the thresholds dict
    and refuses buckets < 1."""
    burst = [("k1", float(BASE + i), 1000.0) for i in range(10)]
    dirs = _write_batches(spark, str(tmp_path / "src"), [burst])

    flows = spark.createDataFrame(
        [("k1", float(BASE), 1.0)], "k string, ts double, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="buckets"):
        mavg_alert_stream(flows, ["k"], "v", 10, 1.0, buckets=0)

    collected = []

    def build(stream, ckpt, out):
        alerts = mavg_alert_stream(
            stream, ["k"], "v", window_sec=10, threshold=1e18,
            back2norm_sec=20, silent_watch=False, buckets=8,
            thresholds={("k1",): 50.0},
        )

        def sink(df, epoch):
            out.extend(df.collect())

        return (
            alerts.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )

    _run_stream_over_dirs(spark, dirs, build, collected)
    assert collected and collected[0]["event"] == "NEW"
    assert all(r["threshold"] == 50.0 for r in collected)


def test_mavg_config_bucket_knobs(spark, tmp_path):
    """mo.conf mavg sections accept "buckets" (the per-thread-trie
    analogue of the reference's mem-m cap); the removed "precombine"
    key fails at load instead of being silently ignored."""
    from xenoeye_spark.config.mo import MavgConfig

    mc = MavgConfig.from_dict({
        "name": "m1", "fields": ["octets", "src host"],
        "time": 10, "buckets": 64,
    })
    assert mc.buckets == 64
    assert MavgConfig.from_dict(
        {"name": "m2", "fields": ["octets"]}
    ).buckets is None
    with pytest.raises(ValueError, match='"precombine" key was removed'):
        MavgConfig.from_dict({
            "name": "m3", "fields": ["octets"], "precombine": False,
        })


def test_mavg_bucketed_idle_purge(spark, tmp_path):
    """r8: bucketed try_reset_db parity — idle keys age out of the
    bucket table at the watch tick once silent for the window (the
    idle TTL), so a key silent past it restarts its EWMA from scratch,
    and the alarmed-key walk still reaches GONE from inside a bucket."""
    b1 = [("k1", float(BASE + i), 100.0) for i in range(5)]
    b2 = [("k1", float(BASE + 1000), 7.0)]
    dirs = _write_batches(spark, str(tmp_path / "src"), [b1, b2])

    collected = []
    window = 1

    def build(stream, ckpt, out):
        alerts = mavg_alert_stream(
            stream, ["k"], "v", window_sec=window, threshold=0.0,
            buckets=8,
        )

        def sink(df, epoch):
            out.extend(df.collect())

        return (
            alerts.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )

    import glob as g
    import shutil
    import tempfile
    import time as time_mod

    stage = tempfile.mkdtemp(prefix="bttl_src_")
    ckpt = tempfile.mkdtemp(prefix="bttl_ckpt_")
    for i, d in enumerate(dirs):
        for f in g.glob(os.path.join(d, "*.parquet")):
            shutil.copy(f, os.path.join(stage, f"b{i}_" + os.path.basename(f)))
        stream = (
            spark.readStream.schema(FLOW_SCHEMA)
            .option("maxFilesPerTrigger", "1").parquet(stage)
        )
        q = build(stream, ckpt, collected)
        _await_input_processed(q, time_mod, settle_sec=6)
        q.stop()
        q.awaitTermination(60)
        time_mod.sleep(2)  # let the 1s idle TTL tick purge the bucket
    final = max(collected, key=lambda r: r["ts_ns"])
    # with live state the dt >= T reset gives the same rate
    assert final["rate"] == pytest.approx(7.0 / window, rel=1e-6)


class _FakeGroupState:
    """Minimal applyInPandasWithState GroupState double for driving the
    bucket fn deterministically (no streaming query, no wall clock)."""

    def __init__(self):
        self._val = None
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        if self._val is None:
            raise ValueError("state does not exist")
        return self._val

    def update(self, v):
        self._val = tuple(v)

    def remove(self):
        self._val = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _drive_bucket_fn(fn, pdf, state):
    import pandas as pd

    out = list(fn((0,), iter([pdf]), state))
    return pd.concat(out, ignore_index=True) if out else None


def test_mavg_bucketed_silent_walk_in_data_path(monkeypatch):
    """r9 (ADVICE high): a bucket holding a busy key receives data every
    micro-batch, so the GROUP timeout never fires — the DATA path must
    run the act-thread walk: an alarmed key with no rows this batch
    transitions ALMOST_GONE -> GONE via silent decay while another key
    keeps the bucket busy, with hasTimedOut never set."""
    import pickle

    import pandas as pd

    from xenoeye_spark.streaming import mavg_stream as ms

    t1 = BASE * 10**9
    clock = {"now": t1 + 10 * 10**9}
    monkeypatch.setattr(ms, "_time_now_ns", lambda: clock["now"])

    fn = ms.make_mavg_bucket_fn(
        ["k"], window_sec=2, threshold=10.0, back2norm_sec=1,
        silent_watch=True,
    )
    state = _FakeGroupState()

    def batch(rows):
        return pd.DataFrame(rows, columns=["k", "_ts_ns", "_val"])

    # batch 1: k1 breaches (NEW), k2 stays tiny; both seen -> no walk events
    out = _drive_bucket_fn(fn, batch(
        [("k1", t1 + i * 10**9, 1000.0) for i in range(5)]
        + [("k2", t1, 0.001)]
    ), state)
    assert ("k1", "NEW") in {(r.k, r.event) for r in out.itertuples()}

    # batch 2: ONLY k2 — k1 silent, decayed to 0 => ALMOST_GONE (no event)
    clock["now"] += 3 * 10**9
    _drive_bucket_fn(fn, batch([("k2", t1 + 20 * 10**9, 0.001)]), state)
    _lw, table = pickle.loads(bytes(state.get[0]))
    assert table[("k1",)][2] == ms.S_ALMOST_GONE

    # batch 3: ONLY k2 again, past back2norm => GONE from the data path
    clock["now"] += 2 * 10**9
    out = _drive_bucket_fn(fn, batch([("k2", t1 + 30 * 10**9, 0.001)]), state)
    assert ("k1", "GONE") in {(r.k, r.event) for r in out.itertuples()}
    _lw, table = pickle.loads(bytes(state.get[0]))
    assert table[("k1",)][2] == ms.S_NONE
    assert not state.hasTimedOut  # the whole cycle ran without a timeout


def test_mavg_bucketed_idle_purge_in_data_path(monkeypatch):
    """r9: idle keys age out of a BUSY bucket's table on the data-path
    walk (previously only the never-firing group timeout purged them),
    and the walk is gated to one pass per tick (last_walk in the blob).
    Pre-r9 bare-dict blobs load compatibly."""
    import pickle

    import pandas as pd

    from xenoeye_spark.streaming import mavg_stream as ms

    t1 = BASE * 10**9
    clock = {"now": t1}
    monkeypatch.setattr(ms, "_time_now_ns", lambda: clock["now"])

    fn = ms.make_mavg_bucket_fn(
        ["k"], window_sec=1, threshold=1e18, back2norm_sec=1,
    )
    # seed with a PRE-R9 blob (bare table, no last_walk header)
    state = _FakeGroupState()
    state.update((pickle.dumps(
        {("k1",): (5.0, t1, ms.S_NONE, None, t1, None)}
    ),))

    def batch(rows):
        return pd.DataFrame(rows, columns=["k", "_ts_ns", "_val"])

    # k2 keeps the bucket busy 5s later; k1 idle past the 1s window ->
    # purged
    clock["now"] = t1 + 5 * 10**9
    _drive_bucket_fn(fn, batch([("k2", t1 + 5 * 10**9, 1.0)]), state)
    lw, table = pickle.loads(bytes(state.get[0]))
    assert ("k1",) not in table and ("k2",) in table
    assert lw == clock["now"]

    # within the same tick the walk is gated: k2 would be TTL-stale by
    # event-time but the gate hasn't reopened -> untouched
    clock["now"] += int(0.2 * 10**9)
    _drive_bucket_fn(fn, batch([("k3", t1 + 6 * 10**9, 1.0)]), state)
    lw2, table = pickle.loads(bytes(state.get[0]))
    assert lw2 == lw and ("k2",) in table


def test_mavg_idle_purge_survives_lagging_event_time(monkeypatch):
    """The idle purge ages keys by the wall clock of the batches that
    carried them, not by their flow timestamps: with every flow stamped
    a year behind the wall clock (a replayed spool, a backlog after a
    restart, an exporter with a late clock), a key absent from one
    batch keeps its EWMA, and it ages out only after a window of wall
    time without rows."""
    import pickle

    import pandas as pd

    from xenoeye_spark.streaming import mavg_stream as ms

    t_ev = BASE * 10**9
    clock = {"now": t_ev + 365 * 86400 * 10**9}
    monkeypatch.setattr(ms, "_time_now_ns", lambda: clock["now"])
    fn = ms.make_mavg_bucket_fn(
        ["k"], window_sec=2, threshold=1e18, back2norm_sec=1,
    )
    state = _FakeGroupState()

    def batch(rows):
        _drive_bucket_fn(
            fn, pd.DataFrame(rows, columns=["k", "_ts_ns", "_val"]), state
        )
        return pickle.loads(bytes(state.get[0]))[1]

    batch([("a", t_ev, 10.0), ("b", t_ev, 10.0)])
    # 1 s of wall time later only b has flows; the walk runs
    clock["now"] += 10**9
    table = batch([("b", t_ev + 10**8, 10.0)])
    assert ("a",) in table and table[("a",)][0] == 10.0
    # a's next flow, 1 s of event time on, decays the kept value
    clock["now"] += 10**9
    table = batch([("a", t_ev + 10**9, 10.0)])
    assert table[("a",)][0] == pytest.approx(10.0 - 0.5 * 10.0 + 10.0)
    # 2.5 s of wall time with no rows for a: it ages out
    clock["now"] += int(2.5 * 10**9)
    table = batch([("b", t_ev + 2 * 10**9, 10.0)])
    assert ("a",) not in table and ("b",) in table


def test_mavg_alarm_walk_runs_on_the_event_clock(monkeypatch):
    """The alarmed-key walk reads a silent key at its own event clock
    moved on by the wall time since its last batch, so flows stamped
    far from the wall clock alarm like flows stamped at it: a key that
    breaches every third 1 s batch stays alarmed with its flows a year
    behind the clock (instead of flapping NEW / GONE), and a key that
    breaches once and goes silent reaches GONE with its flows an hour
    ahead of the clock (instead of a negative dt inflating its decayed
    value). Another key keeps the bucket busy in every batch."""
    import pandas as pd

    from xenoeye_spark.streaming import mavg_stream as ms

    wall0 = BASE * 10**9
    clock = {"now": wall0}
    monkeypatch.setattr(ms, "_time_now_ns", lambda: clock["now"])

    def run(offset_ns, k_batches, n_batches):
        clock["now"] = wall0
        fn = ms.make_mavg_bucket_fn(
            ["k"], window_sec=2, threshold=10.0, back2norm_sec=1,
        )
        state = _FakeGroupState()
        events = []
        for i in range(n_batches):
            t = clock["now"] + offset_ns
            rows = [("o", t, 0.001)] + ([("k", t, 100.0)] if i in k_batches
                                         else [])
            out = _drive_bucket_fn(
                fn, pd.DataFrame(rows, columns=["k", "_ts_ns", "_val"]),
                state,
            )
            if out is not None:
                events += [r.event for r in out.itertuples() if r.k == "k"]
            clock["now"] += 10**9
        return events

    year, hour = 365 * 86400 * 10**9, 3600 * 10**9
    every_third = {0, 3, 6}
    assert run(0, every_third, 9) == ["NEW", "UPDATE", "UPDATE"]
    assert run(-year, every_third, 9) == ["NEW", "UPDATE", "UPDATE"]
    assert run(0, {0}, 6) == ["NEW", "GONE"]
    assert run(hour, {0}, 6) == ["NEW", "GONE"]


def test_mavg_walk_and_replay_share_one_transition(monkeypatch):
    """The silent walk takes the same alarm step as a flow: an
    underlimit key in its back2norm grace (ALMOST_GONE) that breaches
    again while silent goes back to UPDATE and drops its grace, so a
    later normal flow starts a fresh grace instead of ending the alarm
    with GONE at once."""
    import pickle

    import pandas as pd

    from xenoeye_spark.streaming import mavg_stream as ms

    t0 = BASE * 10**9
    clock = {"now": t0}
    monkeypatch.setattr(ms, "_time_now_ns", lambda: clock["now"])
    fn = ms.make_mavg_bucket_fn(
        ["k"], window_sec=2, threshold=10.0, back2norm_sec=10, under=True,
    )
    state = _FakeGroupState()
    events = []

    def batch(at_s, rows):
        clock["now"] = t0 + at_s * 10**9
        out = _drive_bucket_fn(fn, pd.DataFrame(
            [(k, clock["now"], v) for k, v in rows],
            columns=["k", "_ts_ns", "_val"],
        ), state)
        if out is not None:
            events.extend(r.event for r in out.itertuples() if r.k == "k")
        return pickle.loads(bytes(state.get[0]))[1]

    batch(0, [("k", 100.0)])            # inside the start-up grace
    batch(3, [("k", 1.0)])              # rate 0.5 < 10: NEW
    table = batch(4, [("k", 100.0)])    # back above the limit
    assert table[("k",)][2] == ms.S_ALMOST_GONE
    table = batch(6, [("o", 100.0)])    # k silent, decays below: breach
    assert table[("k",)][2] == ms.S_UPDATE
    assert table[("k",)][3] is None
    batch(15, [("k", 100.0)])           # a fresh grace, no GONE yet
    assert events == ["NEW"]


def test_mavg_saved_blob_layout_loads_and_walks(monkeypatch):
    """A bucket blob in the saved entry layout (n, t_prev, alarm,
    below_since, first_seen, limit, seen_ns) under a last-walk header
    loads and walks: its silent alarmed key reaches GONE on its event
    clock and its idle key ages out."""
    import pickle

    import pandas as pd

    from xenoeye_spark.streaming import mavg_stream as ms

    t_ev = BASE * 10**9
    wall = t_ev + 365 * 86400 * 10**9
    clock = {"now": wall}
    monkeypatch.setattr(ms, "_time_now_ns", lambda: clock["now"])
    fn = ms.make_mavg_bucket_fn(
        ["k"], window_sec=2, threshold=10.0, back2norm_sec=1,
    )
    state = _FakeGroupState()
    state.update((pickle.dumps((wall, {
        ("a",): (100.0, t_ev, ms.S_NEW, None, t_ev, 10.0, wall),
        ("b",): (1.0, t_ev, ms.S_NONE, None, t_ev, 10.0, wall),
    })),))

    def batch(rows):
        out = _drive_bucket_fn(fn, pd.DataFrame(
            rows, columns=["k", "_ts_ns", "_val"]
        ), state)
        ev = [] if out is None else [(r.k, r.event) for r in out.itertuples()]
        return ev, pickle.loads(bytes(state.get[0]))[1]

    clock["now"] += 3 * 10**9
    ev, table = batch([("c", t_ev + 3 * 10**9, 1.0)])
    assert ev == [] and ("b",) not in table
    assert table[("a",)][2] == ms.S_ALMOST_GONE
    assert table[("a",)][3] == t_ev + 3 * 10**9   # the key's event clock
    clock["now"] += 2 * 10**9
    ev, table = batch([("c", t_ev + 5 * 10**9, 1.0)])
    assert ev == [("a", "GONE")] and table[("a",)][2] == ms.S_NONE


def test_mavg_event_ts_ns_is_exact_micros(spark, tmp_path):
    """A NEW event's ts_ns is its flow's timestamp micros x 1000, the
    spelling the batch mavg uses (ts_to_ns): float seconds x 1e9 is
    off by tens of ns at current epochs."""
    micros = BASE * 10**6 + 123_457
    src = str(tmp_path / "src")
    spark.range(1).select(
        F.lit("k1").alias("k"),
        F.timestamp_micros(F.lit(micros)).alias("ts"),
        F.lit(1000.0).alias("v"),
    ).write.parquet(src)
    alerts = mavg_alert_stream(
        spark.readStream.schema("k string, ts timestamp, v double")
        .parquet(src),
        ["k"], "v", 10, 1.0, silent_watch=False, buckets=1,
    )
    events: list = []
    q = (
        alerts.writeStream
        .foreachBatch(lambda df, e: events.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    [ev] = events
    assert ev["event"] == "NEW" and ev["ts_ns"] == micros * 1000


def test_mavg_bucketed_rocksdb_restore(spark, tmp_path):
    """r9: bucketed state under RocksDBStateStoreProvider — the store it
    would run on at carrier scale — survives a stop + restart from the
    checkpoint: the alarm raised before the restart is NOT re-raised
    after it (continuity: the restored run sees alarm=NEW in the blob
    and emits the steady-state UPDATE instead), and the run's progress
    carries rocksdb metrics proving the provider was engaged."""
    import shutil
    import tempfile

    n = 5_000
    t0 = float(BASE)

    def mkbatch(ts):
        return spark.range(n).select(
            F.col("id").alias("k"),
            F.lit(ts).cast("timestamp").alias("ts"),
            F.when(F.col("id") == 7, 1000.0).otherwise(1.0).alias("v"),
        )

    stage = tempfile.mkdtemp(prefix="rdb_src_")
    ckpt = tempfile.mkdtemp(prefix="rdb_ckpt_")

    def stage_batch(df, tag):
        d = tempfile.mkdtemp(prefix=f"rdb_{tag}_")
        df.coalesce(1).write.parquet(d, mode="overwrite")
        for i, f in enumerate(glob.glob(os.path.join(d, "*.parquet"))):
            shutil.copy(f, os.path.join(stage, f"{tag}_{i}.parquet"))

    def run():
        events: list = []
        progress: list = []
        stream = (
            spark.readStream.schema("k long, ts timestamp, v double")
            .parquet(stage)
        )
        alerts = mavg_alert_stream(
            stream, ["k"], "v", window_sec=10, threshold=50.0,
            silent_watch=False, buckets=8,
        )
        q = (
            alerts.writeStream
            .foreachBatch(lambda df, e: events.extend(df.collect()))
            .option("checkpointLocation", ckpt).outputMode("append")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        progress.extend(p for p in (q.recentProgress or []) if p)
        return events, progress

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stage_batch(mkbatch(t0), "b0")
        ev1, prog1 = run()              # first run: k7 crosses -> NEW
        assert [(r["k"], r["event"]) for r in ev1] == [(7, "NEW")]
        # provider proof: rocksdb custom metrics present in progress
        metrics = {
            m
            for p in prog1 for so in p.get("stateOperators", [])
            for m in (so.get("customMetrics") or {})
        }
        assert any("rocksdb" in m.lower() for m in metrics), metrics

        # stop happened (availableNow drained); restart from the SAME
        # checkpoint with a new batch: k7 still breaching must come back
        # as the steady-state UPDATE, never a second NEW
        stage_batch(mkbatch(t0 + 1.0), "b1")
        ev2, _ = run()
        assert [(r["k"], r["event"]) for r in ev2] == [(7, "UPDATE")]
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def _silent_key_scenario(spark, tmp_path, stream_fn):
    """A key that breaches then goes silent must emit GONE from the
    timeout/data-path walk: later batches carry only a different key,
    yet k1's alarm must clear once the synthetic decay has kept it below
    limit past back2norm."""
    hot = [("k1", float(BASE + i), 1000.0) for i in range(5)]
    other = [("k2", float(BASE + 60), 1.0)]
    dirs = _write_batches(spark, str(tmp_path / "src"), [hot, other,
                                                         [("k2", float(BASE + 61), 1.0)]])

    collected = []

    def build(stream, ckpt, out):
        alerts = stream_fn(
            stream, ["k"], "v",
            window_sec=2,        # EWMA decays to zero 2s after last flow
            threshold=10.0,
            back2norm_sec=1,
        )

        def sink(df, epoch):
            out.extend(df.collect())

        return (
            alerts.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )

    _run_batches(spark, dirs, build, collected, sleep_between=2.5)
    by_key = {}
    for r in collected:
        by_key.setdefault(r["k"], []).append(r["event"])
    assert "NEW" in by_key.get("k1", [])
    assert "GONE" in by_key.get("k1", []), (
        f"silent key never cleared: {by_key}"
    )
    # k2 stays quiet: tiny rate far below limit, no alarms
    assert "NEW" not in by_key.get("k2", [])


def test_apply_silent_key_goes_back_to_norm(spark, tmp_path):
    """The silent-key scenario on the default layout (buckets=None:
    8 x cores buckets, so k1 and k2 may or may not share one)."""
    _silent_key_scenario(spark, tmp_path, mavg_alert_stream)


def test_bucketed_silent_key_goes_back_to_norm(spark, tmp_path):
    """r9 e2e: the ADVICE scenario through a real stream — buckets=1 so
    k2's rows keep the single bucket busy every batch; silent k1 must
    still clear to GONE (data-path walk, since the group never times
    out while k2 flows)."""
    def bucket_variant(stream, key_cols, val_col, **kw):
        kw.pop("timer_sec", None)
        return mavg_alert_stream(stream, key_cols, val_col, buckets=1, **kw)

    _silent_key_scenario(spark, tmp_path, bucket_variant)
