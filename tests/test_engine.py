"""Engine orchestrator tests: a mo-dir tree (parent + child MO) compiles
into fwm/mavg/classification standing queries over one flow stream —
main()/monit_objects_init parity end to end, with hand-computable sums."""

from __future__ import annotations

import glob
import os
import time
from datetime import datetime

from pyspark.sql import functions as F

from xenoeye_spark.engine import Engine

BASE = 1_700_000_000


def _flows_rows():
    # (ts, src, dst, bytes, proto, dport)
    rows = [
        (BASE + 1, 0x0A000001, 0x0B000001, 100, 6, 80),
        (BASE + 2, 0x0A000001, 0x0B000002, 50, 6, 443),
        (BASE + 3, 0x0A000002, 0x0B000001, 300, 6, 80),
        (BASE + 4, 0x0A000003, 0x0B000001, 999, 17, 53),   # UDP: filtered out
    ]
    return rows


def _write_mo_dir(root):
    border = root / "border"
    web = border / "web"
    web.mkdir(parents=True)
    (border / "mo.conf").write_text("""
{
  /* parent: all TCP */
  "filter": "proto 6",
  "fwm": [ {"name": "f1", "fields": ["octets desc", "src host"],
            "time": 3600, "limit": 5} ],
  "mavg": [ {"name": "m1", "fields": ["src host", "octets"], "time": 10,
             "overlimit": [ {"name": "hi", "default": [0.5]} ],
             "underlimit": [ {"name": "drop", "default": [0.001],
                              "back2norm-time": 120} ]} ],
  "classification": [ {"fields": ["src host"], "val": "octets desc",
                       "top-percents": 90, "time": 30} ]
}
""")
    (web / "mo.conf").write_text("""
{
  // child: parent filter AND dst port 80
  "filter": "dst port 80",
  "fwm": [ {"name": "f2", "fields": ["octets", "src host"], "time": 3600} ]
}
""")
    return str(root)


def test_engine_builds_and_runs_all_queries(spark, tmp_path):
    mo_root = _write_mo_dir(tmp_path / "modir")

    src_dir = tmp_path / "flows"
    df = spark.createDataFrame(
        _flows_rows(),
        "ts long, ip4_src_addr long, ip4_dst_addr long, in_bytes long, "
        "protocol long, l4_dst_port long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(str(src_dir))

    eng = Engine(
        mo_root,
        exp_dir=str(tmp_path / "exp"),
        state_dir=str(tmp_path / "state"),
        checkpoint_root=str(tmp_path / "ckpt"),
        run_scripts=False,
        silent_watch=False,
    )
    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    builders = eng.builders(stream)
    names = [n for n, _ in builders]
    assert names == [
        "border.fwm.f1",
        "border.mavg.m1.octets.hi",
        "border.under.m1.octets.drop",
        "border.clsf.0",
        "border/web.fwm.f2",
    ]

    queries = [make().trigger(availableNow=True).start() for _, make in builders]
    assert [q.name for q in queries] == names
    for q in queries:
        q.awaitTermination(60)
        q.stop()
        q.awaitTermination(30)

    # fwm f1: per-src TCP octet sums exported as a SQL file
    f1_files = glob.glob(str(tmp_path / "exp" / "border.fwm.f1" / "*.sql"))
    assert len(f1_files) == 1
    text = open(f1_files[0]).read()
    assert "CREATE TABLE IF NOT EXISTS border_fwm_f1" in text
    assert "300" in text and "150" in text and "999" not in text

    # child fwm f2: only dst port 80 rows (100 + 300 by src)
    f2_files = glob.glob(str(tmp_path / "exp" / "border_web.fwm.f2" / "*.sql"))
    assert len(f2_files) == 1
    t2 = open(f2_files[0]).read()
    assert "100" in t2 and "300" in t2 and "50" not in t2

    # mavg m1: both TCP srcs breach the 0.5 B/s default -> notification
    # files (the UDP src is filtered before the mavg ever sees it)
    notif = sorted(os.listdir(tmp_path / "state" / "notifications"))
    assert notif == [
        f"border-m1-hi-{0x0A000001}", f"border-m1-hi-{0x0A000002}",
    ]


def test_engine_start_names_every_query(spark, tmp_path):
    """Every standing query Engine.start starts — fwm, mavg and
    classification alike — carries its builder's name, so a dead one
    can be reported by name."""
    mo_root = _write_mo_dir(tmp_path / "modir")
    src_dir = tmp_path / "flows"
    df = spark.createDataFrame(
        _flows_rows(),
        "ts long, ip4_src_addr long, ip4_dst_addr long, in_bytes long, "
        "protocol long, l4_dst_port long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(str(src_dir))
    eng = Engine(
        mo_root,
        exp_dir=str(tmp_path / "exp"),
        state_dir=str(tmp_path / "state"),
        run_scripts=False,
        silent_watch=False,
    )
    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    names = [n for n, _ in eng.builders(stream)]
    queries = eng.start(stream)
    try:
        assert [q.name for q in queries] == names
    finally:
        eng.stop(queries)


def test_engine_restart_no_duplicate_processing(spark, tmp_path):
    """Round-2 verdict #3/#4: the engine defaults its checkpoint root
    under state_dir, so a daemon restart resumes file-source offsets —
    no spool reprocessing, no duplicate NEW alerts, no re-exported SQL
    (the reference persists templates/state across restarts via tkvdb)."""
    mo_root = _write_mo_dir(tmp_path / "modir")
    src_dir = tmp_path / "flows"
    df = spark.createDataFrame(
        _flows_rows(),
        "ts long, ip4_src_addr long, ip4_dst_addr long, in_bytes long, "
        "protocol long, l4_dst_port long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(str(src_dir))

    def run_once():
        # a fresh Engine per run = a daemon restart; no checkpoint_root
        # passed -> defaults under state_dir
        eng = Engine(
            mo_root,
            exp_dir=str(tmp_path / "exp"),
            state_dir=str(tmp_path / "state"),
            run_scripts=False,
            silent_watch=False,
        )
        assert eng.checkpoint_root == str(tmp_path / "state" / "checkpoints")
        stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
        queries = [make().trigger(availableNow=True).start()
                   for _, make in eng.builders(stream)]
        for q in queries:
            q.awaitTermination(60)
            q.stop()
            q.awaitTermination(30)

    run_once()
    f1 = glob.glob(str(tmp_path / "exp" / "border.fwm.f1" / "*.sql"))
    notif_dir = tmp_path / "state" / "notifications"
    notif1 = {p: os.path.getmtime(os.path.join(notif_dir, p))
              for p in os.listdir(notif_dir)}
    assert len(f1) == 1 and len(notif1) == 2

    run_once()  # restart over the same spool: everything already consumed
    f1_again = glob.glob(str(tmp_path / "exp" / "border.fwm.f1" / "*.sql"))
    assert f1_again == f1  # no second export file
    notif2 = {p: os.path.getmtime(os.path.join(notif_dir, p))
              for p in os.listdir(notif_dir)}
    assert notif2 == notif1  # no re-emitted NEW alerts


def test_underlimit_empty_default_never_breaches(spark, tmp_path):
    """Round-2 verdict #6: an underlimit level with no default vector
    must fall back to 0.0 (rate < 0 never holds), not +inf which would
    put every key permanently in breach."""
    root = tmp_path / "modir2"
    mo_sub = root / "m"
    mo_sub.mkdir(parents=True)
    (mo_sub / "mo.conf").write_text("""
{
  "filter": "proto 6",
  "mavg": [ {"name": "m", "fields": ["src host", "octets"], "time": 10,
             "underlimit": [ {"name": "noval"} ]} ]
}
""")
    src_dir = tmp_path / "flows2"
    df = spark.createDataFrame(
        _flows_rows(),
        "ts long, ip4_src_addr long, ip4_dst_addr long, in_bytes long, "
        "protocol long, l4_dst_port long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(str(src_dir))

    eng = Engine(
        str(root),
        exp_dir=str(tmp_path / "exp2"),
        state_dir=str(tmp_path / "state2"),
        run_scripts=False,
        silent_watch=False,
    )
    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    builders = eng.builders(stream)
    # guard against vacuous passes: the underlimit query must exist
    # (load_mo_dir only scans SUBdirectories of mo-dir for MOs)
    assert [n for n, _ in builders] == ["m.under.m.octets.noval"]
    queries = [make().trigger(availableNow=True).start()
               for _, make in builders]
    for q in queries:
        q.awaitTermination(60)
        q.stop()
        q.awaitTermination(30)
    notif_dir = tmp_path / "state2" / "notifications"
    assert not os.path.isdir(notif_dir) or os.listdir(notif_dir) == []


def test_engine_exact_mfreq_standing_query(spark, tmp_path):
    """Engine(exact_mfreq=True): an fwm whose filter uses mfreq() gets a
    private per-query frequency table updated per trigger — the
    reference's per-filter map (filter.c:711-751) at batch granularity.
    Trigger 1 seeds 443 as the frequent value; trigger 2's (80, 443)
    flows then resolve to 443 and pass the filter (min2 would pick 80
    and drop them). One standing query, two micro-batches
    (maxFilesPerTrigger=1), state carried across triggers in the same
    run — the reference's map is process-memory too."""
    import shutil
    import time as time_mod

    root = tmp_path / "mf"
    (root / "m").mkdir(parents=True)
    (root / "m" / "mo.conf").write_text("""
{
  "filter": "mfreq(src port, dst port) 443",
  "fwm": [ {"name": "f", "fields": ["octets", "src host"], "time": 3600} ]
}
""")
    schema = ("ts long, ip4_src_addr long, in_bytes long, "
              "l4_src_port long, l4_dst_port long")
    batches = [
        # seed: three flows with src port 443 (empty table: tie -> min)
        [(BASE + 1, 1, 10, 443, 8080), (BASE + 2, 1, 10, 443, 9090),
         (BASE + 3, 1, 10, 443, 7070)],
        # now 443 outweighs 80: both flows resolve to 443 -> pass
        [(BASE + 4, 2, 777, 80, 443), (BASE + 5, 2, 777, 443, 80)],
    ]

    def write_src(dst):
        dst.mkdir()
        for i, rows in enumerate(batches):
            stage = tmp_path / f"stage_{dst.name}_{i}"
            spark.createDataFrame(rows, schema) \
                .withColumn("ts", F.col("ts").cast("timestamp")) \
                .coalesce(1).write.parquet(str(stage))
            part = glob.glob(str(stage / "part-*.parquet"))[0]
            out = dst / f"b{i}.parquet"
            shutil.copy(part, out)
            # strictly increasing mtimes pin micro-batch order
            os.utime(out, (1_700_000_000 + i, 1_700_000_000 + i))
            time_mod.sleep(0.01)

    def drive(exact):
        tag = "e" if exact else "a"
        src = tmp_path / f"flows_{tag}"
        write_src(src)
        exp = tmp_path / f"exp_{tag}"
        eng = Engine(
            str(root), exp_dir=str(exp),
            state_dir=str(tmp_path / f"st_{tag}"),
            run_scripts=False, exact_mfreq=exact,
        )
        read_schema = ("ts timestamp, ip4_src_addr long, in_bytes long, "
                       "l4_src_port long, l4_dst_port long")
        stream = spark.readStream.schema(read_schema) \
            .option("maxFilesPerTrigger", 1).parquet(str(src))
        (qname, make), = eng.builders(stream)
        q = make().trigger(availableNow=True).start()
        q.awaitTermination(120); q.stop(); q.awaitTermination(30)
        out = ""
        for f in sorted(glob.glob(str(exp / "*" / "*.sql"))):
            out += open(f).read()
        return out

    exact_sql = drive(True)
    # trigger 1: the three 443-src flows pass; trigger 2: both flows
    # resolve to 443 via the table accumulated in trigger 1 -> 777+777
    assert "30" in exact_sql
    assert "1554" in exact_sql
    approx_sql = drive(False)
    # min2 approximation: both trigger-2 flows resolve to min(80,443)=80
    # -> dropped; only the trigger-1 sum appears
    assert "30" in approx_sql
    assert "1554" not in approx_sql and "777" not in approx_sql


def test_engine_mavg_bucketed_knobs_e2e(spark, tmp_path):
    """r8: mo.conf "buckets" reaches the mavg state op and the pipeline
    still produces the same alert notifications end to end."""
    root = tmp_path / "modir"
    mo = root / "border"
    mo.mkdir(parents=True)
    (mo / "mo.conf").write_text("""
{
  "filter": "proto 6",
  "mavg": [ {"name": "m1", "fields": ["src host", "octets"], "time": 10,
             "buckets": 8,
             "overlimit": [ {"name": "hi", "default": [0.5]} ]} ]
}
""")
    src_dir = tmp_path / "flows"
    df = spark.createDataFrame(
        _flows_rows(),
        "ts long, ip4_src_addr long, ip4_dst_addr long, in_bytes long, "
        "protocol long, l4_dst_port long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(str(src_dir))

    eng = Engine(
        str(root),
        exp_dir=str(tmp_path / "exp"),
        state_dir=str(tmp_path / "state"),
        checkpoint_root=str(tmp_path / "ckpt"),
        run_scripts=False,
        silent_watch=False,
    )
    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    builders = eng.builders(stream)
    assert [n for n, _ in builders] == ["border.mavg.m1.octets.hi"]
    queries = [make().trigger(availableNow=True).start()
               for _, make in builders]
    for q in queries:
        q.awaitTermination(60)
        q.stop()
        q.awaitTermination(30)
    notif = sorted(os.listdir(tmp_path / "state" / "notifications"))
    assert notif == [
        f"border-m1-hi-{0x0A000001}", f"border-m1-hi-{0x0A000002}",
    ]


def test_engine_mavg_buckets_auto(spark, tmp_path, monkeypatch):
    """r9: "buckets": "auto" resolves to 8x the session's cores at
    stream-build time (in mavg_alert_stream, the one place the rule
    lives: the config passes None); a non-int non-auto value is refused
    at parse time (a typo must not silently resize the state layout)."""
    import re

    import pytest as _pytest

    import xenoeye_spark.engine as engmod
    from xenoeye_spark.config.mo import MavgConfig

    with _pytest.raises(ValueError, match="buckets"):
        MavgConfig.from_dict(
            {"name": "m", "fields": ["octets"], "buckets": "asap"}
        )
    assert MavgConfig.from_dict(
        {"name": "m", "fields": ["octets"], "buckets": "auto"}
    ).buckets is None

    root = tmp_path / "modir"
    mo = root / "border"
    mo.mkdir(parents=True)
    (mo / "mo.conf").write_text("""
{
  "filter": "proto 6",
  "mavg": [ {"name": "m1", "fields": ["src host", "octets"], "time": 10,
             "buckets": "auto",
             "overlimit": [ {"name": "hi", "default": [0.5]} ]} ]
}
""")
    seen: dict = {}
    built: list = []
    real = engmod.mavg_alert_stream

    def spy(*a, **kw):
        seen.update(kw)
        built.append(real(*a, **kw))
        return built[-1]

    monkeypatch.setattr(engmod, "mavg_alert_stream", spy)

    df = spark.createDataFrame(
        _flows_rows(),
        "ts long, ip4_src_addr long, ip4_dst_addr long, in_bytes long, "
        "protocol long, l4_dst_port long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src_dir = tmp_path / "flows"
    df.coalesce(1).write.parquet(str(src_dir))
    eng = Engine(
        str(root), exp_dir=str(tmp_path / "exp"),
        state_dir=str(tmp_path / "state"),
        checkpoint_root=str(tmp_path / "ckpt"),
        run_scripts=False, silent_watch=False,
    )
    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    eng.builders(stream)  # builds the plan; the spy sees the kwargs
    assert seen.get("buckets") is None
    expect = 8 * max(1, spark.sparkContext.defaultParallelism)
    [alerts] = built
    plan = alerts._jdf.queryExecution().analyzed().toString()
    # silent_watch off (bounded drains) arms no timeout of any kind
    assert seen["silent_watch"] is False
    assert re.findall(r"NoTimeout|ProcessingTimeTimeout", plan) == [
        "NoTimeout"
    ], plan
    got = re.findall(r"pmod\(xxhash64\([^)]*\), (?:cast\()?(\d+)", plan)
    assert got == [str(expect)], plan


def test_engine_idle_mavg_query_is_paced(spark, tmp_path):
    """A started mavg query with the silent-key watch (its
    ProcessingTimeTimeout makes Spark schedule no-data batches) runs at
    most about one batch per second once its input is consumed, instead
    of running no-data batches back to back."""
    root = tmp_path / "modir"
    mo = root / "border"
    mo.mkdir(parents=True)
    (mo / "mo.conf").write_text("""
{
  "filter": "proto 6",
  "mavg": [ {"name": "m1", "fields": ["src host", "octets"], "time": 10,
             "overlimit": [ {"name": "hi", "default": [0.5]} ]} ]
}
""")
    src_dir = tmp_path / "flows"
    df = spark.createDataFrame(
        _flows_rows(),
        "ts long, ip4_src_addr long, ip4_dst_addr long, in_bytes long, "
        "protocol long, l4_dst_port long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(str(src_dir))

    eng = Engine(
        str(root),
        exp_dir=str(tmp_path / "exp"),
        state_dir=str(tmp_path / "state"),
        checkpoint_root=str(tmp_path / "ckpt"),
        run_scripts=False,
    )
    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    # one state partition keeps a no-data batch well under a second, so
    # back-to-back batches would show as starts < 1 s apart
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        [q] = eng.start(stream)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)

    def starts():
        return [
            datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            for p in (q.recentProgress or [])
        ]

    try:
        deadline = time.monotonic() + 120
        while len(starts()) < 2 and time.monotonic() < deadline:
            time.sleep(0.2)
        assert starts(), q.exception()
        # let the trigger settle after the input batch, then watch
        time.sleep(2)
        n0 = len(starts())
        time.sleep(5)
        assert q.isActive, q.exception()
        idle = starts()[n0:]
        assert len(idle) >= 3
        gaps = [(b - a).total_seconds() for a, b in zip(idle, idle[1:])]
        assert min(gaps) >= 0.9, gaps
    finally:
        eng.stop([q])


def test_engine_mavg_ages_idle_keys(spark, tmp_path, monkeypatch):
    """The Engine's mavg state ages a key out once it has been silent
    for the section's window (try_reset_db parity), while an alarmed
    key that goes silent still reaches GONE. Drives the bucket fn the
    Engine builds, under a fake clock."""
    import pickle

    import pandas as pd

    from tests.test_streaming import _FakeGroupState
    from xenoeye_spark.streaming import mavg_stream as ms

    root = tmp_path / "modir"
    mo = root / "border"
    mo.mkdir(parents=True)
    (mo / "mo.conf").write_text("""
{
  "filter": "proto 6",
  "mavg": [ {"name": "m1", "fields": ["src host", "octets"], "time": 2,
             "overlimit": [ {"name": "hi", "default": [100],
                             "back2norm-time": 1} ]} ]
}
""")
    fns: list = []
    keys: list = []
    real = ms.make_mavg_bucket_fn

    def spy(key_cols, *a, **kw):
        keys.append(key_cols)
        fns.append(real(key_cols, *a, **kw))
        return fns[-1]

    monkeypatch.setattr(ms, "make_mavg_bucket_fn", spy)
    t1 = BASE * 10**9
    clock = {"now": t1}
    monkeypatch.setattr(ms, "_time_now_ns", lambda: clock["now"])

    df = spark.createDataFrame(
        _flows_rows(),
        "ts long, ip4_src_addr long, ip4_dst_addr long, in_bytes long, "
        "protocol long, l4_dst_port long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    eng = Engine(
        str(root), exp_dir=str(tmp_path / "exp"),
        state_dir=str(tmp_path / "state"), checkpoint_root=None,
        run_scripts=False,
    )
    (tmp_path / "flows").mkdir()
    eng.builders(spark.readStream.schema(df.schema).parquet(
        str(tmp_path / "flows")))
    [fn], [[k]] = fns, keys
    state = _FakeGroupState()

    def batch(rows):
        pdf = pd.DataFrame(rows, columns=[k, "_ts_ns", "_val"])
        out = list(fn((0,), iter([pdf]), state))
        events = pd.concat(out) if out else pd.DataFrame(columns=[k])
        table = pickle.loads(bytes(state.get[0]))[1]
        return {(r[k], r.event) for _, r in events.iterrows()}, table

    # 1: "idle" stays under the limit, "loud" breaches it
    ev, _ = batch([("idle", t1, 10.0), ("loud", t1, 1e6)])
    assert ("loud", "NEW") in ev
    # 2: 3 s later only "busy" has flows; "idle" has been silent past
    # the 2 s window and leaves the state, the alarmed key stays
    clock["now"] += 3 * 10**9
    _, table = batch([("busy", clock["now"], 1.0)])
    assert ("idle",) not in table
    assert ("loud",) in table and ("busy",) in table
    # 3: past back2norm the silent alarmed key reaches GONE
    clock["now"] += 2 * 10**9
    ev, _ = batch([("busy", clock["now"], 1.0)])
    assert ("loud", "GONE") in ev
