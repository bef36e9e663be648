"""Streaming mavg — per-key EWMA + threshold alerting with
``applyInPandasWithState`` over hash buckets of keys.

Reference semantics reproduced (SURVEY.md §2.9):
- decay update per flow (monit-objects-mavg.c:571-593):
      dt = t - t_prev;  dt >= T -> N = V  else  N = N - (dt/T)*N + V
- overlimit when rate = N/T_sec >= threshold (monit-objects-mavg.c:535-569)
- action state machine NEW -> UPDATE -> ALMOST_GONE -> GONE with
  ``back2norm_time`` grace (monit-objects-mavg-act.c:342-444): the alert
  ends only after the rate has stayed below the limit for the grace period.
- silent keys decay synthetically between batches (act:391-397): the state
  carries (N, t_prev) so the next batch's first event applies the decay,
  and the watch reads an alarmed key that has no rows at the key's own
  event clock moved on by the wall time since its last batch.

Event ordering: the recurrence is order-sensitive, so each key's rows are
sorted by timestamp before replay. Spark shuffles each micro-batch by the
key's bucket, giving the same per-key ordering guarantees the reference
gets from per-thread tries + merge, without the cross-thread race
(SURVEY.md §7 risk register).

Scale: one state row per bucket holds many keys, like the reference's
per-thread tries; the state store partitions buckets across executors —
the analogue of the reference's 256MB/mavg cap, but horizontally
scalable. Idle keys age out at the watch tick like try_reset_db
(monit-objects-mavg.c:776-885).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from xenoeye_spark.operators.mavg import ts_to_ns

# alert states (monit-objects.h:196-202)
S_NONE, S_NEW, S_UPDATE, S_ALMOST_GONE, S_GONE = (
    "NONE", "NEW", "UPDATE", "ALMOST_GONE", "GONE",
)

# Per-key limits are one closure dict built from the limits CSV
# (monit-objects-mavg-limfile.c: one trie per limit level). It rides the
# pickled task binary — fine to ~1e6 keys (SURVEY §7.3), pathological
# past it (the dict is re-shipped per task, not once per executor), so
# a bigger dict is refused when the stream is built.
LIMITS_DICT_MAX = 1_000_000


def ewma_step(n: float, t_prev: int | None, t: int, v: float, window_ns: int):
    """One mavg_recalc step (monit-objects-mavg.c:571-593)."""
    if t_prev is None:
        return float(v)
    dt = t - t_prev
    if dt >= window_ns:
        return float(v)
    return n - (dt / window_ns) * n + float(v)


def alarm_step(
    alarm: str,
    below_since: int | None,
    first_seen: int,
    n: float,
    t: int,
    key: tuple,
    limit: float,
    window_sec: int,
    window_ns: int,
    back2norm_ns: int,
    under: bool,
) -> tuple[str, int | None, tuple | None]:
    """The alarm state machine (monit-objects-mavg-act.c:342-444): one
    transition for the key's value ``n`` read at event time ``t``.
    replay_rows calls it after every flow, the silent walk with the
    decayed value of a key that had no rows. Returns (alarm,
    below_since, event or None)."""
    rate = n / window_sec
    breach = (rate < limit) if under else (rate >= limit)
    if under and t - first_seen < window_ns:
        breach = False  # grace: first window after start (under.c:298-303)
    if breach:
        if alarm == S_NONE:
            return S_NEW, None, (*key, S_NEW, rate, limit, t)
        if alarm == S_ALMOST_GONE:
            return S_UPDATE, None, None  # dipped but came back
        return alarm, None, None
    if alarm in (S_NEW, S_UPDATE):
        return S_ALMOST_GONE, t, None
    if (
        alarm == S_ALMOST_GONE and below_since is not None
        and t - below_since >= back2norm_ns
    ):
        return S_NONE, None, (*key, S_GONE, rate, limit, t)
    return alarm, below_since, None


def replay_rows(
    st: tuple,
    ts_arr,
    val_arr,
    key: tuple,
    limit: float,
    window_sec: int,
    window_ns: int,
    back2norm_ns: int,
    under: bool,
) -> tuple[tuple, list[tuple]]:
    """Shared per-key replay: EWMA decay + alarm_step over rows already
    sorted by time. ``st`` = (n, t_prev, alarm, below_since,
    first_seen); returns (new_st, events)."""
    n, t_prev, alarm, below_since, first_seen = st
    events: list[tuple] = []
    for t, v in zip(ts_arr, val_arr):
        t = int(t)
        if first_seen is None:
            first_seen = t
        n = ewma_step(n, t_prev, t, float(v), window_ns)
        t_prev = t
        alarm, below_since, ev = alarm_step(
            alarm, below_since, first_seen, n, t, key, limit,
            window_sec, window_ns, back2norm_ns, under,
        )
        if ev is not None:
            events.append(ev)
    # steady-state notification refresh (act:427-433)
    if alarm in (S_NEW, S_UPDATE) and not events:
        events.append((*key, S_UPDATE, n / window_sec, limit, t_prev))
    return (float(n), t_prev, alarm, below_since, first_seen), events


def _time_now_ns() -> int:
    import time

    return time.time_ns()


# ---------------------------------------------------------------------------
# Bucketed state: amortize the per-GROUP state-protocol cost.
#
# applyInPandasWithState costs ~0.4ms per GROUP per micro-batch (state
# get/update round-trip + per-group pandas assembly) — keyed by flow
# key, at carrier key cardinality (500k keys) that protocol cost IS the
# workload (SCALE.md §Round-8: 238.6s vs 5.9s for 500k keys). The
# reference solves the same problem with per-thread tries holding MANY
# keys each (monit-objects-mavg.c tries, fwm.c per-thread tkvdb banks
# merged at flush); the Spark analogue is bucketing: group by
# hash(key) % buckets and keep ONE state row per bucket — a dict of
# per-key state tuples — so the protocol cost is paid per BUCKET and
# the per-key work inside is plain python over the bucket's slice.
# State per bucket is O(keys_in_bucket) (~60 bytes per entry pickled);
# hash bucketing keeps it even. The silent-watch timeout walks the
# bucket's alarmed keys exactly like the reference's act thread walks
# its tries, and keys idle for a window age out at each tick
# (try_reset_db parity, purge granularity = the tick period instead of
# an exact per-key timeout).
# ---------------------------------------------------------------------------

BUCKET_STATE_SCHEMA = T.StructType([T.StructField("blob", T.BinaryType())])

# buckets per core of the session when the caller does not choose: blobs
# stay a few thousand keys at carrier cardinality while every core gets
# bucket-groups to work on (SCALE.md §Round-8 sizing rule)
BUCKETS_PER_CORE = 8


def _native_key(parts: tuple) -> tuple:
    """Normalize a pandas-groupby key to stable python-native scalars so
    the bucket table's dict keys survive pickle round-trips and match
    the thresholds dict (numpy scalars hash like their python twins,
    but storing natives keeps the state blob implementation-agnostic)."""
    from xenoeye_spark.config.limits import norm_group_key

    return norm_group_key(tuple(
        p.item() if hasattr(p, "item") else p for p in parts
    ))


def _key_heads(pdf: pd.DataFrame, key_cols: list[str]) -> np.ndarray:
    """Boolean head marker per row of a key-sorted frame (factorize-based
    so NULL keys group together, matching Spark groupBy null semantics)."""
    n = len(pdf)
    heads = np.zeros(n, dtype=bool)
    if n == 0:
        return heads
    heads[0] = True
    for kc in key_cols:
        codes = pd.factorize(pdf[kc], use_na_sentinel=True)[0]
        heads[1:] |= codes[1:] != codes[:-1]
    return heads


def make_mavg_bucket_fn(
    key_cols: list[str],
    window_sec: int,
    threshold: float,
    back2norm_sec: int = 30,
    thresholds: dict[tuple, float] | None = None,
    under: bool = False,
    silent_watch: bool = True,
):
    """applyInPandasWithState fn over BUCKET groups: state is one pickled
    (last_walk_ns, {key_tuple: (n, t_prev, alarm, below_since,
    first_seen, limit, seen_ns)}) per bucket; each key's rows replay
    through replay_rows in time order. ``limit`` is the one the key last
    ran with (the thresholds dict is the source) and ``seen_ns`` the wall
    clock of the last batch that carried rows for it.

    Silent keys (r9): a GROUP timeout fires only when the BUCKET gets no
    data for the whole interval — with thousands of keys per bucket that
    is never, so the hasTimedOut branch alone would strand alarmed keys
    that go silent (no GONE) and never age idle keys out. With
    ``silent_watch`` on, the data path therefore also walks the table
    entries that received no rows this batch, gated to one walk per
    watch tick by ``last_walk_ns`` stored in the blob — the same cadence
    the reference's act thread walks its tries at
    (monit-objects-mavg-act.c:342-444):

    - an alarmed key takes one alarm_step at its event clock moved on by
      the wall time since its last batch (``t_prev + now - seen_ns``),
      so decay and the back2norm grace compare event time with event
      time even when flows are stamped far from the wall clock (a
      backlog, a replayed spool, an exporter with a skewed clock);
    - a key with no alarm at the walk and no rows for one window of
      wall time ages out (try_reset_db parity); without the reset it
      would restart at V on its next flow anyway (ewma_step's dt >= T).
      A key whose alarm ends in this walk leaves at the next one.

    Entries saved without ``seen_ns`` walk at the wall clock and age from
    the blob's ``last_walk_ns``. With the watch off nothing walks and no
    timer is armed (bounded drains)."""
    import pickle

    window_ns = int(window_sec * 1e9)
    back2norm_ns = int(back2norm_sec * 1e9)
    # silent-key poll period: the reference's act thread ticks at 10 Hz
    # (monit-objects.c act loop), so its back2norm grace clock starts at
    # the actual crossing. A quarter-period poll capped at 5s bounds the
    # extra GONE latency at ~25% while timer fires stay = active alarms.
    watch_ms = int(max(min(back2norm_sec / 4, 5), 1) * 1000)
    watch_ns = watch_ms * 1_000_000
    thr = thresholds or {}

    def _load_blob(raw: bytes) -> tuple[int, dict]:
        obj = pickle.loads(raw)
        if isinstance(obj, dict):  # pre-r9 blob: bare table, never walked
            return 0, obj
        return obj

    def _save(state: GroupState, last_walk: int, table: dict) -> None:
        """Persist the table; with the watch on, arm the alarmed-key
        tick, or the idle TTL (one window) for a bucket with no alarm."""
        if not table:
            state.remove()
            return
        state.update((pickle.dumps((last_walk, table)),))
        if silent_watch:
            alarmed = any(st[2] != S_NONE for st in table.values())
            state.setTimeoutDuration(
                watch_ms if alarmed else window_ns // 1_000_000
            )

    def _walk_silent(
        table: dict, seen: set, now_ns: int, last_walk: int,
        events: list[tuple],
    ) -> None:
        """alarm_step + idle purge for every key WITHOUT rows this tick;
        mutates ``table`` in place, appends to ``events``."""
        drop: list[tuple] = []
        for k, st in table.items():
            if k in seen:
                continue
            n, t_prev, alarm, below_since, first_seen = st[:5]
            seen_ns = st[6] if len(st) > 6 else None
            if alarm == S_NONE:
                idle_since = last_walk if seen_ns is None else seen_ns
                if now_ns - idle_since >= window_ns:
                    drop.append(k)  # try_reset_db: age the idle key out
                continue
            t = now_ns if seen_ns is None else t_prev + now_ns - seen_ns
            alarm, below_since, ev = alarm_step(
                alarm, below_since, first_seen,
                ewma_step(n, t_prev, t, 0.0, window_ns), t, k,
                thr.get(k, threshold), window_sec, window_ns,
                back2norm_ns, under,
            )
            if ev is not None:
                events.append(ev)
            table[k] = (n, t_prev, alarm, below_since, *st[4:])
        for k in drop:
            del table[k]

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        cols = [*key_cols, "event", "rate", "threshold", "ts_ns"]
        events: list[tuple] = []

        if state.hasTimedOut:
            if not state.exists:
                state.remove()
                return
            last_walk, table = _load_blob(bytes(state.get[0]))
            now_ns = int(_time_now_ns())
            _walk_silent(table, set(), now_ns, last_walk, events)
            _save(state, now_ns, table)
            if events:
                yield pd.DataFrame(events, columns=cols)
            return

        last_walk, table = (
            _load_blob(bytes(state.get[0])) if state.exists else (0, {})
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        # ONE sort + numpy segment slicing instead of a pandas groupby
        # iteration: per-group pandas overhead (sort_values/to_numpy per
        # group) costs ~0.2ms per KEY and would re-create the very
        # per-key tax bucketing exists to amortize
        rows = rows.sort_values([*key_cols, "_ts_ns", "_val"],
                                kind="mergesort", ignore_index=True)
        heads = _key_heads(rows, key_cols)
        starts = np.flatnonzero(heads)
        ends = np.append(starts[1:], len(rows))
        karrs = [rows[kc].to_numpy() for kc in key_cols]
        ts_arr = rows["_ts_ns"].to_numpy()
        val_arr = rows["_val"].to_numpy()

        now_ns = int(_time_now_ns())
        seen: set = set()
        for s, e in zip(starts, ends):
            k = _native_key(tuple(arr[s] for arr in karrs))
            seen.add(k)
            st = table.get(k, (0.0, None, S_NONE, None, None))
            limit = thr.get(k, threshold)
            core, kev = replay_rows(
                st[:5], ts_arr[s:e], val_arr[s:e], k, limit,
                window_sec, window_ns, back2norm_ns, under,
            )
            table[k] = (*core, float(limit), now_ns)
            events.extend(kev)
        # data-path silent walk: a busy bucket never times out as a
        # GROUP, so this is where its silent keys transition/age out
        if silent_watch and now_ns - last_walk >= watch_ns:
            _walk_silent(table, seen, now_ns, last_walk, events)
            last_walk = now_ns
        _save(state, last_walk, table)
        if events:
            yield pd.DataFrame(events, columns=cols)

    return fn


def mavg_alert_stream(
    flows: DataFrame,
    key_cols: list[str],
    val_col: str,
    window_sec: int,
    threshold: float,
    back2norm_sec: int = 30,
    ts_col: str = "ts",
    thresholds: dict[tuple, float] | None = None,
    under: bool = False,
    silent_watch: bool = True,
    buckets: int | None = None,
) -> DataFrame:
    """Wire the stateful fn onto a (streaming or batch-test) DataFrame.

    Output stream: key cols + event (NEW/UPDATE/GONE) + rate + threshold +
    ts_ns (exact event-time nanoseconds, ``ts_to_ns``). Feed to an alert
    sink / foreachBatch action runner (monit-objects-mavg-act.c).

    Per-key limits: the ``thresholds`` dict (the limits CSV, keyed by the
    typed key tuple; ``threshold`` for keys absent from it). It rides the
    pickled closure, so a dict past LIMITS_DICT_MAX (~1e6) keys is
    refused.

    ``silent_watch`` (default on) walks every bucket's keys that had no
    rows on a processing-time tick, so back-to-normal fires even when an
    alarmed key goes silent — the reference's act-thread behavior — and
    ages out a key with no alarm once it has had no rows for one window
    of wall time (try_reset_db parity); see make_mavg_bucket_fn for the
    walk's clock. Off, no timer is armed and state is never compacted:
    that is the mode for bounded drains, because armed timeouts keep an
    availableNow query scheduling batches (the alternative is to stop()
    after a short awaitTermination).

    ``buckets``: the state op groups by ``hash(key) %% buckets``, holding
    one pickled {key: state} dict per bucket — the reference's
    per-thread-trie layout (see the bucketed-state section comment).
    ``None`` means BUCKETS_PER_CORE x the session's default parallelism.
    Per-key events are those of a per-key time-ordered replay; the
    trades are idle-key purge granularity (the watch tick instead of an
    exact per-key timeout) and bucket-level state rewrite per batch
    (any active key rewrites its bucket's blob — size buckets so a blob
    is ~thousands of keys). State-store partition count still bounds
    parallelism downstream.

    Checkpoint format: one binary blob per bucket. A checkpoint written
    by the retired per-key layout (one struct row per key) cannot be
    restored — start a fresh checkpoint directory.
    """
    key_struct = [flows.schema[k] for k in key_cols]
    out_schema = T.StructType(
        key_struct + [
            T.StructField("event", T.StringType()),
            T.StructField("rate", T.DoubleType()),
            T.StructField("threshold", T.DoubleType()),
            T.StructField("ts_ns", T.LongType()),
        ]
    )
    if thresholds is not None and len(thresholds) > LIMITS_DICT_MAX:
        raise ValueError(
            f"thresholds dict has {len(thresholds)} keys, past the "
            f"{LIMITS_DICT_MAX} bound: the dict rides every task's "
            "pickled closure (SURVEY §7.3)"
        )
    if buckets is None:
        buckets = BUCKETS_PER_CORE * max(
            1, flows.sparkSession.sparkContext.defaultParallelism
        )
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1: {buckets}")
    prepped = flows.select(
        *key_cols,
        ts_to_ns(ts_col).alias("_ts_ns"),
        F.col(val_col).cast("double").alias("_val"),
    )
    fn = make_mavg_bucket_fn(
        key_cols, window_sec, threshold, back2norm_sec, thresholds,
        under, silent_watch,
    )
    # request the timeout conf only with the watch on: a
    # ProcessingTimeTimeout conf keeps availableNow/bounded runs
    # scheduling batches even with no armed timers, which would make
    # batch-drain usage hang to its awaitTermination bound
    return (
        prepped.withColumn(
            "_bkt", F.pmod(F.xxhash64(*key_cols), F.lit(buckets))
        )
        .groupBy("_bkt")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=BUCKET_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if silent_watch
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
