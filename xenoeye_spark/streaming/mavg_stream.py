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
  carries (N, t_prev) so the next batch's first event applies the decay.

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

# alert states (monit-objects.h:196-202)
S_NONE, S_NEW, S_UPDATE, S_ALMOST_GONE, S_GONE = (
    "NONE", "NEW", "UPDATE", "ALMOST_GONE", "GONE",
)

# Per-key limits as a closure dict ride the pickled task binary — fine
# to ~1e6 keys (SURVEY §7.3), pathological past it (the dict is
# re-shipped per task, not once per executor). Beyond the bound the
# limits must arrive as a DataFrame joined map-side into the flow rows
# (``limits_df``), which scales like any equi-join.
LIMITS_DICT_MAX = 1_000_000


def ewma_step(n: float, t_prev: int | None, t: int, v: float, window_ns: int):
    """One mavg_recalc step (monit-objects-mavg.c:571-593)."""
    if t_prev is None:
        return float(v)
    dt = t - t_prev
    if dt >= window_ns:
        return float(v)
    return n - (dt / window_ns) * n + float(v)


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
    """Shared per-key replay: EWMA decay + alarm state machine over rows
    already sorted by time. ``st`` = (n, t_prev, alarm, below_since,
    first_seen); returns (new_st, events)."""
    n, t_prev, alarm, below_since, first_seen = st
    events: list[tuple] = []
    for t, v in zip(ts_arr, val_arr):
        t = int(t)
        if first_seen is None:
            first_seen = t
        n = ewma_step(n, t_prev, t, float(v), window_ns)
        t_prev = t
        rate = n / window_sec
        breach = (rate < limit) if under else (rate >= limit)
        if under and t - first_seen < window_ns:
            breach = False  # grace: first window after start (under.c:298-303)
        if breach:
            below_since = None
            if alarm == S_NONE:
                alarm = S_NEW
                events.append((*key, S_NEW, rate, limit, t))
            elif alarm == S_ALMOST_GONE:
                alarm = S_UPDATE  # dipped but came back
        else:
            if alarm in (S_NEW, S_UPDATE):
                alarm = S_ALMOST_GONE
                below_since = t
            elif alarm == S_ALMOST_GONE and below_since is not None:
                if t - below_since >= back2norm_ns:
                    alarm = S_NONE
                    below_since = None
                    events.append((*key, S_GONE, rate, limit, t))
    # steady-state notification refresh (act:427-433)
    if alarm in (S_NEW, S_UPDATE) and not events:
        events.append((*key, S_UPDATE, n / window_sec, limit, t_prev))
    return (float(n), t_prev, alarm, below_since, first_seen), events


def silent_transition(
    st: tuple,
    now_ns: int,
    key: tuple,
    limit: float,
    window_sec: int,
    window_ns: int,
    back2norm_ns: int,
    under: bool,
) -> tuple[tuple, list[tuple], bool]:
    """Alarm bookkeeping for a key with NO rows since ``st``: apply the
    synthetic decay (value keeps decaying while silent, act:391-397) and
    walk the state machine at ``now_ns``. Returns (new_st, events,
    keep_watching). The reference's act thread does this at ~10Hz for
    every alarmed key (monit-objects-mavg-act.c:342-444)."""
    n, t_prev, alarm, below_since, first_seen = st
    if alarm == S_NONE or t_prev is None:
        return st, [], False
    dt = now_ns - t_prev
    n_dec = 0.0 if dt >= window_ns else n - (dt / window_ns) * n
    rate = n_dec / window_sec
    breach = (rate < limit) if under else (rate >= limit)
    if breach:
        return st, [], True
    if below_since is None:
        return (n, t_prev, S_ALMOST_GONE, now_ns, first_seen), [], True
    if now_ns - below_since >= back2norm_ns:
        return (
            (n, t_prev, S_NONE, None, first_seen),
            [(*key, S_GONE, rate, limit, now_ns)],
            False,
        )
    return (n, t_prev, S_ALMOST_GONE, below_since, first_seen), [], True


def resolve_limit(
    joined: float | None, stored: float | None, dict_limit: float
) -> float:
    """ONE definition of the per-key limit precedence (SURVEY §7.3):
    map-side-joined value > limit persisted in state > closure dict /
    default."""
    if joined is not None:
        return float(joined)
    if stored is not None:
        return stored
    return dict_limit


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
# its tries, and idle keys age out at each tick (try_reset_db parity,
# purge granularity = the tick period instead of an exact per-key
# timeout).
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
    idle_timeout_sec: int | None = None,
    silent_watch: bool = True,
):
    """applyInPandasWithState fn over BUCKET groups: state is one pickled
    (last_walk_ns, {key_tuple: (n, t_prev, alarm, below_since,
    first_seen, limit, seen_ns)}) per bucket; each key's rows replay
    through replay_rows in time order.

    Idle purge clock: ``seen_ns`` is the wall clock of the batch that
    last carried rows for the key, and a key ages out once the wall
    clock is ``idle_timeout_sec`` past it. ``t_prev`` is event time,
    which lags the wall clock on a backlog, a replayed spool or an
    exporter with a late clock; comparing the two would purge (and
    restart the EWMA of) every key absent from a batch. Entries saved
    without ``seen_ns`` age from the blob's ``last_walk_ns``.

    Silent keys (r9): a GROUP timeout fires only when the BUCKET gets no
    data for the whole interval — with thousands of keys per bucket that
    is never, so the hasTimedOut branch alone would strand alarmed keys
    that go silent (no GONE) and never age idle keys out. The data path
    therefore also walks the table entries that received no rows this
    batch (silent_transition for alarmed keys, idle-TTL purge for stale
    ones), gated to one walk per watch tick by ``last_walk_ns`` stored
    in the blob — the same cadence the reference's act thread walks its
    tries at (monit-objects-mavg-act.c:342-444)."""
    import pickle

    window_ns = int(window_sec * 1e9)
    back2norm_ns = int(back2norm_sec * 1e9)
    # silent-key poll period: the reference's act thread ticks at 10 Hz
    # (monit-objects.c act loop), so its back2norm grace clock starts at
    # the actual crossing. A quarter-period poll capped at 5s bounds the
    # extra GONE latency at ~25% while timer fires stay = active alarms.
    watch_ms = int(max(min(back2norm_sec / 4, 5), 1) * 1000)
    idle_ns = None if idle_timeout_sec is None else int(idle_timeout_sec * 1e9)
    if silent_watch:
        walk_gate_ns = watch_ms * 1_000_000
    elif idle_ns is not None:
        # purge granularity = the tick period (try_reset_db parity)
        walk_gate_ns = int(max(min(idle_timeout_sec / 4, 5), 1) * 1e9)
    else:
        walk_gate_ns = None
    thr = thresholds or {}

    def _load_blob(raw: bytes) -> tuple[int, dict]:
        obj = pickle.loads(raw)
        if isinstance(obj, dict):  # pre-r9 blob: bare table, never walked
            return 0, obj
        return obj

    def _save(state: GroupState, last_walk: int, table: dict) -> None:
        """Persist the table and arm the timeout: the alarmed-key
        act-thread watch wins, otherwise the idle-compaction TTL."""
        if not table:
            state.remove()
            return
        state.update((pickle.dumps((last_walk, table)),))
        if silent_watch and any(st[2] != S_NONE for st in table.values()):
            state.setTimeoutDuration(watch_ms)
        elif idle_timeout_sec is not None:
            state.setTimeoutDuration(idle_timeout_sec * 1000)

    def _walk_silent(
        table: dict, seen: set, now_ns: int, last_walk: int,
        events: list[tuple],
    ) -> None:
        """silent_transition + idle purge for every key WITHOUT rows this
        tick; mutates ``table`` in place, appends to ``events``."""
        drop: list[tuple] = []
        for k, st in table.items():
            if k in seen:
                continue
            limit = resolve_limit(None, st[5], thr.get(k, threshold))
            if silent_watch and st[2] != S_NONE:
                core, ev, _watch = silent_transition(
                    st[:5], now_ns, k, limit, window_sec, window_ns,
                    back2norm_ns, under,
                )
                events.extend(ev)
                st = (*core, *st[5:])
                table[k] = st
            if (
                idle_ns is not None
                and st[2] == S_NONE
                and now_ns - (st[6] if len(st) > 6 else last_walk) >= idle_ns
            ):
                drop.append(k)  # try_reset_db: age the idle key out
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
        lim_arr = (
            rows["_limit"].to_numpy(dtype=float)
            if "_limit" in rows.columns else None
        )

        now_ns = int(_time_now_ns())
        seen: set = set()
        for s, e in zip(starts, ends):
            k = _native_key(tuple(arr[s] for arr in karrs))
            seen.add(k)
            st = table.get(k, (0.0, None, S_NONE, None, None, None))
            if lim_arr is None:
                limit = thr.get(k, threshold)
            else:
                ok = lim_arr[s:e][~np.isnan(lim_arr[s:e])]
                limit = resolve_limit(
                    float(ok[0]) if len(ok) else None, st[5],
                    thr.get(k, threshold),
                )
            core, kev = replay_rows(
                st[:5], ts_arr[s:e], val_arr[s:e], k, limit,
                window_sec, window_ns, back2norm_ns, under,
            )
            table[k] = (*core, float(limit), now_ns)
            events.extend(kev)
        # data-path silent walk: a busy bucket never times out as a
        # GROUP, so this is where its silent keys transition/age out
        if walk_gate_ns is not None and now_ns - last_walk >= walk_gate_ns:
            _walk_silent(table, seen, now_ns, last_walk, events)
            last_walk = now_ns
        _save(state, last_walk, table)
        if events:
            yield pd.DataFrame(events, columns=cols)

    return fn


def _validated_limits(
    limits_df: DataFrame, key_cols: list[str], limit_col: str, out_col: str
) -> DataFrame:
    """Project the limits table for the map-side join, refusing
    duplicate keys: a key appearing twice would MULTIPLY its flow rows
    through the left join and double-count every flow in the EWMA —
    silent false alarms, not an error. limits_df is static and
    dimension-sized, so the distinctness check is two tiny driver-side
    jobs at stream-build time."""
    lim = limits_df.select(
        *key_cols, F.col(limit_col).cast("double").alias(out_col)
    )
    n = lim.count()
    nd = lim.select(*key_cols).distinct().count()
    if n != nd:
        raise ValueError(
            f"limits_df has {n - nd} duplicate key row(s) over "
            f"{key_cols}; a duplicated key would multiply its flow "
            "rows through the limit join — deduplicate it first"
        )
    return lim


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
    idle_timeout_sec: int | None = None,
    silent_watch: bool = True,
    limits_df: DataFrame | None = None,
    limit_col: str = "limit",
    buckets: int | None = None,
) -> DataFrame:
    """Wire the stateful fn onto a (streaming or batch-test) DataFrame.

    Output stream: key cols + event (NEW/UPDATE/GONE) + rate + threshold +
    ts_ns. Feed to an alert sink / foreachBatch action runner
    (monit-objects-mavg-act.c).

    Per-key limits, two tiers (SURVEY §7.3):
    - ``thresholds`` dict — rides the pickled closure; refused past
      LIMITS_DICT_MAX (~1e6) keys because the dict re-ships per task.
    - ``limits_df`` (key cols + ``limit_col``) — joined map-side into
      the flow rows before the state shuffle; scales like any equi-join
      (Catalyst broadcasts it while small, shuffles it when not). The
      resolved limit is persisted in state so silent-key walks keep
      using it.

    ``silent_watch`` (default on) arms a processing-time timeout for every
    bucket holding an alarmed key so back-to-normal fires even when the
    key goes silent — the reference's act-thread behavior.
    ``idle_timeout_sec`` ages a key out of its bucket once it has had no
    rows for that long by the wall clock (try_reset_db parity), and arms
    the same timeout for buckets that go quiet. Note for availableNow
    runs: armed timeouts keep the query alive, so bounded drains should
    either pass silent_watch=False and no idle_timeout_sec, or stop()
    after a short awaitTermination.

    ``buckets``: the state op groups by ``hash(key) %% buckets``, holding
    one pickled {key: state} dict per bucket — the reference's
    per-thread-trie layout (see the bucketed-state section comment).
    ``None`` means BUCKETS_PER_CORE x the session's default parallelism.
    Per-key events are those of a per-key time-ordered replay; the
    trades are idle-key purge granularity (the watch/TTL tick instead of
    an exact per-key timeout) and bucket-level state rewrite per batch
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
            f"{LIMITS_DICT_MAX} closure-shipping bound (SURVEY §7.3); "
            "pass the limits as limits_df for a map-side join"
        )
    if buckets is None:
        buckets = BUCKETS_PER_CORE * max(
            1, flows.sparkSession.sparkContext.defaultParallelism
        )
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1: {buckets}")
    prepped = flows.select(
        *key_cols,
        (F.col(ts_col).cast("timestamp").cast("double") * F.lit(1e9))
        .cast("long").alias("_ts_ns"),
        F.col(val_col).cast("double").alias("_val"),
    )
    if limits_df is not None:
        lim = _validated_limits(limits_df, key_cols, limit_col, "_limit")
        prepped = prepped.join(lim, key_cols, "left")
    fn = make_mavg_bucket_fn(
        key_cols, window_sec, threshold, back2norm_sec, thresholds,
        under, idle_timeout_sec, silent_watch,
    )
    # timeouts serve the alarmed-key watch (silent keys must reach GONE,
    # act-thread parity) and idle-state compaction. Request the timeout
    # conf only when one of them is in play: a ProcessingTimeTimeout conf
    # keeps availableNow/bounded runs scheduling batches even with no
    # armed timers, which would make batch-drain usage hang to its
    # awaitTermination bound.
    use_timeouts = silent_watch or idle_timeout_sec is not None
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
                if use_timeouts
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
