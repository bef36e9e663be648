"""Engine orchestrator — the reference ``main()`` / ``monit_objects_init``
parity layer (xenoeye.c:425-523, monit-objects.c:252-541).

Walks a monitoring-objects directory (``load_mo_dir``), flattens the MO
hierarchy into conjunctive filters (child filters evaluated under the
parent's, netflow.c:213-244), and compiles EVERY standing computation —
fwm windows, mavg overlimit levels (one keyed alert stream per
aggregable field x limit level), and classifications — into
Structured-Streaming writer builders over one decoded flow DataFrame.
That DataFrame is shared as a plan, not as data: each standing query is
its own streaming query, so each reads and decodes the input on its own
(N queries = N input passes), unlike the reference's one parse feeding
every MO.

Usage::

    eng = Engine("etc/monitoring-objects", exp_dir="exp", state_dir="st")
    queries = eng.start(flows_stream)           # list of StreamingQuery
    ...
    eng.stop(queries)

``builders()`` returns (name, make_writer) pairs instead, for callers
that start the queries themselves (tests and the benchmark drive each
query with availableNow over file sources).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xenoeye_spark.config.limits import load_limits_csv
from xenoeye_spark.config.mo import MavgConfig, MoConfig, load_mo_dir
from xenoeye_spark.dsl.compiler import FilterContext
from xenoeye_spark.streaming.act import AlertActionSink, ExtGate
from xenoeye_spark.streaming.classify_stream import ClassificationLoop
from xenoeye_spark.streaming.fwm_stream import fwm_batch_handler
from xenoeye_spark.streaming.mavg_stream import mavg_alert_stream
from xenoeye_spark.streaming.mfreq_stream import MfreqState


class Engine:
    def __init__(
        self,
        mo_dir: str,
        ctx: FilterContext | None = None,
        exp_dir: str = "exp",
        state_dir: str = "state",
        checkpoint_root: str | None = None,
        db_type: str = "pg",
        ch_codec: str = "",
        run_scripts: bool = True,
        silent_watch: bool = True,
        exact_mfreq: bool = False,
    ):
        self.mos = load_mo_dir(mo_dir)
        self.mo_dir = mo_dir
        self.ctx = ctx or FilterContext()
        self.exp_dir = exp_dir
        self.state_dir = state_dir
        # Default checkpoints under state_dir: the reference persists
        # templates and mavg state across restarts (tkvdb); without a
        # checkpoint every daemon restart would reprocess the spool and
        # re-emit NEW alerts / SQL exports. Pass "" to disable (tests
        # that drive one-shot batches without replay semantics).
        if checkpoint_root is None:
            checkpoint_root = os.path.join(state_dir, "checkpoints")
        self.checkpoint_root = checkpoint_root or None
        self.db_type = db_type
        self.ch_codec = ch_codec
        self.run_scripts = run_scripts
        self.silent_watch = silent_watch
        # exact_mfreq: give each fwm standing query whose OWN filter uses
        # mfreq() a private frequency table with per-trigger snapshots
        # (the reference's per-filter map, filter.c:711-751). Ancestor
        # filters keep the documented min2 approximation — they are
        # compiled once and shared across the whole query tree.
        self.exact_mfreq = exact_mfreq
        self.ext_gate = ExtGate(os.path.join(state_dir, "ext"))

    # -- MO tree -------------------------------------------------------------

    def _walk(self):
        """Yield (path_name, ancestor_filter_or_None, mo) depth-first; the
        node's own filter is NOT in the yielded column — each computation
        applies it, so Catalyst sees ancestor ∧ own as one conjunction."""

        def rec(mo: MoConfig, prefix: str, parent: Column | None):
            name = f"{prefix}/{mo.name}" if prefix else mo.name
            yield name, parent, mo
            eff = mo.filter_column(self.ctx)
            if parent is not None:
                eff = parent & eff
            for ch in mo.children:
                yield from rec(ch, name, eff)

        for mo in self.mos:
            yield from rec(mo, "", None)

    def _standing(self, stream: DataFrame, handler, qname: str,
                  every_sec: int):
        """The one wiring of a standing query: every micro-batch of
        ``stream`` goes to ``handler(batch_df, epoch_id)``, the query is
        named ``qname``, triggers every ``every_sec`` seconds and
        checkpoints under ``checkpoint_root`` (unless disabled)."""
        w = (
            stream.writeStream.foreachBatch(handler)
            .outputMode("append").queryName(qname)
            .trigger(processingTime=f"{every_sec} seconds")
        )
        if self.checkpoint_root is None:
            return w
        return w.option(
            "checkpointLocation",
            os.path.join(self.checkpoint_root, qname.replace("/", "_")),
        )

    # -- builders ------------------------------------------------------------

    def _mavg_writers(self, name, base, mo, ts_col):
        df = mo.filtered(base, self.ctx)
        for mavg in mo.mavg:
            yield from self._one_mavg(name, df, mavg, ts_col)

    def _one_mavg(self, name, df, mavg: MavgConfig, ts_col):
        keys = [f.column(self.ctx).alias(f.sql_name) for f in mavg.key_fields]
        key_names = [f.sql_name for f in mavg.key_fields]
        for vi, vf in enumerate(mavg.val_fields):
            val = vf.column(self.ctx)
            if "sampling_rate" in df.columns:
                val = val * F.coalesce(F.col("sampling_rate"), F.lit(1))
            proj = df.select(*keys, val.alias("_mval"), F.col(ts_col))
            levels = [(ol, False) for ol in mavg.overlimit] + [
                (ol, True) for ol in mavg.underlimit
            ]
            for ol, under in levels:
                kind = "under" if under else "mavg"
                qname = f"{name}.{kind}.{mavg.name}.{vf.sql_name}.{ol.name}"
                # fallback when no default vector: overlimit -> +inf
                # (never trips, safe); underlimit -> 0.0 (rate < 0 never
                # holds) — an inf underlimit threshold would put every
                # key permanently in breach after the grace window
                fallback = 0.0 if under else float("inf")
                default = (
                    ol.default[vi] if vi < len(ol.default)
                    else (ol.default[0] if ol.default else fallback)
                )
                per_key = None
                if ol.limits_file:
                    if os.path.isfile(ol.limits_file):
                        from xenoeye_spark.config.limits import (
                            coerce_limit_keys,
                        )

                        # CSV keys are strings; the group key holds the
                        # projected columns' TYPED values — coerce by
                        # the actual key dtypes or no limit ever matches
                        ktypes = [dict(proj.dtypes)[k] for k in key_names]
                        per_key = coerce_limit_keys(
                            load_limits_csv(ol.limits_file, len(key_names)),
                            ktypes,
                        )
                    else:
                        import sys

                        print(
                            f"xenoeye: limits file {ol.limits_file!r} for "
                            f"{qname} not found — every key uses the "
                            f"section default {default}",
                            file=sys.stderr,
                        )
                alerts = mavg_alert_stream(
                    proj, key_names, "_mval",
                    window_sec=mavg.time,
                    threshold=default,
                    back2norm_sec=ol.back2norm_time,
                    ts_col=ts_col,
                    thresholds=per_key,
                    under=under,
                    silent_watch=self.silent_watch,
                    buckets=mavg.buckets,
                )
                sink = AlertActionSink(
                    mo_name=name.replace("/", "_"),
                    mavg_name=mavg.name,
                    limit_name=ol.name,
                    key_cols=key_names,
                    notif_dir=os.path.join(self.state_dir, "notifications"),
                    action_script=ol.action_script,
                    back2norm_script=ol.back2norm_script,
                    ext=ol.ext,
                    ext_gate=self.ext_gate,
                    run_scripts=self.run_scripts,
                )

                def make_writer(alerts=alerts, sink=sink, qname=qname):
                    # the silent-key watch's ProcessingTimeTimeout makes
                    # the default ASAP trigger run no-data batches back
                    # to back; its tick is >= 1 s (make_mavg_bucket_fn),
                    # so pacing at 1 s delays no timeout
                    return self._standing(alerts, sink.process_batch, qname, 1)

                yield qname, make_writer

    def _classification_writers(self, name, base, mo, ts_col):
        df = mo.filtered(base, self.ctx)
        for cl in mo.classification:
            qname = f"{name}.clsf.{cl.id}"
            keys = [f.column(self.ctx).alias(f.sql_name) for f in cl.fields]
            key_names = [f.sql_name for f in cl.fields]
            val = cl.val.column(self.ctx)
            # per-device sampling multiplier, like the fwm and mavg
            # paths (monit-objects.c:995) — without it a 1:1000 device's
            # traffic is underweighted 1000x in the class model
            if "sampling_rate" in df.columns:
                val = val * F.coalesce(F.col("sampling_rate"), F.lit(1))
            proj = df.select(*keys, val.alias("_cval"))
            from xenoeye_spark.operators.classify import ClassDB

            # filesystem class DB under state_dir (classification.c
            # clsf/<mo>/<id>/<class>/{name,stats}): stats rewritten per
            # cycle, user renames in `name` files win next cycle
            loop = ClassificationLoop(
                key_cols=key_names,
                val_col="_cval",
                top_percents=cl.top_percents,
                class_col=f"class{cl.id}",
                class_db=ClassDB(
                    os.path.join(self.state_dir, "clsf"),
                    name.replace("/", "_"),
                    cl.id,
                ),
            )

            def make_writer(proj=proj, loop=loop, qname=qname, cl=cl):
                # honor the configured cycle period — the default ASAP
                # trigger would rebuild + collect the model every
                # micro-batch (classification.c cycle time)
                return self._standing(proj, loop.process_batch, qname, cl.time)

            yield qname, make_writer

    def builders(self, flows_stream: DataFrame, ts_col: str = "ts"):
        """All standing queries as (query_name, make_writer) pairs.
        ``make_writer()`` returns the query's DataStreamWriter from
        ``_standing``, ready for ``.start()``; a bounded drain overrides
        its trigger with ``.trigger(availableNow=True)``."""
        out = []
        for name, parent_col, mo in self._walk():
            base = (
                flows_stream if parent_col is None
                else flows_stream.filter(parent_col)
            )
            mf_pairs: list[tuple[str, str]] = []
            if self.exact_mfreq and mo.filter.strip():
                from xenoeye_spark.dsl.compiler import find_mfreq_field_pairs

                mf_pairs = find_mfreq_field_pairs(mo.filter, self.ctx)
            for fwm in mo.fwm:
                qname = f"{name}.fwm.{fwm.name}"
                # extended windows stay dormant until an overlimit with
                # this fwm in its ext list trips (monit-objects.c:943-952)
                gate = self.ext_gate if fwm.extended else None

                def make_writer(base=base, mo=mo, fwm=fwm, qname=qname,
                                gate=gate, mf_pairs=mf_pairs):
                    exp = os.path.join(self.exp_dir, qname.replace("/", "_"))
                    table = qname.replace("/", "_").replace(".", "_")

                    def sink(result, epoch_id, _exp=exp, _g=gate, _fwm=fwm,
                             _table=table):
                        if _g is not None and not _g.is_active(_fwm.name):
                            return
                        from xenoeye_spark.streaming.fwm_stream import (
                            fwm_sql_export,
                        )

                        fwm_sql_export(
                            result, _table, _exp, epoch_id,
                            db_type=self.db_type, ch_codec=self.ch_codec,
                        )

                    # per-query frequency map; the shared ctx is safe
                    # as-is — the handler binds the snapshot factory into
                    # a per-batch copy, never the ctx
                    handler = fwm_batch_handler(
                        mo, fwm, sink, self.ctx, ts_col=ts_col,
                        mfreq_state=MfreqState() if mf_pairs else None,
                        mfreq_pairs=mf_pairs,
                    )
                    # the reference exports on window boundaries
                    # (monit-objects-fwm.c:704)
                    return self._standing(base, handler, qname, fwm.spec.time)

                out.append((qname, make_writer))
            out.extend(self._mavg_writers(name, base, mo, ts_col))
            out.extend(self._classification_writers(name, base, mo, ts_col))
        return out

    # -- lifecycle -----------------------------------------------------------

    def start(self, flows_stream: DataFrame, ts_col: str = "ts"):
        """Start every standing query; returns the StreamingQuery list."""
        return [make().start() for _, make in self.builders(flows_stream, ts_col)]

    def stop(self, queries) -> None:
        for q in queries:
            try:
                q.stop()
            except Exception:
                pass
