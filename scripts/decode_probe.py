#!/usr/bin/env python3
"""Decode probe: CPU per flow of the packet decoders, by exporter kind.

Input: the benchmark's ``wire_mix`` packets (perfbench.gen, 6 exporters:
NetFlow v5, v9, IPFIX with a variable-length field and an enterprise
element, sFlow), generated once from ``seed`` and split by exporter
kind; each kind's batch starts with the template packets. Every batch
is decoded in this process, outside Spark, three ways:

  scalar      ``parse_packet`` per packet, one dict per flow, stamped
              with dev_ip / ts / sampling_rate;
  scalar+df   the same rows through ``pd.DataFrame`` and
              ``pa.RecordBatch.from_pandas`` into the flow schema, the
              work the former ``mapInPandas`` decode did per batch;
  columnar    ``decode_batch``, the ``mapInArrow`` decoder.

The columnar rows are checked equal to the scalar rows first. Each
figure is the minimum over ``reps`` runs of process CPU time divided by
the flows decoded, in µs per flow.

Usage: PYTHONPATH=. python scripts/decode_probe.py [seed] [flows] [reps]
Defaults 4242 20040 5.
"""
import datetime as dt
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "perfbench"))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402

import gen  # noqa: E402
from xenoeye_spark.sources.netflow import (  # noqa: E402
    TemplateStore,
    _arrow_schema,
    decode_batch,
    parse_packet,
)

seed = int(sys.argv[1]) if len(sys.argv) > 1 else 4242
n_flows = int(sys.argv[2]) if len(sys.argv) > 2 else 20040
reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5

TS = pa.timestamp("us", tz="UTC")
SCHEMA = _arrow_schema(TS)
T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def scalar(packets):
    store, out = TemplateStore(), []
    for data, dev_ip in packets:
        for row in parse_packet(data, store, dev_ip):
            row.setdefault("dev_ip", dev_ip)
            row["ts"] = T0
            row.setdefault("sampling_rate", 1)
            out.append(row)
    return out


def scalar_df(packets):
    frame = pd.DataFrame(scalar(packets))
    for col in SCHEMA.names:
        if col not in frame.columns:
            frame[col] = None
    return pa.RecordBatch.from_pandas(frame[SCHEMA.names], schema=SCHEMA,
                                      preserve_index=False)


def columnar(batch):
    return decode_batch(batch, TemplateStore())


def cpu_us_per_flow(fn, arg, flows):
    best = float("inf")
    for _ in range(reps):
        t0 = time.process_time()
        fn(arg)
        best = min(best, time.process_time() - t0)
    return best / flows * 1e6


def main():
    pk = gen.wire_mix_packets(np.random.default_rng(seed), n_flows, 5000)
    kind = {e.dev_ip: e.kind for e in gen.EXPORTERS}
    is_tpl = [t is None for t in pk.truth]
    split = {"all": list(range(len(pk.data)))}
    for k in ("v5", "v9", "ipfix", "sflow"):
        split[k] = [i for i, ip in enumerate(pk.dev_ip)
                    if is_tpl[i] or kind[ip] == k]
    print(f"seed {seed}, {n_flows} flows, min of {reps} runs; "
          "µs CPU per flow")
    print(f"{'kind':6} {'flows':>6} {'scalar':>8} {'scalar+df':>10} "
          f"{'columnar':>9} {'speed-up':>9}")
    for k, idx in split.items():
        packets = [(pk.data[i], pk.dev_ip[i]) for i in idx]
        batch = pa.RecordBatch.from_pydict({
            "data": [d for d, _ in packets],
            "dev_ip": [ip for _, ip in packets],
            "recv_ts": [T0] * len(packets),
        }, schema=pa.schema([("data", pa.binary()), ("dev_ip", pa.int64()),
                             ("recv_ts", TS)]))
        want = [{n: r.get(n) for n in SCHEMA.names} for r in scalar(packets)]
        assert columnar(batch).to_pylist() == want, k
        flows = len(want)
        s = cpu_us_per_flow(scalar, packets, flows)
        sdf = cpu_us_per_flow(scalar_df, packets, flows)
        c = cpu_us_per_flow(columnar, batch, flows)
        print(f"{k:6} {flows:>6} {s:>8.2f} {sdf:>10.2f} {c:>9.2f} "
              f"{sdf / c:>8.1f}x")


if __name__ == "__main__":
    main()
