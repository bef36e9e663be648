#!/usr/bin/env python3
"""Hash-family probe: the library's MinHash-64, SimHash and winnowing
kernels (``minhash_signatures``, ``simhash60``, ``doc_fingerprint``),
each checked bit for bit against its DuckDB oracle SQL and then timed.

Check: the oracle SQL of the driver queries ``dedup_minhash_lsh_expr``
(cut at its ``sig`` CTE, so the signatures themselves compare),
``simhash_expr`` and ``doc_fingerprint_expr`` runs in DuckDB over the
same corpus, inside each query's own doc_id scope; every row must equal
the kernel's.

Timing: corpus perfbench.gen.documents (seed 7). Each kernel runs once
to warm up, then ``reps`` interleaved repetitions into a noop sink; the
figure is the CPU-s of the whole process tree (driver, JVM, Python
workers; perfbench.procstat), median and every run.

Usage: PYTHONPATH=. python scripts/hash_family_probe.py [n_docs] [reps]
Defaults 5000 5.
"""
import atexit
import os
import shutil
import statistics
import sys
import tempfile

n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5

import duckdb
import numpy as np

import __spark_entry__ as em
from perfbench import gen, procstat
from xenoeye_spark.datapipe.dedup import minhash_signatures
from xenoeye_spark.datapipe.text import doc_fingerprint, simhash60
from xenoeye_spark.session import get_spark

spark = get_spark("hash-family-probe")
tmp = tempfile.mkdtemp(prefix="hash_probe_")
atexit.register(shutil.rmtree, tmp, True)
path = os.path.join(tmp, "docs")
pdf = gen.documents(np.random.default_rng(7), n_docs)[["doc_id", "text"]]
spark.createDataFrame(pdf).write.parquet(path)
docs = spark.read.parquet(path)

oracles = em.oracle_sql()
mh_sql = oracles["dedup_minhash_lsh_expr"]
mh_sql = mh_sql[: mh_sql.index("), banded AS (")] + ")\nSELECT doc_id, sg FROM sig"
KERNELS = {
    "minhash": (lambda d: minhash_signatures(d, num_hashes=64), mh_sql),
    "simhash": (simhash60, oracles["simhash_expr"]),
    "winnow": (lambda d: doc_fingerprint(d).select(
        "doc_id", "fp_digest", "fp_size"), oracles["doc_fingerprint_expr"]),
}

con = duckdb.connect()
con.register("documents", pdf)
for fam, (fn, sql) in KERNELS.items():
    want = {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}
    got = {r[0]: tuple(r[1:]) for r in fn(docs).collect()}
    same = sum(got[k] == v for k, v in want.items())
    print(f"bits {fam}: {same}/{len(want)} docs equal the DuckDB oracle",
          flush=True)
    if same != len(want):
        sys.exit(1)


def run(df):
    c0 = procstat.cpu_total()
    df.write.format("noop").mode("overwrite").save()
    return procstat.cpu_total() - c0


for fn, _ in KERNELS.values():
    run(fn(docs))
res = {fam: [] for fam in KERNELS}
for _ in range(reps):
    for fam, (fn, _) in KERNELS.items():
        res[fam].append(run(fn(docs)))
for fam, xs in res.items():
    print(f"cpu {fam}: median {statistics.median(xs):.2f} "
          f"all {[round(x, 2) for x in xs]}", flush=True)
