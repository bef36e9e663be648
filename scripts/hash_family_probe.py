#!/usr/bin/env python3
"""Hash-family probe (ROADMAP direction E): for MinHash-64, SimHash and
winnowing, time three kernels over the same corpus —

  udf   the library's xxhash64-based pandas-UDF kernel
        (minhash_signatures, simhash64, doc_fingerprint);
  expr  the library's pure-expression twin over the exact-int64 family
        (char polynomial mod 1e9+7 / two 30-bit polynomials, and
        (a*x + b) mod 2^31-1), the variant the DuckDB oracles check;
  np    a numpy pandas-UDF kernel over the twin's exact family, defined
        here, checked bit-identical to the twin on every document first.

Then the base shingle hash alone (xxhash64, the char polynomial, md5
cut to 60 bits), and whether that md5 value equals DuckDB's.

Corpus: perfbench.gen.documents (seed 7). Each variant runs once to
warm up, then ``reps`` interleaved repetitions into a noop sink; the
figure is the median CPU-s of the whole process tree (driver, JVM,
Python workers; perfbench.procstat).

Usage: PYTHONPATH=. python scripts/hash_family_probe.py \
           [n_docs] [reps] [families]
Defaults 5000 5 minhash,simhash,winnow (the base-hash rows run only
with all three families).
"""
import atexit
import os
import re
import shutil
import statistics
import sys
import tempfile

n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
only = sys.argv[3].split(",") if len(sys.argv) > 3 else None

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen, procstat
from xenoeye_spark.session import get_spark
from xenoeye_spark.datapipe.dedup import (
    _PERM_P31, _POLY_P, minhash_params31, minhash_signatures,
    minhash_signatures_expr,
)
from xenoeye_spark.datapipe.text import (
    _SIMHASH_M1, _SIMHASH_M2, _SIMHASH_P1, _SIMHASH_P2,
    doc_fingerprint, doc_fingerprint_expr, simhash64, simhash_expr,
)
from xenoeye_spark.datapipe.util import spread

spark = get_spark("hash-family-probe")
tmp = tempfile.mkdtemp(prefix="hash_probe_")
atexit.register(shutil.rmtree, tmp, True)
path = os.path.join(tmp, "docs")
pdf = gen.documents(np.random.default_rng(7), n_docs)
spark.createDataFrame(pdf[["doc_id", "text"]]).write.parquet(path)
docs = spark.read.parquet(path)


def poly(strs, mul, mod):
    """Char polynomial (acc * mul + code) % mod of every string."""
    n = len(strs)
    if n == 0:
        return np.empty(0, np.int64)
    lens = np.fromiter((len(s) for s in strs), np.int64, n)
    codes = np.frombuffer("".join(strs).encode("utf-32-le"),
                          dtype=np.uint32).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    acc = np.zeros(n, np.int64)
    for j in range(int(lens.max())):
        m = lens > j
        acc[m] = (acc[m] * mul + codes[starts[m] + j]) % mod
    return acc


WS = re.compile(r"\s+")
A31, B31 = minhash_params31(64)


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_np(texts: pd.Series) -> pd.Series:
    sh, owner = [], []
    for i, t in enumerate(texts):
        toks = WS.split(t)
        for j in range(len(toks) - 2):
            sh.append(" ".join(toks[j:j + 3]))
            owner.append(i)
    h = poly(sh, 31, _POLY_P)
    owner = np.asarray(owner, np.int64)
    uniq, inv = np.unique(h, return_inverse=True)
    perm = (A31[:, None] * uniq[None, :] + B31[:, None]) % _PERM_P31
    out = []
    bounds = np.searchsorted(owner, np.arange(len(texts) + 1))
    for i in range(len(texts)):
        idx = inv[bounds[i]:bounds[i + 1]]
        if len(idx) == 0:
            out.append(np.full(64, _PERM_P31, np.int64))
        else:
            out.append(perm[:, idx].min(axis=1))
    return pd.Series(out)


@F.pandas_udf(T.LongType())
def simhash_np(texts: pd.Series) -> pd.Series:
    toks, owner = [], []
    for i, t in enumerate(texts):
        for tok in WS.split(t.strip()):
            if tok:
                toks.append(tok)
                owner.append(i)
    h = (poly(toks, _SIMHASH_M1, _SIMHASH_P1) * (1 << 30)
         + poly(toks, _SIMHASH_M2, _SIMHASH_P2))
    bits = ((h[:, None] >> np.arange(60, dtype=np.int64)) & 1)
    owner = np.asarray(owner, np.int64)
    votes = np.zeros((len(texts), 60), np.int64)
    np.add.at(votes, owner, bits)
    sizes = np.bincount(owner, minlength=len(texts))
    set_ = 2 * votes > sizes[:, None]
    return pd.Series((set_ * (1 << np.arange(60, dtype=np.int64))).sum(axis=1))


FP_SCHEMA = "fp_digest long, fp_size int"


@F.pandas_udf(FP_SCHEMA)
def winnow_np(texts: pd.Series) -> pd.DataFrame:
    k, w = 8, 4
    joined, size = [], []
    for t in texts:
        n = len(t)
        if n >= k:
            codes = np.frombuffer(t.encode("utf-32-le"),
                                  dtype=np.uint32).astype(np.int64)
            acc = np.zeros(n - k + 1, np.int64)
            for j in range(k):
                acc = (acc * 31 + codes[j:j + n - k + 1]) % _POLY_P
            g = acc
        elif n > 0:
            g = poly([t], 31, _POLY_P)
        else:
            g = np.empty(0, np.int64)
        if len(g) >= w:
            g = np.lib.stride_tricks.sliding_window_view(g, w).min(axis=1)
        fp = np.unique(g)
        joined.append(",".join(map(str, fp.tolist())))
        size.append(len(fp))
    # one vectorized polynomial pass over every digest string of the batch
    return pd.DataFrame({"fp_digest": poly(joined, 31, _POLY_P),
                         "fp_size": size})


def mh_np(d):
    return spread(d).select("doc_id", minhash_np("text").alias("signature"))


def sh_np(d):
    return spread(d).select("doc_id", simhash_np("text").alias("simhash"))


def wn_np(d):
    return spread(d).select("doc_id", winnow_np("text").alias("_f")).select(
        "doc_id", "_f.fp_digest", "_f.fp_size")


VARIANTS = {
    "minhash": {"udf": lambda d: minhash_signatures(d, num_hashes=64),
                "expr": lambda d: minhash_signatures_expr(d, num_hashes=64),
                "np": mh_np},
    "simhash": {"udf": simhash64, "expr": simhash_expr, "np": sh_np},
    "winnow": {"udf": doc_fingerprint,
               "expr": lambda d: doc_fingerprint_expr(d).select(
                   "doc_id", "fp_digest", "fp_size"),
               "np": wn_np},
}

if only and set(only) != set(VARIANTS):
    VARIANTS = {k: v for k, v in VARIANTS.items() if k in only}
else:
    only = None
# bit identity: the numpy kernel against the expression twin
for fam, v in VARIANTS.items():
    a = {r[0]: tuple(r[1:]) for r in v["expr"](docs).collect()}
    b = {r[0]: tuple(r[1:]) for r in v["np"](docs).collect()}
    same = sum(a[k] == b[k] for k in a)
    print(f"bits {fam}: {same}/{len(a)} docs identical", flush=True)


def run(df):
    c0 = procstat.cpu_total()
    df.write.format("noop").mode("overwrite").save()
    return procstat.cpu_total() - c0


# warm-up pass, then interleaved repetitions
for fam, v in VARIANTS.items():
    for name, fn in v.items():
        run(fn(docs))
res = {(f, n): [] for f, v in VARIANTS.items() for n in v}
for r in range(reps):
    for fam, v in VARIANTS.items():
        for name, fn in v.items():
            res[(fam, name)].append(run(fn(docs)))
for (fam, name), xs in res.items():
    print(f"cpu {fam} {name}: median {statistics.median(xs):.2f} "
          f"all {[round(x, 2) for x in xs]}", flush=True)

if only:
    sys.exit(0)
# base hash alone over the 3-token shingles
sh = (docs.select(F.split("text", r"\s+").alias("_t"))
      .select(F.explode(F.expr(
          "CASE WHEN size(_t) >= 3 THEN transform(sequence(0, size(_t) - 3),"
          " i -> array_join(slice(_t, i + 1, 3), ' ')) "
          "ELSE cast(array() as array<string>) END")).alias("s")))
sh = sh.cache()
n_sh = sh.count()
polyx = ("aggregate(transform(split(s, ''), ch -> ascii(ch)), 0L, "
         f"(acc, x) -> (acc * 31 + x) % {_POLY_P})")
md5x = "conv(substr(md5(s), 1, 15), 16, 10)"
base = {"xxhash64": F.xxhash64("s"), "poly": F.expr(polyx),
        "md5_60": F.expr(md5x).cast("long")}
bres = {k: [] for k in base}
for k, c in base.items():
    run(sh.select(c.alias("h")))
for r in range(reps):
    for k, c in base.items():
        bres[k].append(run(sh.select(c.alias("h"))))
print(f"base hash over {n_sh} shingles:", flush=True)
for k, xs in bres.items():
    print(f"cpu base {k}: median {statistics.median(xs):.2f} "
          f"all {[round(x, 2) for x in xs]}", flush=True)

import duckdb

distinct = [r[0] for r in sh.select("s").distinct().collect()]
sp = {r[0]: r[1] for r in spark.createDataFrame(
    [(s,) for s in distinct], "s string").select(
        "s", F.expr(md5x).cast("long")).collect()}
con = duckdb.connect()
con.register("t", pd.DataFrame({"s": distinct}))
dd = dict(con.execute(
    "SELECT s, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) FROM t"
).fetchall())
print(f"md5_60 Spark == DuckDB on {sum(sp[s] == dd[s] for s in distinct)}"
      f"/{len(distinct)} distinct shingles", flush=True)
