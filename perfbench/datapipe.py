"""``datapipe_heavy``: driver queries over a generated documents table.

A fixed set of ``__spark_entry__.queries()`` entries runs in one warm
session. A warm-up pass over a tiny table absorbs the JVM's JIT and the
Python workers' start-up (a one-shot user pays it once per session, so it
is reported as part of set-up). Measured passes then repeat the set on
the full table, at least MIN_PASSES times and until the run's time is
used; each query is timed from the call that builds it to its collected
result. Every result is checked
against the query's ``oracle_sql()`` on DuckDB (row count only for
``GATE_ROWS_ONLY`` entries).
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

import flows as fl
import gen
import procstat

# the timed set: oracle-checked ROADMAP targets whose cold start fits a
# run (the traced run adds the rest)
QUERIES = ["substring_dedup", "kmv_distinct"]
N_DOCS = 1000
WARM_DOCS = 30
# measured passes, at least. The JIT keeps cutting a pass's CPU for
# about ten passes (8 -> 3 CPU-s at 1000 documents on 4 cores) and the
# JVM compiles in background threads, so when the compile work lands
# differs from run to run. A per-query figure is therefore the mean over
# a fixed minimum of passes from the first full-table pass on: it holds
# all of that compile work whenever it happens, where a median over a
# window of passes moves by +-15% with its timing.
MIN_PASSES = 10


def canon(v):
    """One value as the repository's gate compares it
    (scripts/selftest.py; not imported, as it pins a checkout path)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def oracle_sql(name: str, oracles: dict) -> str:
    """The query's oracle; dedup_ngram_jaccard's all-pairs join is
    restricted to pairs sharing a shingle first. That is exact for its
    threshold > 0 (a pair with no common shingle has Jaccard 0) and turns
    a quadratic list-intersection scan into an inverted-index join."""
    sql = oracles[name]
    if name != "dedup_ngram_jaccard":
        return sql
    cte_end = "\n)\nSELECT a.doc_id AS id_a"
    join = "FROM sh a JOIN sh b ON a.doc_id < b.doc_id"
    if sql.count(cte_end) != 1 or sql.count(join) != 1:
        raise RuntimeError("dedup_ngram_jaccard oracle changed shape; "
                           "update the candidate-pair rewrite")
    cand = ("\n), g AS (SELECT DISTINCT doc_id, unnest(s) AS x FROM sh"
            "), cand AS (SELECT DISTINCT p.doc_id AS l, q.doc_id AS r "
            "FROM g p JOIN g q ON p.x = q.x AND p.doc_id < q.doc_id"
            ")\nSELECT a.doc_id AS id_a")
    return (sql.replace(cte_end, cand)
            .replace(join, "FROM cand JOIN sh a ON a.doc_id = cand.l "
                           "JOIN sh b ON b.doc_id = cand.r"))


def write_docs(run_dir: str, name: str, rng, n: int) -> str:
    d = os.path.join(run_dir, name)
    os.makedirs(d)
    gen.documents(rng, n).to_parquet(os.path.join(d, "documents.parquet"),
                                     index=False)
    return d


def run_pass(spark, qs, names, sf_dir, on_query=None):
    """Run each query once: (wall, process-tree CPU, columns, rows).
    ``on_query(name)`` runs before each query (the traced run tags the
    query's jobs with it)."""
    out = {}
    for name in names:
        if on_query:
            on_query(name)
        c0 = procstat.cpu_total()
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        wall = time.perf_counter() - t0
        out[name] = (wall, procstat.cpu_total() - c0, list(df.columns), rows)
    return out


def run_datapipe(spark, run_dir: str, seed: int, seconds: float,
                 names=QUERIES, on_query=None,
                 min_passes: int = MIN_PASSES) -> dict:
    import duckdb

    import __spark_entry__ as entry

    rng = np.random.default_rng(seed)
    ck = fl.Checker()
    warm_dir = write_docs(run_dir, "warm", rng, WARM_DOCS)
    sf_dir = write_docs(run_dir, "docs", rng, gen.scaled(N_DOCS, WARM_DOCS))
    qs = entry.queries()
    t0 = time.perf_counter()
    run_pass(spark, qs, names, warm_dir)
    warm_s = time.perf_counter() - t0
    passes = []
    t0 = time.time()
    while len(passes) < min_passes or time.time() - t0 < seconds:
        passes.append(run_pass(spark, qs, names, sf_dir, on_query))

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{sf_dir}/documents.parquet')")
    oracles = entry.oracle_sql()
    for name in names:
        want = None
        if name not in entry.GATE_ROWS_ONLY:
            res = con.execute(oracle_sql(name, oracles))
            want = ([d[0] for d in res.description], res.fetchall())
        for p in passes:
            _, _, cols, rows = p[name]
            if want is None:
                ok = len(rows) == len(passes[0][name][3]) and len(rows) > 0
            else:
                ok = (sorted(cols) == sorted(want[0])
                      and rowset(cols, rows) == rowset(*want))
            ck.check(ok, f"{name}: result differs from its oracle")
    walls = {n: statistics.mean(p[n][0] for p in passes) for n in names}
    cpus = {n: statistics.mean(p[n][1] for p in passes) for n in names}
    # end-to-end figures cover the timed set even when more queries ran
    timed = [n for n in names if n in QUERIES]
    lat = [p[n][0] for p in passes for n in timed]
    m = {
        "warmup_s": (warm_s, "s", 1),
        "batch_s": (sum(walls[n] for n in timed), "s", len(passes)),
        "batch_cpu_s": (sum(cpus[n] for n in timed), "CPU-s", len(passes)),
        "query_latency_p50_s": (fl.quantile(lat, 0.5), "s", len(lat)),
        "query_latency_p95_s": (fl.quantile(lat, 0.95), "s", len(lat)),
        "passes": (len(passes), "count", 1),
        "engine_setup_s": (warm_s, "s", 1),
    }
    for n in names:
        m[f"query.{n}.s"] = (walls[n], "s", len(passes))
        m[f"query.{n}.cpu_s"] = (cpus[n], "CPU-s", len(passes))
    return {"metrics": m, "ck": ck, "passes": passes}
