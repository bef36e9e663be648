"""Shared datapipe plumbing."""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def env_int(name: str, default: int) -> int:
    """Integer env-var knob (r13, ADVICE r12): unset or EMPTY falls back
    to the default (an empty string means "unset" — the d792618
    contract), any other non-integer value raises naming the variable
    instead of a bare ValueError deep inside an operator."""
    raw = os.environ.get(name)
    if raw is None or raw.strip() == "":
        return default
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"{name} must be an integer, got {raw!r}"
        ) from None

# THE canonical whitespace tokenizer, in both Column and SQL-string form.
# Every text operator (text.py, dedup.py, ranking.py) and every DuckDB
# oracle mirrors this exact expression — one definition, or a future
# delimiter tweak silently desynchronizes operators from their oracles.
# Java's \s is [ \t\n\x0B\f\r]; the oracles spell that class out
# (ORACLE_WS), since RE2's \s lacks \x0B.
WS_TOKENS_SQL = "filter(split(trim({c}), '\\\\s+'), t -> t != '')"


def ws_tokens(text_col: Column | str) -> Column:
    """Whitespace tokens with empties dropped (Column form)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def ws_tokens_sql(col_name: str) -> str:
    """The same tokenizer as a Spark-SQL expression string (for use
    inside F.expr-composed higher-order expressions)."""
    return WS_TOKENS_SQL.format(c=col_name)


# The char polynomial (multiplier 31) modulus of MinHash shingles and
# winnowing grams: < 2^30, so every product below stays exact in int64.
POLY_P = 1_000_000_007
# Chars per polynomial pass: bounds the per-char int64 temporaries of
# char_polys to a few tens of MB whatever the Arrow batch holds.
_POLY_CHUNK = 1 << 21


def poly_pows(mul: int, mod: int, n: int) -> np.ndarray:
    """``[mul^0, ..., mul^(n-1)] % mod`` as int64 (at least one entry),
    built by doubling; ``mod < 2^31`` keeps every product exact."""
    p = np.ones(1, np.int64)
    while len(p) < n:
        p = np.concatenate((p, p * pow(mul, len(p), mod) % mod))
    return p


def char_chunks(lens: np.ndarray) -> list[tuple[int, int]]:
    """``(lo, hi)`` ranges over consecutive strings of ``lens`` chars,
    ~``_POLY_CHUNK`` chars each (a longer string makes its own chunk);
    none for no strings."""
    ends = np.cumsum(lens)
    cuts = np.searchsorted(
        ends, np.arange(_POLY_CHUNK, ends[-1] if len(ends) else 0,
                        _POLY_CHUNK), "right"
    )
    b = np.unique(np.concatenate(([0], cuts, [len(lens)])))
    return list(zip(b[:-1].tolist(), b[1:].tolist()))


def char_polys(strs, *families: tuple[int, int]) -> list[np.ndarray]:
    """The char polynomial of every string, once per ``(mul, mod)``
    family: the fold ``acc = (acc * mul + code point) % mod`` from 0,
    so ``''`` hashes to 0. This is the base hash of the oracle-exact
    similarity family (MinHash shingles, SimHash tokens, winnowing
    grams): the DuckDB oracles fold ``ascii()`` of each char the same
    way, and Spark's ``ascii()`` of a one-char string is the same code
    point (non-BMP included).

    Vectorized over the batch: a string's fold equals
    ``sum(code_i * mul^(len-1-i)) % mod``, so every family is one
    gather-multiply and one prefix sum over the code points of a
    ``char_chunks`` chunk (``mod < 2^30``: each term < 2^51, each
    reduced term < 2^30). Returns one int64 array per family, plus the
    code-point lengths last."""
    strs = list(strs)
    lens = np.fromiter(map(len, strs), np.int64, len(strs))
    outs = [np.zeros(len(strs), np.int64) for _ in families]
    pows = [poly_pows(m, p, int(lens.max(initial=0))) for m, p in families]
    for lo, hi in char_chunks(lens):
        ln = lens[lo:hi]
        codes = np.frombuffer(
            "".join(strs[lo:hi]).encode("utf-32-le"), np.uint32
        ).astype(np.int64)
        e = np.cumsum(ln)
        exp = np.repeat(e - 1, ln) - np.arange(len(codes))
        for out, pw, (_, mod) in zip(outs, pows, families):
            cs = np.concatenate(([0], np.cumsum(codes * pw[exp] % mod)))
            out[lo:hi] = (cs[e] - cs[e - ln]) % mod
    return [*outs, lens]


def segment_starts(counts: np.ndarray, width: int = 1) -> tuple:
    """For segments of ``counts`` items laid end to end, every start of
    a ``width``-item run that fits inside its segment: returns (flat
    start index, owning segment). ``width=1`` enumerates every item."""
    m = np.maximum(counts - (width - 1), 0)
    owner = np.repeat(np.arange(len(counts)), m)
    offs = np.cumsum(counts) - counts
    first = np.cumsum(m) - m
    return offs[owner] + np.arange(len(owner)) - first[owner], owner


def segment_sums(vals: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Sum of ``vals`` over consecutive segments of ``counts`` items
    (0 for an empty segment); int64-exact below 2^63 per prefix."""
    cs = np.concatenate(([0], np.cumsum(vals, dtype=np.int64)))
    ends = np.cumsum(counts)
    return cs[ends] - cs[ends - counts]


def spread(
    df: DataFrame, min_parts: int | None = None, min_bytes: int = 0
) -> DataFrame:
    """Guard a CPU-bound per-row kernel against an under-partitioned scan.

    A parquet file with one row group is unsplittable, so a small corpus
    can reach a heavy projection (winnowing grams, simhash bit-votes,
    shingle windows, media decode) as a SINGLE partition — the whole
    stage then runs on one core regardless of cluster size. When the
    input has fewer partitions than the session's default parallelism,
    repartition up to it (one narrow shuffle of ids+payload, measured 9x
    on the sf0.1 winnowing grams stage).

    At 100-TB scale the scan yields orders of magnitude more splits than
    cores, the condition is false, and this is a no-op — the guard never
    forces a shuffle onto a well-partitioned corpus.

    Inputs with an upstream Exchange are returned untouched WITHOUT
    probing: their kernel stage already runs at shuffle-partition
    parallelism, and probing ``.rdd`` under AQE would eagerly execute
    the upstream stages just to count partitions (they would then run
    AGAIN in the real job). The exchange check reads the non-adaptive
    physical plan, which plans but never executes.

    ``min_bytes``: cost floor for VECTORIZED kernels (numpy matmuls over
    Arrow batches), whose single-core cost on a small input is lower than
    the repartition's own scheduling/shuffle overhead (~0.5-1s for 32
    tasks, measured on the r4 embedding-family bench). When the
    optimizer's size estimate for the input — plan statistics, no
    execution; for a parquet scan this is the file size — is below the
    floor, return untouched. Interpreted-lambda kernels (winnowing
    grams, shingle windows: ~us/byte) should keep the default 0: spread
    measured 9x on a 600 KB corpus for those.

    Known blind spot: partition COUNT is a proxy for balance. A union of
    an unsplittable scan with a many-partition-but-tiny frame (e.g.
    ``createDataFrame`` of a handful of rows, which spreads them over
    defaultParallelism partitions) passes the count check while all the
    data sits in one partition — the kernel then runs single-core
    (measured 3.3x on the r4 planted-union fixture). Detecting that
    without executing the plan is not possible here; callers unioning a
    big scan with a small local frame should ``coalesce(1)`` the small
    side or repartition the union themselves.
    """
    if df.isStreaming:
        # a stream's parallelism comes from its source/shuffle config,
        # and .rdd / plan-stat probes are illegal on unstarted streams
        # (r6: surfaced when incremental_dedup_stream reused the batch
        # signature builder) — the unsplittable-scan rescue this guard
        # exists for cannot arise here
        return df
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    try:
        plan = df._jdf.queryExecution().sparkPlan().toString()
        if "Exchange" in plan:
            return df
    except Exception:
        pass  # plan introspection is best-effort; fall through to probe
    if min_bytes > 0:
        try:
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            if size < min_bytes:
                return df
        except Exception:
            pass  # stats are best-effort; fall through to the probe
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
