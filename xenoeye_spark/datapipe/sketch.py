"""Count-Min sketch: fixed-size frequency estimation over unbounded
token domains.

The reference keeps EXACT per-value frequency tables (``mfreq``,
filter.c:711-751 — a 2^16-slot table per field) and the repo's
``mfreq``/``vocab_topk`` mirror that exactness with a full groupBy.
For unbounded key domains the exact table grows with the domain; the
Count-Min sketch (public; Cormode & Muthukrishnan, J. Algorithms 2005)
keeps a fixed d x w counter matrix and guarantees, for any item t with
true count c(t) over a stream of n total tokens:

    c(t) <= est(t) <= c(t) + e*n/w   with prob >= 1 - (1/2)^d

(est never underestimates — every occurrence of t lands in all d of
its counters; overestimate comes from other items colliding into
them.)

Spark shape (100-TB story): one token explode -> a groupBy over at
most d*w = 2048 (row, bucket) keys. Partial (map-side) aggregation
reduces every input partition to <= d*w rows before the shuffle, so
the shuffle volume is O(d*w * partitions) regardless of corpus size —
and because the sketch is a sum of per-partition sketches, this IS the
mergeable-summaries merge (same property the streaming kmv/MG twins
exploit). Point queries join a tiny probe set against the tiny sketch.

Hashing is the repo's oracle-checkable integer family: the 31-char
polynomial mod P (< 2^30, int64-exact — see ranking.KMV_P) composed
with d pairwise-independent affine maps (a_i*x + b_i) mod P mod w.
a_i < 2^31 keeps every product < 2^61: exact in int64 in both Spark
and DuckDB, so the oracle re-derives every counter bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xenoeye_spark.datapipe.ranking import KMV_P, kmv_poly_sql
from xenoeye_spark.datapipe.util import ws_tokens_sql

# d affine maps over the polynomial hash — odd multipliers, fixed
# literals mirrored verbatim by the DuckDB oracle.
CMS_ROWS: list[tuple[int, int]] = [
    (1_103_515_245, 12_345),
    (1_588_635_695, 677_890_123),
    (784_588_716, 330_114_157),
    (2_027_382_041, 905_208_493),
]
CMS_WIDTH = 512

def _bucket_sql(x: str, row: int, width: int) -> str:
    a, b = CMS_ROWS[row]
    return f"(({x} * {a}L + {b}L) % {KMV_P}) % {width}"


def _token_hashes(
    df: DataFrame, text_col: str, width: int
) -> DataFrame:
    """One row per (occurrence, sketch row): (row_id, bucket). The
    polynomial is evaluated once per token occurrence; the d affine
    maps are a narrow posexplode over a 4-element array."""
    toks = df.select(
        F.explode(F.expr(ws_tokens_sql(text_col))).alias("t")
    ).select(F.expr(kmv_poly_sql("t")).alias("_x"))
    buckets = ", ".join(
        _bucket_sql("_x", i, width) for i in range(len(CMS_ROWS))
    )
    return toks.select(
        F.posexplode(F.expr(f"array({buckets})")).alias("row_id", "bucket")
    )


def cms_build(
    docs: DataFrame, text_col: str = "text", width: int = CMS_WIDTH
) -> DataFrame:
    """The sketch as a (row_id, bucket, cnt) table — at most d*w rows.
    Summing two sketches cell-wise merges them (the map-side combine
    already does exactly this per partition)."""
    return _token_hashes(docs, text_col, width).groupBy(
        "row_id", "bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    docs: DataFrame,
    text_col: str = "text",
    n_probes: int = 20,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Build the sketch, then point-query it for the corpus's
    ``n_probes`` most frequent tokens (exact top under the total order
    count desc, token asc) and report estimate vs truth.

    Output: (token, exact_cnt, cms_est, cms_err) ordered by the probe
    total order. ``cms_err = cms_est - exact_cnt`` is always >= 0 (the
    one-sided CM guarantee); the test suite asserts it and the e*n/w
    bound.

    The exact counter here is the *evaluation harness* (the probe set
    must come from somewhere); a production point-query path would
    probe externally-supplied keys against a pre-built sketch, exactly
    the ``cms_build`` output join below.
    """
    toks = docs.select(
        F.explode(F.expr(ws_tokens_sql(text_col))).alias("token")
    )
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    probes = exact.orderBy(
        F.col("exact_cnt").desc(), F.col("token").asc()
    ).limit(n_probes)

    sketch = cms_build(docs, text_col, width)

    buckets = ", ".join(
        _bucket_sql("_x", i, width) for i in range(len(CMS_ROWS))
    )
    probe_cells = probes.select(
        "token",
        "exact_cnt",
        F.expr(kmv_poly_sql("token")).alias("_x"),
    ).select(
        "token",
        "exact_cnt",
        F.posexplode(F.expr(f"array({buckets})")).alias("row_id", "bucket"),
    )
    # probe side is n_probes*d rows — broadcast it; the sketch side
    # stays the (already tiny, <= d*w) shuffled aggregate
    est = (
        sketch.join(
            F.broadcast(probe_cells), ["row_id", "bucket"], "inner"
        )
        .groupBy("token", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        "token",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("cms_err"),
    ).orderBy(F.col("exact_cnt").desc(), F.col("token").asc())


# ------------------------------------------------------------------ HLL

# HyperLogLog (public; Flajolet, Fusy, Gandouet, Meunier, AofA 2007).
# m = 2^HLL_P registers; the hash is the composed shingle polynomial
# finalized by fmix31 (31 bits), so the quotient x // m fits
# HLL_QBITS = 22 bits and rank = HLL_QBITS + 1 - bitlength(q) is pure
# integer arithmetic that BOTH engines express as length(bin(q)) —
# every register value is bit-exact across Spark and DuckDB. alpha_m
# is computed ONCE here in Python and embedded verbatim in the oracle,
# so the estimate arithmetic is the identical IEEE expression on both
# sides.
HLL_P = 9
HLL_M = 1 << HLL_P
HLL_QBITS = 31 - HLL_P          # fmix output is 31 bits wide
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)

# murmur-style finalizer over 31-bit lanes (xor-shift + odd-constant
# multiply, twice) — HLL NEEDS avalanche, not just equidistribution: an
# AFFINE map of structured keys (sequential ids, token progressions)
# is low-discrepancy, the register maxima lose their geometric tail,
# and the estimate biased 20-60% in a measured 50k-key smoke; after
# this mix the same keys read 3% (tests pin both numbers). Every step
# is &/^/>>/bounded-*, expressible verbatim in Spark SQL and DuckDB.
HLL_C1 = 0x55ABCD45
HLL_C2 = 0x3261A687
_MASK31 = (1 << 31) - 1


def _fmix31_sql(col: str) -> str:
    y1 = f"({col} ^ shiftright({col}, 15))"
    y2 = f"(({y1} * {HLL_C1}L) & {_MASK31}L)"
    y3 = f"({y2} ^ shiftright({y2}, 13))"
    y4 = f"(({y3} * {HLL_C2}L) & {_MASK31}L)"
    return f"({y4} ^ shiftright({y4}, 16))"


def fmix31(x: int) -> int:
    """Python twin of _fmix31_sql (tests + probe-side folds)."""
    x ^= x >> 15
    x = (x * HLL_C1) & _MASK31
    x ^= x >> 13
    x = (x * HLL_C2) & _MASK31
    return x ^ (x >> 16)

SHINGLE_N = 5
# token-composition multiplier: the shingle key is a polynomial over
# TOKEN hashes, not over the joined string's characters — each char is
# hashed once per token instead of once per overlapping shingle
# (n-fold less interpreted-lambda work; measured 2.3x on the sf0.1
# sketch pass). 1e6+3 is prime and < 2^20, so acc * M2 + x < 2^51.
SHINGLE_M2 = 1_000_003


def with_shingle_hashes(
    docs: DataFrame,
    text_col: str = "text",
    n: int = SHINGLE_N,
    out_col: str = "_shs",
) -> DataFrame:
    """``docs`` plus an ``out_col`` array<long> of the doc's n-token
    shingle hashes — per-token char polynomial composed over each
    n-window with the SHINGLE_M2 fold, all mod KMV_P. NOT per-doc
    distinct (register max / bit-set insert are idempotent). The
    sketch operators treat this composed hash AS the key identity —
    which is what a sketch estimates by definition (distinct hashes ~
    distinct keys); the DuckDB oracles re-derive it verbatim.

    Two-stage on purpose: the token-hash array materializes as a real
    column BEFORE the per-window fold references it — Catalyst does
    not CSE across lambda boundaries, so an INLINED token-hash
    transform re-evaluates the per-char polynomial once per shingle
    index, O(tokens x shingles) hashing per doc (measured 22s vs 2.4s
    on the sf0.1 sketch pass)."""
    th = f"transform({ws_tokens_sql(text_col)}, t -> {kmv_poly_sql('t')})"
    staged = docs.withColumn("_th_tmp", F.expr(th))
    sh = (
        f"CASE WHEN size(_th_tmp) >= {n} THEN "
        f"transform(sequence(1, size(_th_tmp) - {n - 1}), "
        f"i -> aggregate(slice(_th_tmp, i, {n}), 0L, "
        f"(acc, x) -> (acc * {SHINGLE_M2} + x) % {KMV_P})) "
        f"ELSE array() END"
    )
    return staged.withColumn(out_col, F.expr(sh)).drop("_th_tmp")


def _rank_sql(q: str) -> str:
    """Leading-one position of the HLL_QBITS-wide quotient: 1 for the
    high bit set, HLL_QBITS + 1 when q == 0."""
    return (
        f"CASE WHEN {q} = 0 THEN {HLL_QBITS + 1} "
        f"ELSE {HLL_QBITS + 1} - length(bin({q})) END"
    )


def hll_registers(
    keyed: DataFrame, key_col: str, group_cols: list[str]
) -> DataFrame:
    """The HLL register table per group: (group..., bucket, mj) with at
    most HLL_M rows per group. max() is the HLL merge — map-side combine
    reduces every partition to <= m rows per group before the shuffle,
    and register-wise max of two sketches IS the sketch of the union
    (tested), the same mergeable-summaries property the CMS/KMV/MG
    operators lean on."""
    # key_col is an already-hashed LONG (< KMV_P); the fmix31
    # avalanche decorrelates structured key sets before the
    # bucket/rank split (see the constant block above — an affine mix
    # here measurably biases the estimate on sequential keys)
    hashed = keyed.select(
        *group_cols,
        F.expr(_fmix31_sql(f"({key_col})")).alias("_x"),
    ).select(
        *group_cols,
        (F.col("_x") % HLL_M).alias("bucket"),
        F.expr(_rank_sql(f"(_x div {HLL_M})")).alias("_rank"),
    )
    return hashed.groupBy(*group_cols, "bucket").agg(
        F.max("_rank").alias("mj")
    )


def hll_distinct(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    n: int = SHINGLE_N,
) -> DataFrame:
    """Per-group HyperLogLog distinct-shingle estimate, with the exact
    count alongside as the evaluation harness (same pattern as
    cms_estimate): the sketch is what ships at 100 TB — m registers per
    group regardless of corpus size, one map-side-combined shuffle —
    while exact count-distinct shuffles every distinct key.

    Key identity is the composed shingle HASH (shingle_hashes_sql) —
    the quantity an HLL estimates by definition; ``exact_distinct``
    counts distinct hashes, isolating sketch error from the (~n^2/2P,
    sub-1-per-corpus) hash-collision error.

    The estimate: alpha*m^2 / sum_j 2^(-M_j) with the standard
    small-range linear-counting correction (m*ln(m/V) when the raw
    estimate <= 2.5m and V = zero registers > 0). sum_j 2^(-M_j) is a
    sum of <= m dyadic rationals with denominator 2^(QBITS+1) — EXACT in
    double on both engines in any order — so the only cross-engine FP
    surface is the final mul/div/ln, identical IEEE expressions rounded
    to 4 digits.

    Output: (group, exact_distinct, n_zero_registers, hll_est) ordered
    by group.
    """
    # explode_OUTER + null filter, not explode: the inner explode's
    # inferred size(..)>0 predicate is pushed below the staging
    # projections with the shingle expression INLINED — re-running the
    # O(tokens x shingles) hash once per row (measured 45s vs 1s at
    # sf0.1). The outer form infers no such filter; the null filter on
    # the GENERATED column cannot be pushed below the Generate.
    sh = with_shingle_hashes(docs, text_col, n).select(
        F.col(group_col),
        F.explode_outer(F.col("_shs")).alias("_hs"),
    ).filter(F.col("_hs").isNotNull())
    reg = hll_registers(sh, "_hs", [group_col])
    est = reg.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("mj"))).alias("_sp"),
    ).select(
        group_col,
        (F.lit(HLL_M) - F.col("_present")).cast("int").alias(
            "n_zero_registers"
        ),
        (F.col("_sp") + (F.lit(HLL_M) - F.col("_present"))).alias("_sum"),
    ).select(
        group_col,
        "n_zero_registers",
        # the alpha literal is CAST AS DOUBLE on BOTH engines — a bare
        # decimal literal parses as DECIMAL in Spark and DuckDB alike,
        # and decimal arithmetic would diverge from the IEEE expression
        F.expr(
            f"CASE WHEN (CAST({HLL_ALPHA!r} AS DOUBLE)"
            f" * {HLL_M} * {HLL_M} / _sum)"
            f" <= 2.5 * {HLL_M} AND n_zero_registers > 0"
            f" THEN {HLL_M} * ln({HLL_M} / CAST(n_zero_registers"
            f" AS DOUBLE))"
            f" ELSE CAST({HLL_ALPHA!r} AS DOUBLE)"
            f" * {HLL_M} * {HLL_M} / _sum END"
        ).alias("_est"),
    )
    exact = sh.groupBy(group_col).agg(
        F.count_distinct("_hs").alias("exact_distinct")
    )
    return (
        exact.join(est, group_col)
        .select(
            group_col,
            "exact_distinct",
            "n_zero_registers",
            F.round("_est", 4).alias("hll_est"),
        )
        .orderBy(group_col)
    )


# ---------------------------------------------------------------- bloom

# Bloom filter (public; Bloom, CACM 1970): k = len(CMS_ROWS) bit
# positions per key from the same pairwise-independent affine family as
# the Count-Min rows, over BLOOM_MBITS bits. All-integer (< 2^61
# products), so the DuckDB oracle re-derives the bit set AND every
# probe verdict — including the false positives — bit-for-bit.
BLOOM_MBITS = 1 << 17


def _bloom_positions_sql(x: str, mbits: int) -> str:
    """array() of the k bit positions for a hashed key."""
    return "array(" + ", ".join(
        _bucket_sql(x, i, mbits) for i in range(len(CMS_ROWS))
    ) + ")"


def bloom_build(
    docs: DataFrame,
    text_col: str = "text",
    n: int = SHINGLE_N,
    mbits: int = BLOOM_MBITS,
) -> DataFrame:
    """The filter as its set-bit positions: (bit_pos) DISTINCT, at most
    mbits rows no matter the corpus size (map-side partial dedup caps
    each input partition's shuffle contribution at mbits rows — and
    bit-set UNION is the Bloom merge, so per-partition filters combine
    exactly). A bitmap array is the in-memory production form; the
    relational form is equivalent, broadcastable (<= 1 MB at 2^17),
    and oracle-checkable."""
    # explode_outer + null filter: see hll_distinct's pushed-predicate
    # note — the inner explode re-inlines the shingle expression into a
    # pushed size(..)>0 filter
    sh = with_shingle_hashes(docs, text_col, n).select(
        F.explode_outer(F.col("_shs")).alias("_x")
    ).filter(F.col("_x").isNotNull())
    return (
        sh.select(
            F.explode(F.expr(_bloom_positions_sql("_x", mbits)))
            .alias("bit_pos")
        )
        .distinct()
    )


def bloom_contamination(
    eval_docs: DataFrame,
    train_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    mbits: int = BLOOM_MBITS,
) -> DataFrame:
    """Benchmark-decontamination via a Bloom membership filter — the
    fixed-memory scale path for ``contamination_check``'s exact
    inverted-index join: the train side collapses to <= mbits bits
    (vs every distinct train shingle crossing the exact join's
    shuffle), and the probe is a broadcast-hash join against that
    constant-size table. One-sided by construction: never a false
    negative (n_maybe >= the exact n_hits for every doc, tested), false
    positives at the documented fill-rate.

    Output per eval doc: n_shingles (distinct, as in the exact
    operator), n_maybe (Bloom-positive shingles), maybe_frac,
    is_flagged.
    """
    from pyspark import StorageLevel

    k = len(CMS_ROWS)
    bits = bloom_build(train_docs, text_col, n, mbits)

    # persisted AFTER the heavy tokenize+hash projection: both the
    # probe path and the per-doc n_shingles count consume it, and the
    # rows are (id, long) — a sliver of the text they derive from
    ev_hashed = with_shingle_hashes(eval_docs, text_col, n).select(
        F.col(id_col), F.array_distinct(F.col("_shs")).alias("_shd")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ev_sh = ev_hashed.select(
        F.col(id_col),
        F.explode_outer(F.col("_shd")).alias("_x"),
    ).filter(F.col("_x").isNotNull())
    probed = ev_sh.select(
        id_col, "_x",
        F.posexplode(F.expr(_bloom_positions_sql("_x", mbits)))
        .alias("_i", "bit_pos"),
    )
    # probe identity is the composed shingle hash (the same identity
    # the filter inserts — what a Bloom filter tests by definition)
    hits = (
        probed.join(F.broadcast(bits), "bit_pos", "left_semi")
        .groupBy(id_col, "_x")
        .agg(F.count(F.lit(1)).alias("_set"))
        .filter(F.col("_set") == k)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_maybe"))
    )
    base = ev_hashed.select(
        F.col(id_col), F.size(F.col("_shd")).alias("n_shingles")
    )
    return (
        base.join(hits, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce("n_maybe", F.lit(0)).cast("long").alias("n_maybe"),
        )
        .withColumn(
            "maybe_frac",
            F.round(
                F.when(
                    F.col("n_shingles") > 0,
                    F.col("n_maybe")
                    / F.col("n_shingles").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumn(
            "is_flagged", (F.col("n_maybe") > 0).cast("int")
        )
    )
