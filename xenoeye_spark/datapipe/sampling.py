"""Deterministic stratified sampling for training-data curation.

``stratified_sample`` draws an exact per-group quota (e.g. "50 documents
per language") with a DETERMINISTIC pseudo-random order, so a run is
reproducible across cluster sizes and re-derivable by a SQL oracle:
rows are ranked inside each group by a multiplicative-hash permutation
of their id ((id * A + B) mod P — SQL-expressible integer arithmetic,
no engine-specific hash), and the first ``n_per_group`` survive.

Scale shape: one shuffle, keyed by the group column (the window's
partitionBy). A skewed group lands on one reducer; for quotas much
smaller than group sizes, pre-prune with ``prefilter_factor`` — rows
whose permuted hash falls outside the smallest ``factor * quota``
values per group cannot be selected, and a cheap groupBy-count +
broadcast threshold drops them BEFORE the window shuffle, bounding the
per-reducer row count at ~factor * quota instead of the full group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xenoeye_spark.datapipe.util import ws_tokens

# 31-bit multiplicative permutation, same overflow-free family as the
# MinHash expression twin: products stay < 2^61, exact in any engine
_P31 = (1 << 31) - 1
_A, _B = 1_103_515_245, 12_345
# id domain bound: (2^32 + salt) * A stays < 2^63, int64-exact (no
# spare bit — at 2^32-1 the product is ~4.74e18, past 2^62). Beyond
# it the multiply wraps SILENTLY in Spark (and errors in DuckDB) — an
# unguarded engine divergence — and a negative id gives a negative `%`
# remainder, landing every such row in the last split regardless of
# weights. Out-of-domain ids raise at execution instead (r5 fix).
_ID_MAX = 1 << 32


def _checked_id(id_col, salt: int = 0) -> F.Column:
    """``id_col + salt`` as a long, raising per-row when the id is NULL
    or outside [0, 2^32 - salt)."""
    c = F.col(id_col).cast("long")
    bad = c.isNull() | (c < 0) | (c >= _ID_MAX - salt)
    msg = F.concat(
        F.lit(f"{id_col} outside [0, 2^32-{salt}) breaks the int64-exact "
              "permutation: "),
        F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
    )
    return F.when(bad, F.raise_error(msg).cast("long")).otherwise(c + salt)


def permuted_order(id_col) -> F.Column:
    """The deterministic rank key: (id * A + B) mod 2^31-1."""
    return F.pmod(_checked_id(id_col) * _A + _B, F.lit(_P31))


def stratified_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    id_col: str = "doc_id",
    prefilter_factor: int | None = None,
) -> DataFrame:
    """Exactly ``min(n_per_group, |group|)`` rows per group, chosen by
    the permuted-id order (ties impossible: the permutation is a
    bijection mod P for distinct ids < P; equal keys would both survive
    deterministically via the id tiebreak). Output: input columns +
    ``sample_rank`` (1-based within the group).

    ``prefilter_factor``: skew guard for quota << group size. Keeps only
    rows whose permuted hash lies in the smallest ``factor * quota / n``
    fraction per group (one groupBy-count + a broadcast join) before the
    window shuffle, so a billion-row group sends ~factor * quota rows to
    its reducer instead of a billion. The selected set is unchanged
    whenever the prefilter retains >= quota rows per group — hashes are
    uniform, so P(short) is Chernoff-small for factor >= 4 — and any
    group the prefilter leaves SHORT of quota falls back to its full
    membership, preserving exactness at the cost of one extra pass over
    that group's rows.
    """
    hkey = permuted_order(id_col)
    base = df
    if prefilter_factor is not None and prefilter_factor > 0:
        from pyspark import StorageLevel

        # the prefilter reads df three times (counts, survivor counts,
        # hash-cut); persist so a non-trivial upstream (e.g. a
        # language-id projection) computes once
        from xenoeye_spark.datapipe.util import env_int

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        # size-adaptive bypass (r12 optimization, same decision shape as
        # kmv_distinct / connected_components): the hash-cut protects a
        # billion-row group's ranking reducer, but its count/threshold/
        # fallback joins are pure overhead when the WHOLE input is
        # small. Selection-identical by the existing prefilter contract.
        # The routing count() fills the persist both paths read.
        local_rows = env_int("XE_STRAT_LOCAL_ROWS", 200_000)
        if df.count() <= local_rows:
            w_small = Window.partitionBy(group_col).orderBy(
                hkey.asc(), F.col(id_col).asc()
            )
            out = (
                df.withColumn("sample_rank", F.row_number().over(w_small))
                .filter(F.col("sample_rank") <= n_per_group)
            )
            out._xe_cached = df
            return out
        # per-group counts: the prefilter's broadcast table
        counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_gn"))
        cut = (
            F.least(
                F.lit(1.0),
                F.lit(float(prefilter_factor * n_per_group)) / F.col("_gn"),
            )
            * _P31
        ).cast("long")
        # r13 fold (VERDICT r12 #3, the kmv_distinct shape): the old
        # kept/short machinery scanned the persisted frame four times
        # (counts; kept over the pruned join; anti-join of pruned;
        # semi-join of df) with two broadcast-of-`short` joins and a
        # union. One conditional aggregation over the counts-joined
        # frame counts each group's hash-cut survivors, and ONE
        # broadcast join + filter selects the same base rows: every
        # row of a short or NULL group, the below-cut rows of everyone
        # else. Pinned by the prefilter-equivalence tests, which force
        # this path via XE_STRAT_LOCAL_ROWS=0.
        meta = (
            df.join(F.broadcast(counts), group_col)
            .groupBy(group_col, "_gn")
            .agg(F.count(F.when(hkey < cut, F.lit(1))).alias("_kn"))
            .select(
                group_col, "_gn",
                (
                    F.col("_kn")
                    < F.least(
                        F.lit(n_per_group).cast("long"), F.col("_gn")
                    )
                ).alias("_short"),
            )
        )
        base = (
            # LEFT join: NULL-group rows match nothing (meta has no
            # NULL row) and survive with _short/_gn NULL; the isNull
            # disjunct re-admits them in full, exactly the old union
            # branch.
            df.join(F.broadcast(meta), group_col, "left")
            .filter(
                F.col(group_col).isNull()
                | F.col("_short")
                | (hkey < cut)
            )
            # the equi-join moved group_col to the front; restore the
            # input column order (the output contract is "input columns
            # + sample_rank")
            .select(*df.columns)
        )
    w = Window.partitionBy(group_col).orderBy(
        hkey.asc(), F.col(id_col).asc()
    )
    out = (
        base.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_group)
    )
    if base is not df:
        # the prefilter's load-bearing persist is the CALLER's to
        # release in long-lived sessions: result._xe_cached.unpersist()
        out._xe_cached = df
    return out


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic train/val/test split: each row lands in exactly one
    named split, decided by its permuted id hash — stable across runs,
    cluster sizes, and row order, and re-derivable in SQL (the property
    random()-based splits lack). ``weights`` maps split name -> fraction
    (must sum to ~1); ``salt`` shifts the permutation so independent
    splits of the same corpus decorrelate.

    Zero shuffle: a pure projection appending ``split``. Ids must lie in
    [0, 2^32 - salt) (NULL included as invalid) — outside it the row
    raises at execution rather than silently landing in the last split
    (negative ``%`` remainder) or wrapping the int64 product.
    """
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"weights sum to {total}, expected 1.0")
    if salt < 0 or salt >= _ID_MAX:
        raise ValueError(f"salt must be in [0, 2^32), got {salt}")
    h = F.pmod(_checked_id(id_col, salt) * _A + _B, F.lit(_P31))
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w
        cut = int(acc * _P31)
        cond = h < F.lit(cut)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    len_col: str,
    id_col: str = "doc_id",
    by: str | None = None,
) -> DataFrame:
    """Sequence packing for training-batch construction: assign docs to
    fixed-capacity bins (e.g. 8192-token training sequences).

    Exact first-fit packing is inherently sequential; the scalable,
    DETERMINISTIC approximation here is capacity-quantized next-fit:
    docs order by (len desc, id) — the FFD heuristic's order — and
    bin = floor(exclusive-running-sum / capacity). A bin can overflow by
    at most one document (the classic quantization slack, bounded by
    max doc length), and utilization matches next-fit-decreasing;
    crucially the assignment is ONE window cumsum — no driver loop, no
    recursion — and bit-reproducible by a SQL oracle. Docs longer than
    ``capacity`` each take a bin alone (their slack spills into the
    next boundary, as in any packing that cannot split documents).

    ``by``: optional partition key (pack per language/source); default
    packs the whole frame in one ordered window — fine to ~10^8 docs,
    use ``by`` beyond that (the window is the shuffle).

    Output: all input columns + ``bin_id`` (0-based) + ``bin_offset``
    (exclusive token offset within the bin's running order).
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    part = [by] if by is not None else []
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(len_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum(F.col(len_col)).over(w), F.lit(0))
    binned = docs.withColumn("_cum", cum_excl).withColumn(
        "bin_id", F.floor(F.col("_cum") / capacity).cast("long")
    )
    return binned.withColumn(
        "bin_offset", (F.col("_cum") - F.col("bin_id") * capacity).cast("long")
    ).drop("_cum")


def temperature_resample(
    df: DataFrame,
    domain_col: str,
    alpha: float = 0.5,
    target_total: int = 1000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based domain rebalancing (the public multilingual /
    domain-mixture recipe: sample domain d proportionally to
    count_d^alpha, alpha<1 flattening head domains and boosting the
    tail). Per-domain quota = min(count_d,
    floor(target_total * count_d^alpha / sum_d count_d^alpha)); within a
    domain the kept rows are the deterministic permuted-id minima —
    exactly ``stratified_sample``'s rank, so reruns and the SQL oracle
    agree row-for-row.

    The quota floor makes the total <= target_total (never over); the
    normalizer is rounded to 6 decimals before dividing so engines whose
    float sums differ by an ulp still floor identically. NULL domains
    are excluded (like every equi-keyed stage here).

    Plan: one tiny per-domain count -> one-row normalizer -> broadcast
    quota join -> one rank window per domain. Skew note: at 100 TB the
    window shuffles a head domain's full membership; compose with
    ``stratified_sample(prefilter_factor=...)``'s hash-cut when quota <<
    count (same key, same rank — selection is unchanged).

    Output: (id_col, domain_col, sample_rank, quota).
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1]: {alpha}")
    dom = df.filter(F.col(domain_col).isNotNull())
    counts = dom.groupBy(domain_col).agg(F.count(F.lit(1)).alias("_c"))
    wsum = (
        counts.groupBy()
        .agg(F.round(F.sum(F.pow("_c", F.lit(alpha))), 6).alias("_ws"))
        .withColumn("_k", F.lit(1))
    )
    quotas = (
        counts.withColumn("_k", F.lit(1))
        .join(F.broadcast(wsum), "_k")
        .select(
            domain_col,
            F.least(
                F.col("_c"),
                F.floor(
                    F.lit(float(target_total))
                    * F.pow("_c", F.lit(alpha)) / F.col("_ws")
                ),
            ).cast("long").alias("quota"),
        )
    )
    w = Window.partitionBy(domain_col).orderBy(
        permuted_order(id_col).asc(), F.col(id_col).asc()
    )
    return (
        dom.join(F.broadcast(quotas), domain_col)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= F.col("quota"))
        .select(id_col, domain_col, "sample_rank", "quota")
    )


# second multiplier for (doc, pos) mixing in mask_spans — coprime to _A
_A2 = 784_588_723


def mask_spans(
    df: DataFrame,
    mask_frac: float = 0.15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic span-corruption targets (the T5/UL2 denoising prep,
    public recipe): each token position is masked iff its (doc, pos)
    hash falls under ``mask_frac`` of the hash space — the same
    rerun-stable hash-threshold trick as ``hash_split`` — and
    consecutive masked positions merge into SPANS (one sentinel per
    span at training time). Emits the target side: one row per span.

    Plan: tokenize -> posexplode -> hash filter (drops ~1-mask_frac of
    rows before any shuffle) -> gaps-and-islands (pos - rank) with ONE
    doc-keyed window -> per-span agg. Everything is expression-level
    and re-derived verbatim by the SQL oracle.

    ``id_col`` must lie in [0, 2^32) (the ``hash_split`` domain: the
    int64 product stays exact). Output: (id_col, span_id 1-based by
    position, start_pos, end_pos, n_tokens, span_text); docs with no
    masked tokens emit no rows.
    """
    if not 0 < mask_frac < 1:
        raise ValueError(f"mask_frac must be in (0, 1): {mask_frac}")
    cutoff = int(mask_frac * _P31)
    toks = df.select(
        _checked_id(id_col).alias(id_col),
        F.posexplode(ws_tokens(F.col(text_col))).alias("_pos", "_tok"),
    )
    # _pos is a 32-bit int from posexplode — widen BEFORE multiplying
    # (int * _A2 overflows int32 under ANSI for pos >= 3)
    h = F.pmod(
        F.col(id_col) * _A + F.col("_pos").cast("long") * _A2 + _B,
        F.lit(_P31),
    )
    masked = toks.filter(h < cutoff)
    w = Window.partitionBy(id_col).orderBy(F.col("_pos").asc())
    islands = masked.withColumn(
        "_isl", F.col("_pos") - F.row_number().over(w)
    )
    spans = (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("_pos").cast("long").alias("start_pos"),
            F.max("_pos").cast("long").alias("end_pos"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                    lambda s: s["_tok"],
                ),
                " ",
            ).alias("span_text"),
        )
    )
    w2 = Window.partitionBy(id_col).orderBy(F.col("start_pos").asc())
    return spans.select(
        F.col(id_col),
        F.row_number().over(w2).cast("long").alias("span_id"),
        "start_pos", "end_pos", "n_tokens", "span_text",
    )


def domain_cap(
    df: DataFrame,
    domain_col: str,
    n_per_domain: int,
    order_cols: list | None = None,
    id_col: str = "doc_id",
    presplit: int = 32,
) -> DataFrame:
    """Cap a corpus at the best ``n_per_domain`` rows per domain — the
    standard over-represented-source guard in web-corpus curation (keep
    the top-N docs per registered domain by quality, drop the tail).

    Rows rank by ``order_cols`` (e.g. ``[F.col("quality").desc()]``)
    with ``id_col`` ascending appended as the deterministic tiebreak;
    the emitted ``domain_rank`` (1-based) is that order.

    Scale shape: a plain per-domain window sorts EVERY row of a hot
    domain on one reducer. The cap is mergeable (the global top-N is
    contained in the union of per-bucket top-Ns), so rows first rank
    within (domain, bucket) — bucket = a hash-salt of the id with
    ``presplit`` values, any partition of rows works and the salt never
    affects the result — and only each bucket's top-N survive to the
    exact per-domain window: <= presplit * n_per_domain rows per domain
    cross the second shuffle, independent of domain skew. Set
    ``presplit=0`` to skip the pre-prune (tiny inputs).
    """
    reserved = {"_salt", "_r1", "domain_rank"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"domain_cap: input columns {sorted(reserved)} collide "
            "with the operator's working/output names — rename them"
        )
    order = list(order_cols or []) + [F.col(id_col).asc()]
    if presplit:
        w1 = Window.partitionBy(domain_col, "_salt").orderBy(*order)
        pruned = (
            df.withColumn(
                "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(presplit))
            )
            .withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= n_per_domain)
            .drop("_salt", "_r1")
        )
    else:
        pruned = df
    w2 = Window.partitionBy(domain_col).orderBy(*order)
    return (
        pruned.withColumn(
            "domain_rank", F.row_number().over(w2).cast("long")
        )
        .filter(F.col("domain_rank") <= n_per_domain)
    )


def token_budget_select(
    df: DataFrame,
    group_col: str,
    budget: int,
    len_col: str,
    order_cols: list | None = None,
    id_col: str = "doc_id",
    presplit: int = 0,
) -> DataFrame:
    """Greedy token-budget selection: walk each group's rows in
    preference order and keep them while the running token total stays
    within ``budget`` — the "give me the best 1B tokens per language"
    mixture primitive. A row is kept iff the cumulative ``len_col``
    INCLUDING it is <= budget (the first over-budget row and everything
    after it are dropped; a later shorter row never back-fills, keeping
    the selection a prefix and therefore stable under re-runs).

    Rows order by ``order_cols`` + ``id_col`` ascending (deterministic
    tiebreak); the output carries ``cum_tokens`` (the running total
    including the row). NULL or negative lengths raise — a silent 0
    would quietly admit unbounded rows.

    Scale shape: one per-group window (cumulative sum). A prefix sum is
    NOT mergeable the way a top-N cap is, but a safe pre-prune exists
    when ``presplit`` > 0: within any (group, hash-salt) bucket, a
    row's bucket-prefix-sum is a LOWER bound on its true prefix sum
    (the bucket holds a subset of its true predecessors), so rows whose
    bucket cumsum already exceeds the budget can be dropped before the
    exact pass. Bounded survivors per bucket ~= budget / typical_len —
    worth it when the budget cuts deep into a skewed group; leave 0
    when most rows survive anyway (the default: the extra shuffle
    costs more than it saves).
    """
    reserved = {"_salt", "_len", "_bc", "cum_tokens"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"token_budget_select: input columns {sorted(reserved)} "
            "collide with the operator's working/output names — "
            "rename them"
        )
    order = list(order_cols or []) + [F.col(id_col).asc()]
    lc = F.col(len_col).cast("long")
    checked = F.when(
        lc.isNull() | (lc < 0),
        F.raise_error(
            F.concat(
                F.lit(f"token_budget_select: {len_col} NULL/negative at "),
                F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(lc)
    df = df.withColumn("_len", checked)
    if presplit:
        w1 = (
            Window.partitionBy(group_col, "_salt")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        df = (
            df.withColumn(
                "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(presplit))
            )
            .withColumn("_bc", F.sum("_len").over(w1))
            .filter(F.col("_bc") <= budget)
            .drop("_salt", "_bc")
        )
    w2 = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("cum_tokens", F.sum("_len").over(w2))
        .filter(F.col("cum_tokens") <= budget)
        .drop("_len")
    )


def diverse_topk(
    df: DataFrame,
    score_col: str,
    k: int,
    group_col: str,
    m_per_group: int,
    id_col: str = "doc_id",
    presplit: int = 32,
) -> DataFrame:
    """Global best-k selection under a per-group diversity cap: the ``k``
    highest-scoring rows overall with at most ``m_per_group`` from any
    one group — "the best 100 documents, but no more than 5 per domain"
    (eval-set and few-shot-pool curation; r9). Equivalent to the greedy
    walk down the global score order that skips rows whose group is
    already full: within one group, the only rows that can fill the
    group before a given row are its HIGHER-scoring group-mates, so a
    row survives the greedy walk iff it is within its group's top-m AND
    within the global top-k of those survivors — which is exactly the
    two-stage plan below.

    Deterministic: ``score_col`` desc with ``id_col`` asc tiebreak at
    both stages. Output adds ``pick_rank`` (1-based global rank).

    Scale shape: the per-group cap IS ``domain_cap`` (salted mergeable
    pre-prune: <= presplit * m rows per group reach the exact window,
    independent of group skew); the global cut is orderBy().limit(k),
    which Spark plans as TakeOrderedAndProject (per-partition k-row
    heaps merged on the driver — no global sort, no single-reducer
    window over the survivors). The final rank window runs over k rows.
    """
    if k < 1 or m_per_group < 1:
        raise ValueError(
            f"diverse_topk: k and m_per_group must be >= 1 "
            f"(got k={k}, m_per_group={m_per_group})"
        )
    if "pick_rank" in df.columns:
        raise ValueError(
            "diverse_topk: input column 'pick_rank' collides with the "
            "operator's output name — rename it"
        )
    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    capped = domain_cap(
        df, group_col, m_per_group,
        order_cols=[F.col(score_col).desc()],
        id_col=id_col, presplit=presplit,
    ).drop("domain_rank")
    picked = capped.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return picked.withColumn(
        "pick_rank", F.row_number().over(w).cast("long")
    )


# ------------------------------------------------- DSIR importance resampling

# Feature-hash width default: 1024 buckets is the published recipe's
# order of magnitude (DSIR uses 10^4 for full CC; the ratio table stays
# broadcast-trivial at either size).
DSIR_BUCKETS = 1024
# log-ratios are fixed-point MICRO-NATS (floor(1e6 * ln ratio) as
# int64): one floor per BUCKET absorbs the engines' <=1-ulp ln()
# difference (flip probability ~1e-9 per bucket), and every per-doc
# sum after it is integer arithmetic — order-free, engine-exact.
DSIR_LR_SCALE = 1_000_000


# The one gram hash family, stamped into every fit table as its
# ``hash_fn`` provenance column.
GRAM_HASH = "crc32"


def _gram_bucket_expr(tokens_col: str, n_buckets: int) -> F.Column:
    """Unigram+bigram hashed-feature buckets over an ALREADY-TOKENIZED
    array column, as ONE array expression (narrow, JVM): tokens ++
    space-joined adjacent pairs, each hashed to

        bucket(g) = crc32(g) % n_buckets

    Spark's codegen'd ``crc32`` over the gram's UTF-8 bytes, equal to
    Python's ``zlib.crc32(g.encode())`` — native speed, and any engine
    (the DuckDB oracles fold it from a 256-entry table) re-derives it.
    Hashing inside the array means the explode that follows carries
    INTs, not gram strings — the shuffle is (id, bucket) pairs with
    map-side combine, never text. Callers stage the tokenizer as a
    column first (the char_entropy pattern: Catalyst does not CSE a
    tokenizer repeated across expression sites).
    """
    t = tokens_col
    return F.expr(
        f"transform("
        f"  concat("
        f"    {t},"
        f"    zip_with(slice({t}, 1, greatest(size({t}) - 1, 0)),"
        f"             slice({t}, 2, greatest(size({t}) - 1, 0)),"
        f"             (a, b) -> concat(a, ' ', b))"
        f"  ),"
        f"  g -> crc32(g) % {n_buckets}"
        f")"
    )


def _gram_bucket_occurrences(
    df: DataFrame, text_col: str, id_col: str | None, n_buckets: int,
) -> DataFrame:
    """(id, bucket) — or bucket-only when ``id_col`` is None — one row
    per gram OCCURRENCE (multiplicity matters to the weights)."""
    cols = ([F.col(id_col)] if id_col else []) + [
        ws_tokens(text_col).alias("_t")
    ]
    staged = df.select(*cols)
    return staged.select(
        *([F.col(id_col)] if id_col else []),
        F.explode(_gram_bucket_expr("_t", n_buckets)).alias("bucket"),
    )


def dsir_fit(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """The FIT pass of DSIR (Xie et al., NeurIPS 2023 — public
    recipe): estimate the hashed unigram+bigram bucket distributions
    of the ``target`` and ``raw`` corpora and return the per-bucket
    log importance ratio

        lr(b) = floor(1e6 * ln(p_target(b) / p_raw(b)))

    as an EXACTLY-n_buckets-row table (bucket, lr) with add-one
    smoothing (p_b = (count_b + 1) / (total + B)); buckets unseen in
    either corpus get the smoothed-floor ratio, so the table is total
    over the feature space and can be saved and re-applied to any
    later batch (the published fit-once / apply-many shape). The table
    carries its provenance (``hash_fn`` = GRAM_HASH and ``n_buckets``
    columns) so a later apply with another bucket count, or a table
    fitted by another hash family, raises instead of silently
    mis-bucketing.

    Scale shape: each corpus is scanned ONCE — a narrow JVM gram
    projection feeding a bucket-keyed count whose map-side combine
    bounds the shuffle at O(n_buckets x partitions). Totals are
    global window sums over the n_buckets-row table (a separate
    .agg() would be a second consumer of the gram subtree and re-scan
    the corpus; the single-partition WindowExec is bounded by
    n_buckets rows by construction — the one place a global window is
    the scale-CORRECT choice).
    """
    if n_buckets < 2 or n_buckets > 1_000_000:
        raise ValueError(
            f"dsir_fit: n_buckets must be in [2, 1e6], got {n_buckets}"
        )
    raw_b = (
        _gram_bucket_occurrences(raw, text_col, None, n_buckets)
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("rb"))
    )
    tgt_b = (
        _gram_bucket_occurrences(target, text_col, None, n_buckets)
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("tb"))
    )
    return _dsir_ratio_from_counts(
        raw.sparkSession, raw_b.join(tgt_b, "bucket", "full"), n_buckets
    )


def _dsir_ratio_from_counts(
    spark, counts_b: DataFrame, n_buckets: int
) -> DataFrame:
    """dsir_fit's smoothing/total/ratio tail over prebuilt per-bucket
    occurrence counts (bucket, rb, tb; absent buckets and NULL counts
    mean zero) — split out (r13) so the fused single-scan fit in
    ``dsir_weights`` shares the EXACT expressions (same smoothing,
    same window totals, same floor) with the two-corpus fit above."""
    b = F.lit(float(n_buckets))
    domain = spark.range(n_buckets).select(
        F.col("id").alias("bucket")
    )
    wall = Window.partitionBy()
    stats = (
        domain.join(counts_b, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("rb"), F.lit(0)).alias("rb"),
            F.coalesce(F.col("tb"), F.lit(0)).alias("tb"),
        )
        .select(
            "bucket", "rb", "tb",
            F.sum("rb").over(wall).alias("rtot"),
            F.sum("tb").over(wall).alias("ttot"),
        )
    )
    return stats.select(
        "bucket",
        F.floor(
            F.lit(float(DSIR_LR_SCALE))
            * F.log(
                ((F.col("tb") + F.lit(1.0)) / (F.col("ttot") + b))
                / ((F.col("rb") + F.lit(1.0)) / (F.col("rtot") + b))
            )
        ).cast("long").alias("lr"),
        F.lit(GRAM_HASH).alias("hash_fn"),
        F.lit(n_buckets).cast("int").alias("n_buckets"),
    )


def _guard_kernel_provenance(
    table: DataFrame, value_col: str, n_buckets: int, who: str,
) -> DataFrame:
    """Fit/apply consistency guard for saved fit tables: when a table
    carries provenance columns (hash_fn / n_buckets — dsir_fit and
    hash_nb_fit stamp both), a table fitted by another hash family
    (every table saved before crc32 became the one family stamps
    'poly' or 'xxhash64') or with another n_buckets raises per-row
    instead of silently mis-bucketing; the check rides the existing
    ``value_col`` projection (lazy, no extra action) and the provenance
    columns are dropped after. Tables without the columns (external
    models) pass unguarded."""
    checks = []
    if "hash_fn" in table.columns:
        checks.append(
            (F.col("hash_fn") != F.lit(GRAM_HASH),
             F.concat(F.lit(f"{who}: table was fitted with hash_fn="),
                      F.col("hash_fn"),
                      F.lit(f" but grams are bucketed by {GRAM_HASH} — "
                            "refit the table")))
        )
    if "n_buckets" in table.columns:
        checks.append(
            (F.col("n_buckets") != F.lit(n_buckets),
             F.concat(F.lit(f"{who}: table was fitted with n_buckets="),
                      F.col("n_buckets").cast("string"),
                      F.lit(f" but apply uses {n_buckets}")))
        )
    guarded = F.col(value_col)
    for cond, msg in reversed(checks):
        guarded = F.when(cond, F.raise_error(msg).cast("long")) \
            .otherwise(guarded)
    return table.withColumn(value_col, guarded) \
        .drop("hash_fn", "n_buckets")


def dsir_weights(
    raw: DataFrame,
    target: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
    ratio: DataFrame | None = None,
    target_cond: "F.Column | None" = None,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023 — public recipe): score every ``raw`` document by how much
    more likely its hashed-n-gram bag is under the ``target``
    distribution than under the raw distribution, so a cheap bag-of-
    n-grams proxy steers corpus selection toward the target domain.

        logw(d) = sum over gram occurrences g in d of
                  [ln p_target(bucket(g)) - ln p_raw(bucket(g))]

    Pass either ``target`` (fit runs inline via dsir_fit) or a saved
    ``ratio`` table from a previous dsir_fit — the fit-once /
    apply-many split the published recipe assumes at scale. The
    published sampler adds Gumbel noise before the top-k cut; this
    variant is DETERMINISTIC (pure top-k by weight — callers wanting
    the stochastic flavor can add permuted_order-seeded noise, the
    same trade stratified_sample makes). Empty documents carry no
    n-gram evidence and are absent from the output (weight undefined,
    not 0).

    Output: (id_col, logw_micro, n_grams) — logw in integer micro-nats
    (DSIR_LR_SCALE), n_grams the occurrence count the sum ran over.

    Scale shape (100 TB): the apply pass scans ``raw`` once — narrow
    JVM gram projection, per-doc (id, bucket) counts (an int-pair
    shuffle with map-side combine), broadcast join against the
    n_buckets-row ratio, one more map-side-combined groupBy on id.
    With ``target`` given, the inline fit adds one scan of each corpus
    (bucket-only aggregations — see dsir_fit); the raw corpus is thus
    read twice, fit + apply, exactly the two passes the reference
    recipe makes, and persisting the ratio between runs removes the
    fit pass entirely. Nothing all-pairs; the only single-partition
    stage holds n_buckets rows.
    """
    if sum(x is not None for x in (target, ratio, target_cond)) != 1:
        raise ValueError(
            "dsir_weights: pass exactly one of target=, ratio= or "
            "target_cond="
        )
    if n_buckets < 2 or n_buckets > 1_000_000:
        raise ValueError(
            f"dsir_weights: n_buckets must be in [2, 1e6], got {n_buckets}"
        )
    if target_cond is not None:
        # r13 fused fit (guide §2.3 "compute once", VERDICT r12 #5):
        # when the target IS a predicate over ``raw`` (the gate shape:
        # target = raw.filter(lang = 'en')), the fit's two corpus
        # scans collapse into ONE conditional aggregation — rb counts
        # every gram occurrence, tb counts those in flagged docs
        # (count of a WHEN is null-skipping, so a NULL predicate
        # excludes the doc exactly like raw.filter would). The apply
        # pass stays a separate scan: 2 gram passes total instead of
        # 3, with no new intermediate. (A doc-level persisted count
        # table serving fit AND apply off one scan was built and
        # A/B-measured FIRST: 2.36s -> 3.85s — the 2.7M-row persist +
        # its extra full-table shuffle cost more than the saved gram
        # pass. Rejected; this shape keeps the fit's shuffles bounded
        # at n_buckets rows per partition.) The fit-once/apply-many
        # path (ratio=) remains the 100-TB recommendation when one
        # ratio serves many batches.
        staged = raw.select(
            target_cond.alias("_tgt"), ws_tokens(text_col).alias("_t")
        )
        occ = staged.select(
            "_tgt",
            F.explode(_gram_bucket_expr("_t", n_buckets)).alias("bucket"),
        )
        counts_b = occ.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("rb"),
            F.count(F.when(F.col("_tgt"), F.lit(1))).alias("tb"),
        )
        ratio = _dsir_ratio_from_counts(raw.sparkSession, counts_b, n_buckets)
        # fall through to the shared apply below (provenance guard
        # included), exactly like an inline target= fit
    # A saved ratio= table must come from a crc32 fit with the SAME
    # n_buckets — the apply hashes grams here, and a mismatched table
    # silently mis-buckets. dsir_fit stamps both as provenance columns
    # and the guard below raises on mismatch; tables without the
    # columns pass unguarded.
    if ratio is None:
        ratio = dsir_fit(raw, target, text_col, n_buckets)
    else:
        missing = {"bucket", "lr"} - set(ratio.columns)
        if missing:
            raise ValueError(
                f"dsir_weights: ratio= lacks columns {sorted(missing)}"
                " — expected dsir_fit's (bucket, lr) shape"
            )
    ratio = _guard_kernel_provenance(ratio, "lr", n_buckets, "dsir_weights")
    doc_counts = (
        _gram_bucket_occurrences(raw, text_col, id_col, n_buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        doc_counts.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("cnt") * F.col("lr")).cast("long")
            .alias("logw_micro"),
            F.sum("cnt").cast("long").alias("n_grams"),
        )
    )


# ------------------------------------------------ weighted mixture interleave

def source_rank(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    rank_col: str = "src_rank",
) -> DataFrame:
    """Distributed 1-based rank of each row WITHIN its source, ordered
    by ``id_col`` — the two-pass zipWithIndex pattern
    (``layout.write_training_shards``) extended to per-source offsets,
    for sources too large to funnel through one reducer.

    One range exchange on (source, id) + sort within partitions pins a
    layout where each source's rows are contiguous and globally ordered
    across partitions; a tiny per-(partition, source) count collect
    (<= shuffle.partitions * n_sources rows) yields each source's
    running offset per partition; an Arrow ``mapInPandas`` pass over
    the SAME pinned partitions stamps rank = source offset + local
    position. No window, no per-source reducer — the heaviest source
    spreads over as many partitions as its volume needs.

    Output: input columns + ``rank_col`` (long, 1-based per source).
    Feed it to ``mixture_order(..., rank_col=...)`` — the keys are
    bit-identical to the window path (tested). The result carries the
    pinned range layout as ``result._xe_cached``; unpersist it after
    materializing (mixture_order propagates the handle). Requires a
    DETERMINISTIC input — see the in-body contract note.
    """
    from pyspark import StorageLevel, TaskContext
    from pyspark.sql import types as T

    if rank_col in df.columns:
        raise ValueError(
            f"source_rank: column {rank_col!r} already exists in input"
        )
    asc = [F.col(source_col).asc(), F.col(id_col).asc()]
    ranged = (
        df.repartitionByRange(*asc)
        .sortWithinPartitions(*asc)
        .withColumn("_pid", F.spark_partition_id())
        # both passes (counts, then stamp) must see ONE partition
        # layout; persist pins it
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        counts = (
            ranged.groupBy("_pid", source_col).count().collect()
        )
        # per-source running offset in partition order: rows of source
        # s in partition p are preceded by s's rows in partitions < p
        offsets: dict[tuple[int, object], int] = {}
        acc: dict[object, int] = {}
        for r in sorted(counts, key=lambda r: int(r["_pid"])):
            src = r[source_col]
            offsets[(int(r["_pid"]), src)] = acc.get(src, 0)
            acc[src] = acc.get(src, 0) + int(r["count"])
        out_schema = T.StructType(
            [f for f in ranged.schema.fields if f.name != "_pid"]
            + [T.StructField(rank_col, T.LongType())]
        )
        data_cols = [f.name for f in out_schema.fields
                     if f.name != rank_col]

        def stamp(batches):
            import numpy as np

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            seen: dict[object, int] = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                if (pdf["_pid"] != pid).any():
                    raise RuntimeError(
                        "cached partition id drifted from task "
                        "partition id"
                    )
                out = pdf[data_cols].copy()
                # contiguous runs per source (sorted layout): rank =
                # global offset + position within this partition's run
                srcs = pdf[source_col].to_numpy()
                local = np.empty(len(pdf), dtype=np.int64)
                i = 0
                while i < len(srcs):
                    j = i
                    while j < len(srcs) and srcs[j] == srcs[i]:
                        j += 1
                    base = offsets.get((pid, srcs[i]), 0) \
                        + seen.get(srcs[i], 0)
                    local[i:j] = np.arange(
                        base + 1, base + 1 + (j - i), dtype=np.int64
                    )
                    seen[srcs[i]] = seen.get(srcs[i], 0) + (j - i)
                    i = j
                out[rank_col] = local
                yield out

        out = ranged.mapInPandas(stamp, schema=out_schema)
        # Cache-release contract (r11, the house _xe_cached
        # convention): the pinned range layout rides on the result —
        # after materializing the output (write/collect), call
        # result._xe_cached.unpersist() to free the MEMORY_AND_DISK
        # copy; at mixture scale that copy IS the corpus, and a
        # long-lived driver leaks one per call otherwise.
        # mixture_order propagates the handle through its
        # composition. The persist must stay in place until then:
        # both passes (counts, stamp) saw ONE partition layout, and
        # if an evicted partition recomputes, the _pid guard catches
        # partition-id drift — but MEMBERSHIP drift (a
        # nondeterministic input routing rows differently on
        # recompute) is undetectable, so the input must be
        # deterministic (parquet scans and pure projections are;
        # unseeded rand()/sample() are not; localCheckpoint the
        # input first if in doubt).
        out._xe_cached = ranged
        return out
    except Exception:
        ranged.unpersist()
        raise


def mixture_order(
    df: DataFrame,
    weights: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    rank_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted interleave of a multi-source corpus — the
    data-loader mixing schedule (sample source s with probability
    proportional to w_s) materialized as a total order, so a training
    run streams one shard sequence and sees sources arrive in their
    mixture ratio from step one (no per-epoch reshuffle service).

    Each source's i-th document (1-based rank by ``id_col``) lands at
    interleave key (2i - 1) * (L / w_s) with L = lcm(weights): source
    ranks spread evenly over a virtual axis where source s advances
    L/w_s per document — the classic weighted round-robin with
    CENTERED slots, all INTEGER arithmetic (no FP, engine-exact). Two
    sources can share a key; (key, source, id) is the documented total
    order. Sources missing from ``weights`` (or weighted 0) are
    dropped — the mixture IS the filter.

    Output: input columns + ``src_rank`` (1-based within source) +
    ``interleave_key`` — identical on all three paths (window,
    rank_col='src_rank', custom rank_col: the caller's rank column is
    CONSUMED by the rename, r11). Consumers range-partition /
    TakeOrdered on the key; a full global row_number would be a
    single-reducer window and is deliberately NOT emitted.

    Scale shape: one shuffle keyed by ``source_col`` for the per-source
    rank window — a reducer per source, fine for the tens-of-sources
    mixtures this models. For sources too large for one reducer, pass a
    precomputed 1-based per-source rank via ``rank_col`` — the window
    is skipped entirely; ``source_rank`` (above) produces exactly that
    column with the shard writer's two-pass distributed rank (range
    partition, count, broadcast offsets, local positions) and its keys
    are bit-identical to the window path. A caller-supplied rank is
    validated per-row: NULL or < 1 raises (a 0-based rank would
    silently shift every slot).

    Overflow guard: keys must stay int64 — raised per-row when
    src_rank > 2^61 / L (the shared _checked_id/raise_error idiom), and
    lcm itself is capped at 2^20 (mixture ratios are small integers; a
    runaway lcm means the weights are wrong, not the guard).
    """
    from math import lcm

    pos = {s: int(w) for s, w in weights.items() if int(w) > 0}
    if not pos:
        raise ValueError("mixture_order: no source has positive weight")
    if any(int(w) != w for w in weights.values()):
        raise ValueError("mixture_order: weights must be integers")
    big = lcm(*pos.values())
    if big > (1 << 20):
        raise ValueError(
            f"mixture_order: lcm(weights) = {big} > 2^20 — mixture "
            "ratios should be small integers (reduce them)"
        )
    rank_limit = (1 << 61) // big
    if "interleave_key" in df.columns:
        raise ValueError(
            "mixture_order: input already has an 'interleave_key' "
            "column — rename it first"
        )
    if "src_rank" in df.columns and rank_col != "src_rank":
        raise ValueError(
            "mixture_order: input already has a 'src_rank' column — "
            "pass rank_col='src_rank' to use it as the precomputed "
            "rank, or rename it"
        )
    step = F.create_map(
        *[x for s, w in sorted(pos.items())
          for x in (F.lit(s), F.lit(big // w))]
    )
    kept = df.filter(F.col(source_col).isin(list(pos)))
    if rank_col is None:
        w_rank = Window.partitionBy(source_col).orderBy(
            F.col(id_col).asc()
        )
        ranked = kept.withColumn(
            "src_rank", F.row_number().over(w_rank).cast("long")
        )
    else:
        if rank_col not in df.columns:
            raise ValueError(
                f"mixture_order: rank_col {rank_col!r} not in input "
                f"columns {df.columns}"
            )
        # caller-supplied distributed rank (source_rank's two-pass
        # layout is the named producer): normalize the name (the
        # original column DROPS — r11 — so all three paths emit the
        # same schema: input columns + src_rank + interleave_key),
        # validate per-row — a NULL or non-positive rank is a caller
        # bug that would silently shift slots, so it raises at
        # execution
        ranked = kept if rank_col == "src_rank" else (
            kept.withColumn("src_rank", F.col(rank_col).cast("long"))
            .drop(rank_col)
        )
        ranked = ranked.withColumn(
            "src_rank",
            F.when(
                F.col("src_rank").isNull() | (F.col("src_rank") < 1),
                F.raise_error(F.concat(
                    F.lit("mixture_order: precomputed rank must be a "
                          "1-based positive integer, got "),
                    F.coalesce(F.col("src_rank").cast("string"),
                               F.lit("NULL")),
                )).cast("long"),
            ).otherwise(F.col("src_rank").cast("long")),
        )
    guarded = F.when(
        F.col("src_rank") > rank_limit,
        F.raise_error(F.concat(
            F.lit(f"mixture_order: src_rank exceeds int64-safe bound "
                  f"{rank_limit} for lcm={big}: "),
            F.col("src_rank").cast("string"),
        )).cast("long"),
    ).otherwise(
        (F.lit(2) * F.col("src_rank") - F.lit(1))
        * step[F.col(source_col)]
    )
    out = ranked.withColumn("interleave_key", guarded.cast("long"))
    # propagate a composed source_rank's pinned-cache handle so the
    # caller can release it after materializing (see source_rank's
    # cache-release contract)
    cached = getattr(df, "_xe_cached", None)
    if cached is not None:
        out._xe_cached = cached
    return out
