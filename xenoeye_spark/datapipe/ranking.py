"""Lexical ranking + cardinality sketching for corpus pipelines.

- bm25_score  : Okapi BM25 of a fixed query-term set over the corpus
- vocab_topk  : global token vocabulary, top-K by frequency
- kmv_distinct: K-Minimum-Values distinct-count sketch with a
                deterministic, SQL-re-derivable hash

All three are pure DataFrame compositions: explode -> hash-aggregate
with map-side partial combine, tiny side results broadcast back. No
Python in the hot path.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xenoeye_spark.datapipe.util import WS_TOKENS_SQL as _TOKENIZE
from xenoeye_spark.datapipe.util import ws_tokens

# the 31/2^30-35 char polynomial (simhash60's first family): every
# intermediate stays < 2^60, exact in int64, and DuckDB re-derives it
# verbatim.
KMV_P, KMV_M = 1_073_741_789, 31
# KMV needs UNIFORM hashes; the raw polynomial maps structured token
# families ("w1x","w2x",...) onto tight arithmetic progressions (step 31)
# and the k-th minimum lands 5x off. A Knuth multiplicative finalizer
# (2654435761 = floor(2^32/phi)) spreads any progression across [0, P)
# (three-distance theorem) — measured <=4% error at k=64 on adversarial
# families vs 527% raw. h < 2^30 so h * 2654435761 < 2^62: int64-exact,
# and DuckDB re-derives it verbatim.
KMV_MIX = 2_654_435_761


def kmv_poly_sql(col: str) -> str:
    """The 31-multiplier char polynomial mod KMV_P of string ``col``, as
    a Spark-SQL expression (an interpreted per-char fold): the one
    spelling behind ``kmv_token_hashes`` and the Count-Min sketch."""
    return (
        f"aggregate(transform(split({col}, ''), ch -> ascii(ch)), 0L, "
        f"(acc, x) -> (acc * {KMV_M} + x) % {KMV_P})"
    )


def kmv_token_hashes(text_col: str) -> "F.Column":
    """The deterministic token->hash expression (31-multiplier char
    polynomial * Knuth mix, mod P) — the ONE definition shared by batch
    ``kmv_distinct`` and ``streaming.kmv_stream``, so the stream
    sketches exactly what the batch operator sketches (and the DuckDB
    oracle mirrors verbatim)."""
    return F.expr(
        f"transform({_TOKENIZE.format(c=text_col)}, "
        f"t -> ({kmv_poly_sql('t')}) * {KMV_MIX} % {KMV_P})"
    )


def _toks(text_col: str):
    return ws_tokens(text_col)


def bm25_score(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 (Robertson et al., TREC-3; public formula) of a fixed
    term set against every document.

    score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*|d|/avgdl))
    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))

    Plan shape: per-doc length from expressions (no shuffle); term
    frequencies by filtering tokens to the query set BEFORE exploding
    (the explode carries only query-term hits, not the corpus's token
    stream); df and avgdl are scalar aggregates joined back by broadcast
    (cross-join of one row / |terms| rows). One narrow shuffle on
    (doc, term); scales linearly in corpus size.

    Output: (id_col, bm25) for docs with score > 0, plus matched term
    count — callers top-K it.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = _toks(text_col)
    base = docs.select(
        F.col(id_col),
        F.size(toks).cast("double").alias("_dl"),
        F.filter(toks, lambda t: t.isin(list(query_terms))).alias("_qt"),
    )
    n_and_avg = base.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    tf = (
        base.select(F.col(id_col), "_dl", F.explode("_qt").alias("term"))
        .groupBy(id_col, "_dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("_df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_and_avg))
        .select(
            F.col(id_col),
            F.col("term"),
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
                )
                * F.col("tf") * (k1 + 1.0)
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
                )
            ).alias("_s"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.sum("_s"), 6).alias("bm25"),
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
    )


def vocab_topk(
    docs: DataFrame,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Global top-K vocabulary: token -> corpus frequency + document
    frequency, ordered by (count desc, token asc) for determinism.

    One explode + one hash aggregate; Catalyst's partial aggregation
    collapses each task's token stream to its local vocabulary before
    the shuffle, so shuffle volume is |vocab| per task, not |tokens| —
    the property that makes vocabulary building feasible at 100 TB.
    """
    toks = _toks(text_col)
    return (
        docs.select(F.col(id_col), F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(F.col(id_col)).alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(k)
    )


def bpe_pair_counts(
    docs: DataFrame,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """One round of BPE tokenizer training at corpus scale: adjacent
    character-pair frequencies, the statistic every merge step of
    byte-pair encoding maximizes (Sennrich et al. 2016, public
    algorithm; Gage 1994 original).

    The scale-critical trick is the classic two-level aggregation: BPE
    counts pairs over the WORD-FREQUENCY TABLE, not the raw token
    stream — so the corpus-size pass is one word count (map-side
    combined, |vocab| shuffle keys), and the quadratic-ish char-pair
    explode runs over DISTINCT words only (|vocab| rows, corpus-size-
    independent). At 100 TB the second stage costs the same as at
    100 GB. Pair occurrences within a word count once each (the
    standard formulation), weighted by the word's corpus frequency.

    Output: (a, b, pair_count), the top ``k`` by (count desc, a, b) —
    deterministic total order, so the driver oracle re-derives the
    exact row set.
    """
    words = docs.select(F.explode(_toks(text_col)).alias("word"))
    # single-char words have no pairs — and Spark's sequence(1, 0)
    # would generate a DESCENDING [1, 0], not an empty array, so the
    # length guard is load-bearing, not cosmetic
    wc = (
        words.groupBy("word").agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.length("word") >= 2)
    )
    pairs = wc.select(
        F.col("_cnt"),
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(word) - 1), "
                "i -> struct(substr(word, i, 1) AS a, "
                "substr(word, i + 1, 1) AS b))"
            )
        ).alias("_p"),
    )
    return (
        pairs.groupBy(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .agg(F.sum("_cnt").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("a").asc(),
                 F.col("b").asc())
        .limit(k)
    )


def kmv_distinct(
    docs: DataFrame,
    group_col: str,
    k: int = 256,
    text_col: str = "text",
    prefilter_factor: int | None = 8,
) -> DataFrame:
    """K-Minimum-Values distinct-token estimate per group (Bar-Yossef et
    al. 2002, public sketch): hash every distinct token into [0, P) with
    the 31-multiplier char polynomial, keep each group's k smallest
    distinct hash values; with h_k the k-th smallest,

        estimate = (k - 1) * P / h_k        (|distinct| >= k)
        estimate = |distinct hashes|         (under-full sketch: exact)

    The polynomial is deterministic and SQL-expressible, so unlike a
    HyperLogLog register file the WHOLE sketch — hashes, k-th minimum,
    estimate — is re-derivable bit-for-bit by an independent engine; the
    driver oracle does exactly that. Collisions only lower the distinct-
    hash count (both engines identically).

    Plan shape: explode -> distinct(group, hash) with map-side partial
    dedup -> coarse per-group prefilter -> one per-group ranking window.
    Without the prefilter the window sorts a group's ENTIRE distinct
    vocabulary on one reducer — the operator's bottleneck at web-corpus
    group sizes. ``prefilter_factor`` (default 8) bounds that: hashes are
    ~uniform on [0, P), so the k minima of a group with ``n`` distinct
    hashes lie under ~``k/n * P``; keeping only hashes below
    ``factor * k / n * P`` (one map-side-combined groupBy-count + a
    broadcast threshold join) sends ~``factor * k`` rows per group to the
    ranking reducer instead of ``n``. Selection is EXACT: any group the
    coarse cut leaves short of ``min(k, n)`` survivors re-enters in full
    (Chernoff-small probability for factor >= 4 — the same fallback as
    ``stratified_sample``), and ``n_distinct_exact`` comes from the
    count table, not the window, so it sees every hash either way.
    ``prefilter_factor=None`` disables (the pre-round-5 single-window
    plan). Output: (group_col, n_distinct_exact, kmv_k, kmv_estimate).

    When the prefilter runs, the distinct-hash table is persisted (read
    three times); long-lived sessions release it via
    ``result._xe_cached.unpersist()``.
    """
    hashed = (
        docs.select(
            F.col(group_col), F.explode(kmv_token_hashes(text_col)).alias("_h")
        )
        .distinct()
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy(group_col).orderBy(F.col("_h").asc())

    def _plain(src):
        # single-pass plan: the window sees every distinct hash, so the
        # exact count falls out of max(_r) for free
        ranked = src.select(
            group_col, "_h", F.row_number().over(w_all).alias("_r")
        )
        return (
            ranked.groupBy(group_col)
            .agg(
                F.max("_r").cast("long").alias("n_distinct_exact"),
                F.max(F.when(F.col("_r") == k, F.col("_h"))).alias("_hk"),
            )
            .select(
                F.col(group_col),
                "n_distinct_exact",
                F.lit(k).cast("long").alias("kmv_k"),
                F.when(
                    F.col("_hk").isNotNull(),
                    F.round((k - 1) * float(KMV_P) / F.col("_hk"), 6),
                )
                .otherwise(F.col("n_distinct_exact").cast("double"))
                .alias("kmv_estimate"),
            )
        )

    if prefilter_factor is None or prefilter_factor <= 0:
        return _plain(hashed)

    from pyspark import StorageLevel

    from xenoeye_spark.datapipe.util import env_int

    hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)
    # size-adaptive prefilter bypass (r12 optimization, the CC fast-path
    # decision shape): the prefilter exists so a web-scale group's
    # distinct vocabulary never sorts on one ranking reducer, but its
    # broadcast/threshold/fallback machinery is ~2s of pure overhead
    # when the whole distinct-hash table is small (the gate corpus: 620
    # rows). Bound tunable via XE_KMV_LOCAL_ROWS; selection equivalence
    # is the existing test_kmv_prefilter_matches_plain contract. The
    # routing count() fills the persisted table that both paths read,
    # and shuffles nothing but one row per partition.
    local_rows = env_int("XE_KMV_LOCAL_ROWS", 200_000)
    if hashed.count() <= local_rows:
        out = _plain(hashed)
        out._xe_cached = hashed
        return out
    # per-group distinct-hash counts: the prefilter's broadcast table
    # and the source of n_distinct_exact
    counts = hashed.groupBy(group_col).agg(F.count(F.lit(1)).alias("_gn"))
    cut = (
        F.least(
            F.lit(1.0), F.lit(float(prefilter_factor * k)) / F.col("_gn")
        )
        * KMV_P
    ).cast("long")
    # r13 fold (VERDICT r12 #3): the old kept/short machinery scanned
    # the persisted table four times (counts; kept over the pruned
    # join; anti-join of pruned; semi-join of hashed) with two
    # broadcast-of-`short` joins and a union. One conditional
    # aggregation over the counts-joined table yields each group's
    # survivor count directly, and ONE broadcast join + filter selects
    # the same base rows: every hash of a short or NULL group, the
    # below-cut hashes of everyone else. Selection-identical by
    # construction (same cut expression, same short rule
    # survivors < min(k, n)); pinned by the prefilter-equivalence
    # tests, which force this path via XE_KMV_LOCAL_ROWS=0.
    meta = (
        hashed.join(F.broadcast(counts), group_col)
        .groupBy(group_col, "_gn")
        .agg(
            F.count(F.when(F.col("_h") < cut, F.lit(1))).alias("_kn")
        )
        .select(
            group_col, "_gn",
            (
                F.col("_kn")
                < F.least(F.lit(k).cast("long"), F.col("_gn"))
            ).alias("_short"),
        )
    )
    base = (
        # LEFT join: NULL-group rows match nothing (meta has no NULL
        # row — its build join is an equi-join) and survive with
        # _short/_gn NULL; the isNull disjunct re-admits them in full,
        # exactly the old union branch.
        hashed.join(F.broadcast(meta), group_col, "left")
        .filter(
            F.col(group_col).isNull()
            | F.col("_short")
            | (F.col("_h") < cut)
        )
        .select(group_col, "_h")
    )

    ranked = base.select(
        group_col, "_h", F.row_number().over(w_all).alias("_r")
    )
    # n_distinct_exact comes from the count table — the window no longer
    # sees every hash once the prefilter prunes. null-safe join keys the
    # NULL group correctly (an equi-join would drop it).
    hk = ranked.groupBy(group_col).agg(
        F.max(F.when(F.col("_r") == k, F.col("_h"))).alias("_hk")
    )
    c, a = counts.alias("_kmv_c"), hk.alias("_kmv_a")
    out = (
        c.join(
            F.broadcast(a),
            F.col(f"_kmv_c.{group_col}").eqNullSafe(F.col(f"_kmv_a.{group_col}")),
            "left",
        )
        .select(
            F.col(f"_kmv_c.{group_col}").alias(group_col),
            F.col("_gn").cast("long").alias("n_distinct_exact"),
            F.lit(k).cast("long").alias("kmv_k"),
            F.when(
                F.col("_hk").isNotNull(),
                F.round((k - 1) * float(KMV_P) / F.col("_hk"), 6),
            )
            .otherwise(F.col("_gn").cast("double"))
            .alias("kmv_estimate"),
        )
    )
    out._xe_cached = hashed
    return out


def tfidf_topterms(
    docs: DataFrame,
    top_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document keyword extraction: the ``top_n`` terms by
    tf * ln(N/df), ties broken by term asc (deterministic).

    Plan shape: explode -> (doc, term) hash agg with map-side combine
    (the full token stream, unlike bm25's filtered explode — inherent
    when every term is a candidate keyword); df is a term-keyed agg of
    the tf table broadcast back; the per-doc top-n is one row_number
    window keyed by doc. Output: (id_col, term, tfidf, term_rank).
    """
    from pyspark.sql import Window

    toks = _toks(text_col)
    # N rides in-plan as a broadcast one-row scalar (no separate count()
    # action — a second full scan at 100 TB)
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    tf = (
        docs.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("_df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col), "term",
            (F.col("_tf") * F.log(F.col("_n") / F.col("_df"))).alias("_s"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_s").desc(), F.col("term").asc())
    return (
        scored.select(
            id_col, "term", F.round("_s", 6).alias("tfidf"),
            F.row_number().over(w).cast("long").alias("term_rank"),
        )
        .filter(F.col("term_rank") <= top_n)
    )


def bigram_lm_score(
    docs: DataFrame,
    train_docs: DataFrame,
    k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perplexity-style quality scoring with an add-k-smoothed bigram
    language model (the CCNet/KenLM filtering pattern, Wenzek et al.
    2019, reduced to an exactly re-derivable closed form):

        P(w2|w1) = (c2(w1,w2) + k) / (c1(w1) + k * V)
        score(d) = mean over d's bigrams of ln P;  ppl(d) = exp(-score)

    with c2/c1 bigram/unigram counts over the TRAIN corpus and V its
    unigram vocabulary size. Low scores = improbable token sequences =
    the junk a perplexity filter drops.

    Plan shape: the model IS two count tables built with map-side
    combined aggregations; scoring joins eval bigrams against them
    (AQE broadcasts while the model is small; at web scale the c2 join
    keys by bigram hash — an ordinary shuffled join) and one scalar
    (V) rides in-plan as a broadcast row. Deterministic, no sampling,
    no Python — the DuckDB oracle recomputes the whole model.

    Output per eval doc: n_bigrams, n_unseen (bigrams with zero train
    count — the OOV signal), lm_score (mean ln-prob, round 6),
    lm_ppl (round 4). EVERY eval doc appears: docs with < 2 tokens have
    no bigrams, so they come back with n_bigrams = 0, n_unseen = 0 and
    NULL lm_score/lm_ppl (a left join of eval ids against the scored
    rows — without it a caller filtering on ``lm_score IS NULL`` would
    silently see nothing, the round-4 contract bug).
    """
    toks = _toks(text_col)

    def bigrams(df: DataFrame) -> DataFrame:
        staged = df.select(F.col(id_col), toks.alias("_t"))
        bg = F.when(
            F.size("_t") >= 2,
            F.expr(
                "transform(sequence(1, size(_t) - 1), "
                "i -> struct(element_at(_t, i) as w1, "
                "element_at(_t, i + 1) as w2))"
            ),
        ).otherwise(F.expr("cast(array() as array<struct<w1:string,w2:string>>)"))
        return staged.select(
            F.col(id_col), F.explode(bg).alias("_b")
        ).select(id_col, F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))

    tr_bg = bigrams(train_docs)
    c2 = tr_bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c2"))
    # r13 audit note: c1 has TWO consumers (the scoring join and the
    # vocabulary-size aggregate) and Spark re-executes the unigram
    # explode+aggregate per consumer. Sharing it via localCheckpoint
    # and via persist were both A/B-measured at sf0.1 (1.51s old /
    # 1.62s checkpoint / 1.53s persist min) — inside noise, and the
    # RDD-backed checkpoint hides size statistics from AQE's broadcast
    # decision for the scoring join. Left as-is; on a corpus where the
    # unigram pass dominates, persist (which keeps stats) is the knob.
    c1 = (
        train_docs.select(F.explode(toks).alias("w1"))
        .groupBy("w1").agg(F.count(F.lit(1)).alias("_c1"))
    )
    vocab = c1.agg(F.count(F.lit(1)).cast("double").alias("_v"))

    ev = bigrams(docs)
    scored = (
        ev.join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.col("_c2").isNull().cast("long").alias("_unseen"),
            F.log(
                (F.coalesce(F.col("_c2"), F.lit(0)).cast("double") + k)
                / (F.coalesce(F.col("_c1"), F.lit(0)).cast("double")
                   + k * F.col("_v"))
            ).alias("_lp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("_unseen").cast("long").alias("n_unseen"),
        F.round(F.avg("_lp"), 6).alias("lm_score"),
        F.round(F.exp(-F.avg("_lp")), 4).alias("lm_ppl"),
    )
    # re-admit bigram-less eval docs (the aggregate never saw them)
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("n_unseen"), F.lit(0)).cast("long").alias("n_unseen"),
            "lm_score",
            "lm_ppl",
        )
    )


def _bpe_compatible_prefix(
    cands: list, budget: int, min_count: int,
) -> tuple[list[tuple[str, str, int]], bool]:
    """The maximal PREFIX of the (count desc, a, b)-sorted candidate
    pairs that one fold can fuse with sequential-equivalent results:

    - pairwise symbol-disjoint — fusing p1 then neither destroys nor
      creates any (a2, b2) adjacency, so p2's pre-batch count IS its
      post-p1 count;
    - no pair's fused string ``a+b`` equals any admitted element — a
      collision would let p1's fusion mint new symbols that change a
      later admitted pair's count (and that the one-pass fold could
      not re-match the way a sequential second fold would).

    PREFIX, not subset: skipping an incompatible pair and admitting a
    lower-count one would reorder the merge table vs the sequential
    trainer. Any new pair created by fusing p_i has count bounded by
    some old pair outside the prefix, which (untied counts) is
    strictly below every admitted count — so the sequential trainer
    picks exactly this prefix, in this order. Ties at the prefix
    boundary can still diverge (including a tie between a pair MINTED
    by an earlier merge in the batch and the next candidate — the
    minted pair does not exist in the pre-batch counts, so only the
    sequential trainer can see it win the tiebreak); batch=1 keeps
    bit-parity.

    Returns (admitted, exhausted) — exhausted=True when the cut was a
    below-min_count candidate (training is done, not just the batch).
    """
    admitted: list[tuple[str, str, int]] = []
    elems: set[str] = set()
    fuseds: set[str] = set()
    for row in cands[:budget]:
        a, b, n = row["a"], row["b"], int(row["n"])
        if n < min_count:
            return admitted, True
        fused = a + b
        if (
            a in elems or b in elems or fused in elems
            or a in fuseds or b in fuseds
        ):
            return admitted, False
        admitted.append((a, b, n))
        elems.update((a, b))
        fuseds.add(fused)
    return admitted, False


def bpe_train(
    docs: DataFrame,
    n_merges: int = 32,
    text_col: str = "text",
    min_count: int = 1,
    batch: int = 1,
) -> list[tuple[int, str, str, int]]:
    """Full BPE tokenizer training (Sennrich et al. 2016 / Gage 1994,
    public algorithm): iterate ``bpe_pair_counts``'s merge statistic —
    each round takes the most frequent adjacent symbol pair
    (count desc, then (a, b) lexicographic: the same total order as
    ``bpe_pair_counts``) and fuses it everywhere, greedy
    left-to-right non-overlapping within each word.

    Returns the learned merge table ``[(merge_rank, a, b, count)]`` —
    rank 0 first; driver-side by design (a tokenizer's merge table is
    the small artifact of training, like kmeans centroids).

    Scale shape: the corpus-size pass happens ONCE (the word-frequency
    count, map-side combined). Every merge round then runs over the
    DISTINCT-word symbol table — |vocab| rows, corpus-size-independent
    — as (a) one map-side-combined pair-count agg + a tiny collect and
    (b) a narrow in-place fold rewriting each word's symbol array
    (pure JVM ``aggregate``). ``localCheckpoint(eager=False)`` per
    round keeps the plan from growing by one fold per round; the next
    round's count is the materializing action (no extra job).

    ``batch`` bounds how many merges one round may fuse. The default 1
    is the bit-exact sequential trainer (one Spark job per merge —
    honest at n_merges≈32, unusable at a real 32k-merge vocabulary).
    ``batch>1`` admits the compatible PREFIX of each round's top pairs
    (see ``_bpe_compatible_prefix``): identical merge table whenever
    the admitted counts are untied (the standard fast-BPE batching);
    at 32k merges it cuts the round count by roughly the average
    prefix length (measured in SCALE.md §Round-7).

    Stops early when no pair reaches ``min_count`` (or none exists).
    Proof: python-twin equivalence in tests (iterative training is not
    SQL-expressible; ``bpe_pairs`` is the oracled sibling statistic).
    """
    vocab = (
        docs.select(F.explode(ws_tokens(F.col(text_col))).alias("_w"))
        .groupBy("_w").agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            F.expr("split(_w, '')").alias("_syms"),
            F.col("_cnt"),
        )
        .localCheckpoint(eager=True)
    )
    # r13: the r12 "right-size parallelism + AQE off around the merge
    # loop" change is REVERTED. Its same-session A/B had claimed
    # 3.2s -> 2.3s, but the r12 driver bench measured the query 0.85x
    # (2.19 -> 2.57s median), and two independent interleaved A/Bs this
    # round reproduced the driver's verdict on this host (current
    # 3.95/4.40s min vs reverted 3.54/3.78s, identical merge tables):
    # the per-round coalesce checkpoint and the session-global AQE
    # toggle (which also raced with any concurrent query on the shared
    # session — ADVICE r12) cost more than the scheduling overhead they
    # removed. The merge loop runs under the session's normal AQE.
    return _bpe_merge_rounds(vocab, [], n_merges, batch, min_count)


def _bpe_merge_rounds(vocab, merges, n_merges, batch, min_count):
    """The sequential merge loop of ``bpe_train``."""
    while len(merges) < n_merges:
        budget = min(max(batch, 1), n_merges - len(merges))
        top = (
            vocab.filter(F.size("_syms") >= 2)
            .select(
                F.col("_cnt"),
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(_syms) - 1), "
                        "i -> struct(_syms[i-1] AS a, _syms[i] AS b))"
                    )
                ).alias("_p"),
            )
            .groupBy(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
            .agg(F.sum("_cnt").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(budget)
            .collect()
        )
        admitted, exhausted = _bpe_compatible_prefix(top, budget, min_count)
        if not admitted:
            break
        base = len(merges)  # extend is lazy: snapshot BEFORE it appends
        merges.extend(
            (base + i, a, b, n)
            for i, (a, b, n) in enumerate(admitted)
        )
        # one fold fuses the whole batch: symbol-disjointness makes each
        # admitted 'a' the unique map key, and the no-fused-collision
        # rule guarantees a freshly fused symbol never re-keys the map
        pair_map = F.create_map(
            *[
                lit
                for a, b, _ in admitted
                for lit in (
                    F.lit(a),
                    F.struct(F.lit(b).alias("b"), F.lit(a + b).alias("f")),
                )
            ]
        )

        def _step(acc, x):
            hit = F.element_at(pair_map, F.element_at(acc, -1))
            return F.when(
                (F.size(acc) > 0) & (hit["b"] == x),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(hit["f"])
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        merged = F.aggregate(
            F.col("_syms"),
            F.expr("CAST(array() AS array<string>)"),
            _step,
        )
        vocab = vocab.select(
            merged.alias("_syms"), F.col("_cnt")
        ).localCheckpoint(eager=False)
        if exhausted:
            break
    return merges


def bpe_steps(
    docs: DataFrame,
    n_steps: int = 2,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """A fixed number of sequential BPE merge rounds, fully unrolled
    into one declarative plan — the ORACLED sibling of ``bpe_train``
    (whose open-ended iteration is rows-only by nature). Same
    statistic and total order as ``bpe_pair_counts``; same greedy
    leftmost non-overlapping merge as ``bpe_train``'s fold, here
    expressed as a string-level ``replace`` over a sentinel-wrapped
    symbol string so an independent SQL engine re-derives every merge
    and the post-merge pair table bit-for-bit.

    Representation: each word becomes ``\\x01 sym \\x02`` per symbol,
    concatenated (symbols never contain the sentinels — words carrying
    them are dropped identically on both engines). Merging pair (a, b)
    is then ``replace(s, '\\x01a\\x02\\x01b\\x02', '\\x01ab\\x02')``:
    plain leftmost non-overlapping replacement IS the textbook BPE
    merge, and the closed-bracket wrapping makes it boundary-safe
    (a symbol whose suffix equals ``a`` can never false-match).

    Each round's argmax pair attaches as a broadcast one-row cross
    join (no collect; the plan-lint one-row allow-list shape). The
    corpus-scale pass is the single word count — materialized ONCE
    via ``localCheckpoint`` (the bpe_train/dedup_groups pattern;
    without it the unrolled tree re-scans the corpus once per
    pair-count occurrence — 7 scans measured at n_steps=2) — so
    every merge round runs over DISTINCT words only and at 100 TB
    the unrolled rounds cost the same as at 100 GB.

    Output rows: (step=1..n_steps, a, b, pair_count) — the chosen
    merge of each round with its pre-merge count — plus (step=0, a,
    b, pair_count): the top ``k`` adjacent-symbol pairs AFTER all
    merges, by (count desc, a, b).
    """
    S, E = "chr(1)", "chr(2)"
    words = docs.select(F.explode(_toks(text_col)).alias("word"))
    wc = (
        words.groupBy("word").agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.length("word") >= 2)
        .filter(~F.col("word").contains("\x01")
                & ~F.col("word").contains("\x02"))
        .localCheckpoint(eager=False)
    )
    wrapped = wc.select(
        F.col("_cnt"),
        F.expr(
            f"concat({S}, array_join(transform("
            "sequence(1, char_length(word)), i -> substr(word, i, 1)), "
            f"concat({E}, {S})), {E})"
        ).alias("s"),
    )

    def pair_counts(df: DataFrame) -> DataFrame:
        syms = df.select(
            "_cnt",
            F.split(
                F.expr("substring(s, 2, char_length(s) - 2)"),
                "\x02\x01",
            ).alias("_syms"),
        ).filter(F.size("_syms") >= 2)
        return (
            syms.select(
                "_cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(_syms) - 1), "
                        "i -> struct(_syms[i-1] AS a, _syms[i] AS b))"
                    )
                ).alias("_p"),
            )
            .groupBy(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
            .agg(F.sum("_cnt").cast("long").alias("pair_count"))
        )

    out: DataFrame | None = None
    for step in range(1, n_steps + 1):
        top1 = (
            pair_counts(wrapped)
            .orderBy(F.col("pair_count").desc(), F.col("a").asc(),
                     F.col("b").asc())
            .limit(1)
            .select(F.col("a").alias("_ma"), F.col("b").alias("_mb"),
                    F.col("pair_count").alias("_mpc"))
        )
        rec = top1.select(
            F.lit(step).cast("int").alias("step"),
            F.col("_ma").alias("a"), F.col("_mb").alias("b"),
            F.col("_mpc").alias("pair_count"),
        )
        out = rec if out is None else out.unionByName(rec)
        wrapped = wrapped.crossJoin(F.broadcast(top1)).select(
            "_cnt",
            F.expr(
                f"replace(s, concat({S}, _ma, {E}, {S}, _mb, {E}), "
                f"concat({S}, _ma, _mb, {E}))"
            ).alias("s"),
        )
    final = (
        pair_counts(wrapped)
        .orderBy(F.col("pair_count").desc(), F.col("a").asc(),
                 F.col("b").asc())
        .limit(k)
        .select(F.lit(0).cast("int").alias("step"), "a", "b",
                "pair_count")
    )
    return (out.unionByName(final) if out is not None else final)


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained BPE merge table to a corpus: per doc, the token
    count and total symbol count after fusing every learned merge in
    RANK order (the standard encode rule: lowest-rank applicable pair
    first, greedy left-to-right within a word).

    Scale shape: encoding runs once per DISTINCT word (a vectorized
    Arrow kernel over the |vocab|-row word table, merge table
    broadcast via closure — it is tokenizer-sized, KBs), then joins
    back to the per-doc word counts on the word string — the same
    two-level trick as ``bpe_pair_counts``. The corpus-scale passes
    are one word count and one broadcast-ready equi-join; the python
    loop never sees corpus-cardinality data.

    Output: (id_col, n_words, n_bpe_tokens) — rows-only proof (python
    twin in tests; the train loop's merge table is the driver-gated
    sibling surface).
    """
    rank_of = {(a, b): r for r, a, b, _ in merges}

    def encode_word(w: str) -> int:
        syms = list(w)
        while len(syms) >= 2:
            best_rank, best_i = None, None
            for i in range(len(syms) - 1):
                r = rank_of.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            a, b = syms[best_i], syms[best_i + 1]
            # fuse EVERY (a,b) occurrence greedily left-to-right, the
            # same rule train's fold applies corpus-wide per round
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    @F.pandas_udf("long")
    def n_syms_udf(words: pd.Series) -> pd.Series:
        return words.map(encode_word).astype("int64")

    per_doc_word = (
        docs.select(
            F.col(id_col),
            F.explode(ws_tokens(F.col(text_col))).alias("_w"),
        )
        .groupBy(id_col, "_w")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    word_cost = (
        per_doc_word.select("_w").distinct()
        .withColumn("_syms_n", n_syms_udf(F.col("_w")))
    )
    return (
        per_doc_word.join(word_cost, "_w")
        .groupBy(id_col)
        .agg(
            F.sum("_n").cast("long").alias("n_words"),
            F.sum(F.col("_n") * F.col("_syms_n")).cast("long")
            .alias("n_bpe_tokens"),
        )
    )


# ------------------------------------------- hashed linear text classifier

def hash_nb_fit(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """Train a multinomial Naive Bayes classifier over hashed
    unigram+bigram buckets — the classic linear baseline in exactly the
    fasttext shape (a weight per (label, feature-bucket) + a per-label
    bias), so the inference twin ``hash_linear_classify`` also accepts
    any EXTERNALLY trained linear model exported to the same table.
    Public recipe throughout (McCallum & Nigam AAAI'98 workshop NB;
    hashing trick per Weinberger et al. ICML'09); features and hash
    family are the DSIR ones (sampling._gram_bucket_expr: crc32 of each
    gram mod n_buckets).

    Weights are integer micro-nats with add-one smoothing, ONE floor
    per (label, bucket) — the dsir_fit fixed-point contract, so the
    oracle re-derives every weight exactly:

        w(c, b)  = floor(1e6 * ln((cnt_{c,b} + 1) / (tot_c + B)))
        bias(c)  = floor(1e6 * ln((n_docs_c + 1) / (N + L)))

    Returns the TOTAL (L x n_buckets)-row model (label, bucket,
    w_micro, bias_micro): unseen buckets carry the smoothed floor —
    NB's unseen-feature penalty is load-bearing, never zero. The
    model carries its provenance (``hash_fn`` = crc32 and ``n_buckets``
    columns) so classifying with another bucket count, or with a model
    fitted by another hash family, raises instead of silently
    mis-bucketing.

    Scale shape: ONE gram pass over the corpus into (label, bucket)
    counts (map-side combine bounds the shuffle at O(L x B x
    partitions)), one label-column-only scan for the priors (column
    pruning makes it cheap), and window sums over the tiny model table
    for the totals — the dsir_fit pattern, never a corpus re-scan.
    """
    from pyspark.sql import Window

    from xenoeye_spark.datapipe.sampling import (
        DSIR_LR_SCALE, GRAM_HASH, _gram_bucket_occurrences,
    )

    if n_buckets < 2 or n_buckets > 1_000_000:
        raise ValueError(
            f"hash_nb_fit: n_buckets must be in [2, 1e6], got {n_buckets}"
        )
    b = F.lit(float(n_buckets))
    cnts = (
        _gram_bucket_occurrences(docs, text_col, label_col, n_buckets)
        .groupBy(label_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    wlbl = Window.partitionBy(label_col)
    wall = Window.partitionBy()
    labels = (
        docs.groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .select(
            label_col, "ndocs",
            F.sum("ndocs").over(wall).alias("n_total"),
            F.count(F.lit(1)).over(wall).alias("n_labels"),
        )
    )
    domain = labels.crossJoin(
        docs.sparkSession.range(n_buckets).select(F.col("id").alias("bucket"))
    )
    return (
        domain.join(cnts, [label_col, "bucket"], "left")
        .select(
            label_col, "bucket", "ndocs", "n_total", "n_labels",
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
        )
        .withColumn("tot", F.sum("cb").over(wlbl))
        .select(
            F.col(label_col).alias("label"),
            "bucket",
            F.floor(
                F.lit(float(DSIR_LR_SCALE))
                * F.log((F.col("cb") + F.lit(1.0)) / (F.col("tot") + b))
            ).cast("long").alias("w_micro"),
            F.floor(
                F.lit(float(DSIR_LR_SCALE))
                * F.log(
                    (F.col("ndocs") + F.lit(1.0))
                    / (F.col("n_total") + F.col("n_labels"))
                )
            ).cast("long").alias("bias_micro"),
            F.lit(GRAM_HASH).alias("hash_fn"),
            F.lit(n_buckets).cast("int").alias("n_buckets"),
        )
    )


def hash_linear_classify(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Score every document under a hashed linear model (label, bucket,
    w_micro, bias_micro — hash_nb_fit output or any exported linear /
    fasttext-style classifier re-bucketed to the shared hash family,
    ``zlib.crc32(gram.encode()) % n_buckets``)
    and emit the argmax label:

        score(d, c) = bias(c) + sum over gram occurrences g in d
                      of w(c, bucket(g))

    Integer arithmetic end-to-end, so the winner is engine-exact; ties
    break to the lexicographically smallest label. Documents with no
    grams are absent (no evidence — the dsir_weights contract). The
    model must be TOTAL over [0, n_buckets) for every label and fitted
    with the same n_buckets (hash_nb_fit guarantees both; a partial
    table would silently zero unseen-feature penalties at the join).

    Output: (id_col, label, score_micro).

    Scale shape: one gram pass into per-doc (id, bucket) int-pair
    counts (map-side combined), a broadcast join against the L x B
    model (expands x L), one more map-side-combined groupBy on
    (id, label), then the argmax as a min(struct) aggregate — combiner
    -friendly, never a per-doc window shuffle.
    """
    from xenoeye_spark.datapipe.sampling import (
        _gram_bucket_occurrences, _guard_kernel_provenance,
    )

    need = {"label", "bucket", "w_micro", "bias_micro"}
    missing = need - set(model.columns)
    if missing:
        raise ValueError(
            f"hash_linear_classify: model lacks columns {sorted(missing)}"
            " — expected hash_nb_fit's (label, bucket, w_micro, "
            "bias_micro) shape"
        )
    # fit/apply consistency guard: a saved model fitted by another
    # hash family or n_buckets raises instead of silently scoring
    # against the wrong buckets
    model = _guard_kernel_provenance(
        model, "w_micro", n_buckets, "hash_linear_classify"
    ).select("label", "bucket", "w_micro", "bias_micro")
    doc_counts = (
        _gram_bucket_occurrences(docs, text_col, id_col, n_buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    scored = (
        doc_counts.join(F.broadcast(model), "bucket")
        .groupBy(id_col, "label")
        .agg(
            (F.sum(F.col("cnt") * F.col("w_micro"))
             + F.max("bias_micro")).alias("score_micro")
        )
    )
    pick = scored.groupBy(id_col).agg(
        F.min(
            F.struct(
                (-F.col("score_micro")).alias("neg"),
                F.col("label").alias("label"),
                F.col("score_micro").alias("score_micro"),
            )
        ).alias("_best")
    )
    return pick.select(
        F.col(id_col),
        F.col("_best.label").alias("label"),
        F.col("_best.score_micro").alias("score_micro"),
    )
