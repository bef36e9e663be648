"""Text analysis operators — pure Column expressions (JVM-side) except
where per-token or per-gram hashing genuinely needs numpy (SimHash,
winnowing).

- text_stats      : token/char counts, punctuation & stopword ratios, a
                    composite quality score
- language_id     : n-gram/stopword-heuristic language guess
- simhash60       : 60-bit SimHash fingerprint over two char polynomials
                    per token (oracle-exact)
- doc_fingerprint : winnowing over char-polynomial k-gram hashes
                    (oracle-exact)
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xenoeye_spark.datapipe.util import (
    POLY_P, char_chunks, char_polys, poly_pows, segment_starts,
    segment_sums, spread, ws_tokens,
)

# Minimal deterministic stopword sets per language (public common words).
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "nicht"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "y", "de", "un", "una", "es", "que", "por"],
}


def _tokens(text_col: Column) -> Column:
    """The canonical whitespace tokenizer (datapipe.util.ws_tokens) —
    one definition shared with dedup.py/ranking.py and mirrored by every
    oracle."""
    return ws_tokens(text_col)


def _stats_exprs(text_col: str) -> dict[str, Column]:
    """The text_stats column expressions, keyed by output name — ONE
    definition consumed by text_stats and by the fused single-scan
    corpus_report (all row-local, so they compose into any projection
    without a join)."""
    toks = _tokens(F.col(text_col))
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    avg_tok = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(F.lit(0.0))
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?'\"()\[\]]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    sw = STOPWORDS["en"]
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(sw)))
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(F.lit(0.0))
    # simple composite: long enough, not punctuation soup, some stopwords
    quality = (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(5.0), F.lit(1.0))) * F.lit(0.3)
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * F.lit(0.3)
    )
    return {
        "n_tokens": n_tokens.cast("long"),
        "n_chars": n_chars.cast("long"),
        "avg_token_len": F.round(avg_tok, 6),
        "punct_ratio": F.round(punct_ratio, 6),
        "stopword_ratio": F.round(stop_ratio, 6),
        "quality_score": F.round(quality, 6),
    }


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc: n_tokens, n_chars, avg_token_len, punct_ratio,
    stopword_ratio (en), quality_score in [0,1]."""
    exprs = _stats_exprs(text_col)
    return docs.select(
        F.col(id_col), *[c.alias(n) for n, c in exprs.items()]
    )


def _lang_score_cols(text_col: str) -> dict[str, Column]:
    """Per-language stopword hit counts, staged as real columns in a
    projection before the vote (see _lang_guess_from_scores). Staging
    guarantees each score is computed once; inlining them into the vote
    expression would lean on Catalyst subexpression elimination across
    higher-order-filter lambdas (measured equal when warmed, but the
    guarantee beats the bet — the vote references every score twice)."""
    toks = _tokens(F.lower(F.col(text_col)))

    # NB: the lambda must be unary — PySpark treats a 2-arg lambda in
    # F.filter as (element, index), so closing over `sw` via a default
    # arg would bind it to the index column.
    def _hits(sw: list[str]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(sw)))

    return {lang: _hits(sw) for lang, sw in STOPWORDS.items()}


def _lang_guess_from_scores() -> Column:
    """The vote over STAGED score columns named _s_<lang> (ONE
    definition of the tie rule, shared by language_id and the fused
    corpus_report). Ties break by language code order; no hits ->
    'und'."""
    langs = list(STOPWORDS)
    best = F.greatest(*[F.col(f"_s_{l}") for l in langs])
    guess = F.lit("und")
    # reverse order so earlier languages win ties via later .when override
    for lang in reversed(langs):
        guess = F.when(
            (F.col(f"_s_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(guess)
    return guess


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language guess: the language whose stopword set hits
    the most tokens wins; ties broken by language code order; no hits ->
    'und' (undetermined)."""
    staged = docs.select(
        F.col(id_col),
        *[c.alias(f"_s_{lang}")
          for lang, c in _lang_score_cols(text_col).items()],
    )
    return staged.select(
        F.col(id_col), _lang_guess_from_scores().alias("lang_guess")
    )


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_min: float = 0.55,
) -> DataFrame:
    """Per-language corpus report card (r8): document counts, exact-dup
    counts (count minus distinct md5), quality-threshold passes, and
    token totals, grouped by the stopword-vote language guess — the
    summary a curation run emits per stage. Every measure is an INTEGER
    (threshold counts over the per-row rounded score, sums of longs),
    so cross-engine comparison is exact. Single definition shared by
    the oracled gate query (quality_min=0.55, the oracle's literal) and
    xe_curate --report-card (which passes its --quality-min).

    ONE scan, ZERO joins: every input to the rollup (language vote,
    stats, md5) is row-local, so they fuse into a single projection —
    at corpus scale a join-based composition would re-scan the corpus
    three times for no reason. The rollup is one groupBy on the (tiny)
    language key — no explode, no wide shuffle."""
    stats = _stats_exprs(text_col)
    staged = docs.select(
        F.md5(F.col(text_col)).alias("_th"),
        stats["n_tokens"].alias("n_tokens"),
        stats["quality_score"].alias("quality_score"),
        *[c.alias(f"_s_{lang}")
          for lang, c in _lang_score_cols(text_col).items()],
    )
    fused = staged.select(
        _lang_guess_from_scores().alias("lang_guess"),
        "_th", "n_tokens", "quality_score",
    )
    return (
        fused.groupBy("lang_guess")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.count(F.lit(1)) - F.countDistinct("_th"))
            .cast("long").alias("n_dup_docs"),
            F.sum(
                F.when(F.col("quality_score") >= quality_min, 1).otherwise(0)
            ).cast("long").alias("n_quality"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints, pure expression."""
    return F.bit_count(a.bitwiseXOR(b))


# two coprime char-polynomial families; each yields < 2^30, so the packed
# 60-bit token hash (p1 * 2^30 + p2) stays exact in int64 — the property
# that lets the DuckDB oracle re-derive every fingerprint bit
_SIMHASH_P1, _SIMHASH_M1 = 1_073_741_789, 31
_SIMHASH_P2, _SIMHASH_M2 = 1_073_741_783, 131
SIMHASH_BITS = 60


@F.pandas_udf(T.LongType())
def _simhash_kernel(toks: pd.Series) -> pd.Series:
    """array<string> tokens -> 60-bit SimHash: bit b is set iff strictly
    more than half of the doc's tokens have bit b of their packed
    two-polynomial hash set. One vote count per bit over the whole
    Arrow batch (a prefix sum per bit); empty or NULL docs give 0."""
    arrs = [() if t is None else t for t in toks]
    counts = np.fromiter(map(len, arrs), np.int64, len(arrs))
    h1, h2, _ = char_polys(
        [t for a in arrs for t in a],
        (_SIMHASH_M1, _SIMHASH_P1), (_SIMHASH_M2, _SIMHASH_P2),
    )
    h = h1 << 30 | h2
    fp = np.zeros(len(arrs), np.int64)
    for b in range(SIMHASH_BITS):
        ones = segment_sums(h >> b & 1, counts)
        fp |= (2 * ones > counts).astype(np.int64) << b
    return pd.Series(fp)


def simhash60(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash per doc over its whitespace tokens (the JVM
    tokenizer ``ws_tokens``). A token hashes to two 30-bit char
    polynomials packed into 60 bits; the fingerprint's bit b is the
    majority vote of the tokens' bit b (``_simhash_kernel``). Exact in
    int64, so the DuckDB oracle re-derives every fingerprint
    (__spark_entry__.py simhash_expr). Empty docs fingerprint to 0."""
    return spread(docs).select(
        F.col(id_col), _simhash_kernel(_tokens(F.col(text_col))).alias("simhash")
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    radius: int = 3,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-duplicate pairs: (id_a < id_b, hamming <= radius)
    over ``simhash60`` fingerprints.

    EXACT (no recall loss) for ``radius <= bands - 1`` by pigeonhole:
    at most ``radius`` differing bits cannot touch all ``bands`` disjoint
    bit blocks (``SIMHASH_BITS // bands`` bits each), so every qualifying
    pair is equal on at least one block. Candidates therefore come from
    an equi-join keyed by (band, block) — the same shuffle shape as
    MinHash banding — and a popcount verifies.
    """
    if radius > bands - 1:
        raise ValueError(
            f"radius {radius} needs > {radius} bands for exact candidates"
        )
    fp = simhash60(docs, text_col, id_col)
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    from pyspark import StorageLevel

    banded = fp.select(
        id_col, "simhash",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask))
                for b in range(bands)
            ])
        ).alias("band", "block"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # persisted: the self-join consumes the banded table on BOTH sides and
    # the fingerprint kernel upstream is the expensive part — without
    # this, a broadcast of one side re-runs that lineage from scratch
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("_fa"),
            F.col("b.simhash").alias("_fb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = hamming64(F.col("_fa"), F.col("_fb"))
    return (
        cands.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= F.lit(radius))
    )


def gopher_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    mean_word_len_range: tuple[float, float] = (2.0, 10.0),
    min_alpha_word_frac: float = 0.8,
    max_symbol_word_ratio: float = 0.1,
    max_top_bigram_frac: float = 0.2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, public
    heuristics), adapted to the rules that are line-independent:

      - word count >= min_words
      - mean word length within ``mean_word_len_range``
      - fraction of words containing an alphabetic char >= threshold
      - hash/ellipsis symbols per word <= threshold
      - repetition: fraction of bigram slots taken by the single most
        frequent bigram <= threshold (the top-2-gram rule)

    Every rule — including the top-bigram one — is a pure per-row
    expression, so the whole operator is a zero-shuffle projection
    (r12 optimization): a bigram's per-doc multiplicity equals the
    longest equal-run in the doc's SORTED bigram array, computed by one
    in-row ``array_sort`` + ``aggregate`` fold instead of the previous
    explode -> (doc, bigram) count -> per-doc max -> join-back (three
    exchanges carrying every bigram occurrence of the corpus). Output:
    the metrics + per-rule booleans + the conjunction ``gopher_pass``.
    """
    toks = _tokens(F.col(text_col))
    n_sym = F.length(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), r"\.\.\.", "#"), r"[^#…]", ""
        )
    )
    # spread: the per-row sort+fold is the CPU-heavy kernel now, and an
    # unsplittable small scan must not run it single-core (no-op at
    # scale; see util.spread)
    staged = spread(docs).select(
        F.col(id_col), toks.alias("_t"), n_sym.alias("_nsym")
    )
    n_words = F.size("_t")
    mean_wlen = F.when(
        n_words > 0,
        F.aggregate("_t", F.lit(0).cast("long"),
                    lambda a, t: a + F.length(t)).cast("double") / n_words,
    ).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter("_t", lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = F.when(n_words > 0, n_alpha.cast("double") / n_words).otherwise(F.lit(0.0))
    # top-bigram count, in-row: max multiplicity of any bigram == the
    # longest equal-run in the sorted bigram array. One O(k log k) sort
    # + O(k) fold per doc replaces the corpus-wide bigram shuffle.
    bigram_arr = F.when(
        n_words >= 2,
        F.expr(
            "transform(sequence(1, size(_t) - 1), "
            "i -> concat(element_at(_t, i), ' ', element_at(_t, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    top_bg_n = F.expr(
        "aggregate(array_sort(_bg), "
        "named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        "  'prev', x, "
        "  'run', CASE WHEN acc.prev IS NOT NULL AND x = acc.prev "
        "    THEN acc.run + 1 ELSE 1L END, "
        "  'best', greatest(acc.best, CASE WHEN acc.prev IS NOT NULL "
        "    AND x = acc.prev THEN acc.run + 1 ELSE 1L END)), "
        "acc -> acc.best)"
    )
    # _bg materialized as a real column before the fold references it —
    # the house lambda-CSE rule (Catalyst does not CSE across lambda
    # boundaries; see _shingle_hash_col)
    per_doc = staged.withColumn("_bg", bigram_arr).select(
        id_col,
        n_words.cast("long").alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        "_nsym",
        top_bg_n.alias("_top_bg_n"),
    )
    out = per_doc.select(
        F.col(id_col),
        "n_words", "mean_word_len", "alpha_word_frac",
        F.when(
            F.col("n_words") > 0, F.col("_nsym").cast("double") / F.col("n_words")
        ).otherwise(F.lit(0.0)).alias("_swr"),
        F.when(
            F.col("n_words") >= 2,
            F.col("_top_bg_n").cast("double") / (F.col("n_words") - 1),
        ).otherwise(F.lit(0.0)).alias("_tbf"),
    ).select(
        F.col(id_col), "n_words", "mean_word_len", "alpha_word_frac",
        F.round("_swr", 6).alias("symbol_word_ratio"),
        F.round("_tbf", 6).alias("top_bigram_frac"),
        (
            (F.col("n_words") >= min_words)
            & F.col("mean_word_len").between(*mean_word_len_range)
            & (F.col("alpha_word_frac") >= min_alpha_word_frac)
            & (F.round("_swr", 6) <= max_symbol_word_ratio)
            & (F.round("_tbf", 6) <= max_top_bigram_frac)
        ).alias("gopher_pass"),
    )
    return out


# BPE-ish pretokenizer: word pieces, numbers, punctuation runs — the common
# GPT-2-style regex family, simplified to RE2-compatible form (no lookahead)
# so Spark's JVM regexp can run it.
BPE_SPLIT_RE = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+"


def token_count(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Whitespace token count + BPE-ish subword count per doc — the
    length signal a training-data pipeline budgets with. Pure expressions
    (regexp_extract_all stays in codegen)."""
    ws = F.size(_tokens(F.col(text_col)))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), 0))
    return docs.select(
        F.col(id_col),
        ws.cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
    )


_FP_SCHEMA = T.StructType([
    T.StructField("fingerprint", T.ArrayType(T.LongType())),
    T.StructField("fp_digest", T.LongType()),
    T.StructField("fp_size", T.IntegerType()),
])
_POW10 = 10 ** np.arange(1, 10, dtype=np.int64)


def _winnow_kernel(k: int, window: int):
    """The winnowing pandas UDF: text -> (fingerprint, fp_digest,
    fp_size), over the char polynomial mod ``POLY_P``.

    Per ``char_chunks`` chunk of the Arrow batch: the k-gram hashes of
    every position by k Horner steps over the chunk's code points, the
    window minima by ``window - 1`` shifted ``minimum`` passes, and the
    sorted distinct selection of every doc by one ``np.unique`` over
    (doc, hash) keys. The digest — the polynomial of the comma-joined
    decimal selection — is composed arithmetically: each value's digit
    string hashes in ten vectorized steps and is shifted by 31^(chars
    after it). A doc shorter than k hashes whole; empty or NULL text
    gives (``[]``, 0, 0)."""
    P = POLY_P

    def chunk(texts: list[str]):
        lens = np.fromiter(map(len, texts), np.int64, len(texts))
        codes = np.frombuffer(
            "".join(texts).encode("utf-32-le"), np.uint32
        ).astype(np.int64)
        # the k-gram hash at every flat position; each doc keeps its own
        g = np.zeros(max(len(codes) - k + 1, 0), np.int64)
        for j in range(k):
            g = (g * 31 + codes[j:j + len(g)]) % P
        start, own = segment_starts(lens, k)
        # per doc: its k-grams, or its whole-text hash when shorter
        short = (lens > 0) & (lens < k)
        n_g = np.where(lens >= k, lens - k + 1, short.astype(np.int64))
        goff = np.cumsum(n_g) - n_g
        gv = np.empty(int(n_g.sum()), np.int64)
        gv[goff[own] + start - (np.cumsum(lens) - lens)[own]] = g[start]
        gv[goff[short]] = char_polys(
            [t for t, s in zip(texts, short) if s], (31, P)
        )[0]
        # window minima where a doc has >= window grams, else its grams
        m = gv[: max(len(gv) - window + 1, 0)].copy()
        for j in range(1, window):
            np.minimum(m, gv[j:j + len(m)], out=m)
        wstart, wown = segment_starts(n_g, window)
        few = np.repeat(n_g < window, n_g)
        own = np.concatenate((wown, np.repeat(np.arange(len(texts)), n_g)[few]))
        key = np.unique(own << 30 | np.concatenate((m[wstart], gv[few])))
        own, sel = key >> 30, key & ((1 << 30) - 1)
        size = np.bincount(own, minlength=len(texts))
        # digest: the polynomial of "v1,v2,...": value i has d_i digits
        # and r_i chars after it in its doc's string
        d = 1 + np.searchsorted(_POW10, sel, "right")
        pw = poly_pows(31, P, 10)
        pn = np.zeros(len(sel), np.int64)
        for pos in range(10):
            pn += np.where(pos < d, (48 + sel // 10 ** pos % 10) * pw[pos], 0)
        ce = np.cumsum(d + 1)
        last = np.cumsum(size) - 1
        r = np.repeat(ce[last[size > 0]], size[size > 0]) - ce
        first = np.zeros(len(sel), bool)
        first[(last + 1 - size)[size > 0]] = True
        pw = poly_pows(31, P, int(r.max(initial=0)) + 12)
        terms = pn % P * pw[r] % P + np.where(first, 0, 44 * pw[r + d] % P)
        digest = segment_sums(terms, size) % P
        return np.split(sel, np.cumsum(size)[:-1]), digest, size

    @F.pandas_udf(_FP_SCHEMA)
    def winnow(texts: pd.Series) -> pd.DataFrame:
        texts = ["" if t is None else t for t in texts]
        lens = np.fromiter(map(len, texts), np.int64, len(texts))
        parts = [chunk(texts[lo:hi]) for lo, hi in char_chunks(lens)]
        none = np.empty(0, np.int64)
        return pd.DataFrame({
            "fingerprint": [f for p in parts for f in p[0]],
            "fp_digest": np.concatenate([none, *(p[1] for p in parts)]),
            "fp_size": np.concatenate([none, *(p[2] for p in parts)])
            .astype(np.int32),
        })

    return winnow



def doc_fingerprint(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing-style document fingerprint (Schleimer/Wilkerson/Aiken,
    SIGMOD'03, public algorithm): hash every k-char gram, slide a window of
    ``window`` hashes, keep each window's minimum — the selected hash set
    identifies the document robustly under edits.

    Gram hashes are the char polynomial mod 1e9+7 over code points, so
    the DuckDB oracle re-derives every selection (__spark_entry__.py
    doc_fingerprint_expr); the whole computation is one numpy kernel
    (``_winnow_kernel``). Output: the sorted distinct selection
    ``fingerprint``, ``fp_digest`` (the same polynomial over the
    comma-joined selection) for equality probes, and ``fp_size``.
    """
    out = spread(docs).select(
        F.col(id_col),
        _winnow_kernel(k, window)(F.col(text_col)).alias("_f"),
    )
    return out.select(
        F.col(id_col), "_f.fingerprint", "_f.fp_digest", "_f.fp_size"
    )


# PII scrubbing patterns. Chosen to be EXACTLY expressible in both regex
# dialects the pipeline runs (Java util.regex in Spark, RE2 in the DuckDB
# oracle): no backreferences, no lookaround, ASCII \b only — the subset
# where both engines provably agree, which the driver oracle then checks
# end-to-end on planted PII.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4",
     r"\b(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
     r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\b"),
    # international-ish phone: must start with '+', >= 8 chars of digits
    # and separators, end in a digit — conservative on purpose (a greedy
    # bare-digit pattern eats ids, dates, and prices)
    ("phone", r"\+[0-9][0-9()\- ]{6,}[0-9]"),
]


def pii_scrub(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """PII redaction for training corpora: replace each match of the
    (name, regex) ``patterns`` with ``<NAME>`` and count matches per
    type — the standard pre-training scrub (emails / IPv4 / phones by
    default; the C4/CCNet pipelines apply the same class of regex
    washes).

    Counting happens BEFORE scrubbing (a later pattern cannot hide an
    earlier type's count); scrubbing applies patterns in list order, so
    overlaps resolve deterministically on any engine. Pure JVM-side
    regexp projection — no shuffle, no Python; scales as a map over the
    corpus.

    Output: (id_col, text_scrubbed, n_<name> per pattern, n_pii total).
    """
    pats = PII_PATTERNS if patterns is None else patterns
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(rx), F.lit(0)))
        .cast("long").alias(f"n_{name}")
        for name, rx in pats
    ]
    scrubbed = F.col(text_col)
    for name, rx in pats:
        scrubbed = F.regexp_replace(scrubbed, F.lit(rx), F.lit(f"<{name.upper()}>"))
    out = spread(docs).select(
        F.col(id_col), scrubbed.alias("text_scrubbed"), *counts
    )
    total = sum(
        (F.col(f"n_{name}") for name, _ in pats[1:]),
        F.col(f"n_{pats[0][0]}"),
    )
    return out.withColumn("n_pii", total.cast("long"))


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical text normalization for dedup keys: control characters
    stripped, whitespace runs collapsed to one space, trimmed,
    lowercased. The md5 of the result is the exact-dedup key two
    differently-formatted copies of a document share — normalize-then-
    hash is the first stage of every web-corpus dedup stack.

    ASCII-safe transforms only (case folding beyond ASCII is
    locale/engine-dependent and would break cross-engine re-derivation).
    Pure JVM projection, no shuffle. Output: (id_col, norm_text,
    n_chars_norm, norm_md5).
    """
    t = F.regexp_replace(F.col(text_col), F.lit(r"[\x00-\x1F\x7F]"), F.lit(" "))
    t = F.regexp_replace(t, F.lit(r"\s+"), F.lit(" "))
    # ASCII-ONLY case fold (translate, not lower()): full-Unicode
    # lowering is engine-dependent (Java simple mapping vs utf8proc —
    # e.g. U+0130), which would break the cross-engine dedup-key promise
    t = F.translate(
        F.trim(t),
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        "abcdefghijklmnopqrstuvwxyz",
    )
    return docs.select(
        F.col(id_col),
        t.alias("norm_text"),
        F.length(t).cast("long").alias("n_chars_norm"),
        F.md5(t).alias("norm_md5"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk: int = 64,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document's whitespace tokens into training-context
    chunks of ``chunk`` tokens, starting every ``stride`` tokens
    (``stride < chunk`` = overlapping windows, the standard LM
    context-window slicer; default ``stride=chunk`` = disjoint). The
    final window is the one whose start still lies inside the document,
    so trailing tokens are never dropped (the last chunk may be short).

    Pure JVM expressions: tokens materialized ONCE as a column (no CSE
    across higher-order lambdas — the repo's measured 14x trap), chunk
    indices via sequence + posexplode, each chunk an O(chunk) slice.
    One narrow explode, no shuffle; output size is input tokens x
    (chunk/stride) — linear, scales as a map at any corpus size.

    Output: (id_col, chunk_id, n_tokens, chunk_text); empty docs emit
    no rows.
    """
    if stride is None:
        stride = chunk
    if not (1 <= stride <= chunk):
        raise ValueError(f"stride must be in [1, chunk]: {stride=} {chunk=}")
    n = F.size(F.col("_toks"))
    # windows start at 0, stride, 2*stride, ...; stop at the first one
    # covering the end: 1 + ceil((n - chunk)/stride) for n > chunk
    # (integer ceil via floor((x + stride - 1)/stride); values are small
    # ints so the double division is exact), else a single window.
    n_chunks = F.when(n <= chunk, F.lit(1)).otherwise(
        (F.floor((n - F.lit(chunk) + F.lit(stride) - 1) / stride) + 1)
        .cast("int")
    )
    sliced = F.slice(
        F.col("_toks"), F.col("chunk_id") * stride + 1, chunk
    )
    return (
        # the empty-doc cut tests the RAW text (contains any non-
        # whitespace char <=> at least one ws token — trim() strips
        # only ASCII space, so trim != '' wrongly keeps "\t\n" docs):
        # a size(_toks) > 0 filter after the staging select gets the
        # whole tokenizer re-inlined by predicate pushdown and
        # evaluated a second time per row (the r6 pushed-predicate
        # trap — see sketch.with_shingle_hashes); this form pushes to
        # the scan as one cheap regex test
        spread(docs)
        .filter(F.col(text_col).rlike(r"\S"))
        .select(
            F.col(id_col), ws_tokens(F.col(text_col)).alias("_toks")
        )
        .select(
            id_col,
            "_toks",
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias(
                "chunk_id", "_z"
            ),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id"),
            F.size(sliced).cast("long").alias("n_tokens"),
            F.array_join(sliced, " ").alias("chunk_text"),
        )
    )


def repetition_stats(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Within-document repetition signals (the RefinedWeb/Gopher
    "remove repetitious documents" family, Penedo 2023 / Rae 2021 —
    public heuristics): fraction of duplicate word n-grams and of
    duplicate tokens, plus the share claimed by the single most
    frequent n-gram.

    Plan (r12 optimization): a zero-shuffle per-row projection. The
    duplicate fractions are identities — sum over distinct values of
    (count - 1) == total - distinct — so ``size - size(array_distinct)``
    computes them in-row; the top-gram count is the longest equal-run
    of the SORTED gram array (the same in-row fold as gopher_quality's
    top-bigram rule). The previous shape exploded every token and gram
    occurrence through two (doc, value) shuffles and joined the
    rollups back; all five metrics now come from one projection.

    Output: (id_col, n_tokens, n_grams, dup_token_frac, dup_gram_frac,
    top_gram_frac) — fractions round(6), 0.0 for docs too short to
    form a single n-gram (dup_gram_frac/top_gram_frac) or empty docs
    (all fractions; such docs still appear, with zero counts).
    """
    toks = spread(docs).select(
        F.col(id_col), ws_tokens(F.col(text_col)).alias("_toks")
    )
    grams_col = F.when(
        F.size("_toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - n + 1),
            lambda i: F.array_join(F.slice("_toks", i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # grams materialized as a real column before the fold references it
    # (house lambda-CSE rule); coalesce guards NULL-text docs, whose
    # token array is NULL (size -> NULL) but must count as 0.
    staged = toks.withColumn("_g", grams_col)
    top_run = F.expr(
        "aggregate(array_sort(_g), "
        "named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        "  'prev', x, "
        "  'run', CASE WHEN acc.prev IS NOT NULL AND x = acc.prev "
        "    THEN acc.run + 1 ELSE 1L END, "
        "  'best', greatest(acc.best, CASE WHEN acc.prev IS NOT NULL "
        "    AND x = acc.prev THEN acc.run + 1 ELSE 1L END)), "
        "acc -> acc.best)"
    )
    nt = F.coalesce(F.size("_toks"), F.lit(0))
    ng = F.coalesce(F.size("_g"), F.lit(0))
    counted = staged.select(
        F.col(id_col),
        nt.cast("long").alias("n_tokens"),
        ng.cast("long").alias("n_grams"),
        (nt - F.coalesce(F.size(F.array_distinct("_toks")), F.lit(0)))
        .cast("long").alias("_dup_t"),
        (ng - F.size(F.array_distinct("_g"))).cast("long").alias("_dup_g"),
        top_run.alias("_top_g"),
    )
    frac = lambda num, den: F.round(  # noqa: E731
        F.when(F.col(den) > 0, F.col(num) / F.col(den)).otherwise(F.lit(0.0)),
        6,
    )
    return counted.select(
        F.col(id_col),
        "n_tokens",
        "n_grams",
        frac("_dup_t", "n_tokens").alias("dup_token_frac"),
        frac("_dup_g", "n_grams").alias("dup_gram_frac"),
        frac("_top_g", "n_grams").alias("top_gram_frac"),
    )


# URL extraction: scheme://authority[/rest] — the authority is
# everything up to the first '/', '?', '#', or whitespace, so it still
# carries userinfo ("user:pass@host") and a port (":8080"). Both are
# stripped AFTER extraction (_strip_userinfo_port) — otherwise
# "https://blocked.com:8080/x" reduces to registered domain "com:8080"
# and silently bypasses the blocklist. Dialect-portable (no
# lookaround/backrefs), mirrored verbatim by the DuckDB oracle.
URL_HOST_RE = r"https?://([^\s/?#]+)"


def _strip_userinfo_port(host: F.Column) -> F.Column:
    """authority -> bare host: drop userinfo (through the LAST '@' —
    greedy '^.*@') then the port (first ':' onward). Bracketed IPv6
    literals are out of scope (they never reduce to a dot-label
    registered domain). Same two regexp_replace steps in the oracle."""
    return F.regexp_replace(
        F.regexp_replace(host, F.lit(r"^.*@"), F.lit("")),
        F.lit(r":.*$"), F.lit(""),
    )


def url_domain_filter(
    docs: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-based filtering (the C4/RefinedWeb "URL blocklist" stage):
    extract every URL, reduce each host to its registered domain (last
    two dot-labels, lowercased), and drop documents citing a blocked
    domain.

    ``blocklist``: a DataFrame with a ``domain`` column (small — it is
    broadcast). Matching is equi-join on the registered domain — NOT a
    suffix theta-join, which would be a broadcast-nested-loop at scale;
    collapsing host -> registered domain first keeps it a hash join.

    Output: (id_col, n_urls, n_blocked, keep, blocked_domains) where
    blocked_domains is a sorted-distinct array of the offending
    domains. Docs with no URLs keep n_urls=0, keep=true.
    """
    urls = spread(docs).select(
        F.col(id_col),
        # NB: F.lit pattern, not F.expr — a SQL string literal would eat
        # the \s escape and silently skip hosts starting with 's'
        F.explode_outer(
            F.regexp_extract_all(
                F.col(text_col), F.lit(URL_HOST_RE), F.lit(1)
            )
        ).alias("_host"),
    )
    labels = F.split(F.lower(_strip_userinfo_port(F.col("_host"))), r"\.")
    reg_domain = F.when(
        F.col("_host").isNotNull(),
        F.array_join(
            F.slice(labels, F.greatest(F.size(labels) - 1, F.lit(1)), 2),
            ".",
        ),
    )
    bl = F.broadcast(
        blocklist.select(F.lower("domain").alias("_dom"))
        .distinct()
        .withColumn("_blocked", F.lit(1))
    )
    # a NULL _dom row (doc without URLs) matches nothing in the equi-join
    # but still aggregates, so URL-free docs appear with n_urls=0
    return (
        urls.withColumn("_dom", reg_domain)
        .join(bl, "_dom", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("_host").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_urls"),
            F.sum(F.when(F.col("_blocked").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_blocked"),
            F.array_sort(
                F.collect_set(
                    F.when(F.col("_blocked").isNotNull(), F.col("_dom"))
                )
            ).alias("blocked_domains"),
        )
        .withColumn("keep", F.col("n_blocked") == 0)
        .select(id_col, "n_urls", "n_blocked", "keep", "blocked_domains")
    )


def char_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon character entropy (bits/char) — the cheap
    compression-proxy quality signal: binary junk and base64 blobs sit
    near 6 bits, repeated-character spam near 0, natural language ~4.
    Standard corpus-filter feature (the entropy band is the filter).

    Pure higher-order expressions, no shuffle, no Python: chars ->
    per-char counts via aggregate over the distinct char set (bounded
    by the alphabet actually present per doc; O(distinct * len) per row
    but both are document-local). The whole computation is re-derivable
    in SQL, so the oracle recomputes every entropy bit-for-bit after a
    round(6).

    Output: (id_col, n_chars, n_distinct_chars, entropy_bits). Empty
    docs: 0 chars, 0.0 entropy.
    """
    chars = F.split(F.col(text_col), "")
    # split('') yields a trailing empty element on some engines; drop ""
    chars = F.filter(chars, lambda c: c != "")
    # SORTED distinct set: the float fold visits terms in the same order
    # on any engine, so the oracle's sum is bit-identical before round(6).
    # Materialized as a COLUMN (_dset): Catalyst does not CSE across
    # higher-order lambda boundaries, so inlining it would sort+dedup
    # every document's char array twice.
    distinct = F.col("_dset")
    n = F.size(F.col("_chars"))
    # p_c = count(c)/n; H = -sum p log2 p
    ent = F.when(
        n > 0,
        F.round(
            -F.aggregate(
                F.transform(
                    distinct,
                    lambda c: F.size(
                        F.filter(F.col("_chars"), lambda x: x == c)
                    ).cast("double") / n,
                ),
                F.lit(0.0),
                lambda acc, p: acc + p * F.log2(p),
            ),
            6,
        ) + F.lit(0.0),  # normalize -0.0 -> 0.0
    ).otherwise(F.lit(0.0))
    return (
        spread(docs)
        .select(F.col(id_col), chars.alias("_chars"))
        .withColumn(
            "_dset", F.array_sort(F.array_distinct(F.col("_chars")))
        )
        .select(
            F.col(id_col),
            n.cast("long").alias("n_chars"),
            F.size(distinct).cast("long").alias("n_distinct_chars"),
            ent.alias("entropy_bits"),
        )
    )


def decompress_text(
    docs: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    encoding: str = "utf-8",
    on_error: str = "fail",
) -> DataFrame:
    """Decompress a gzip/zlib-compressed binary column to text — the
    ingest shape of every compressed crawl dump (WARC members, .jsonl.gz
    shards): corpora arrive compressed, and decompression belongs ON
    the executors, streaming per Arrow batch, never on a driver loop.

    Magic-sniffed per row: gzip (1f 8b) via stdlib ``gzip``; bzip2
    ("BZh") via ``bz2``; xz (fd "7zXZ") via ``lzma``; raw zlib via
    ``zlib`` on the four standard 2-byte headers 78 01 / 78 5E /
    78 9C / 78 DA (every zlib.compress level, RFC 1950; sniffing the
    first byte alone would misroute every plain text starting with
    'x' = 0x78, and even the RFC checksum rule alone admits "x " —
    0x7820 % 31 == 0); anything else passes through as plain text.
    Residual ambiguities (a text beginning exactly "x\x5e" or "BZh9")
    are inherent to sniffing; schema-tag the column when that matters. ``on_error='fail'`` (default) propagates corrupt-member
    errors — a truncated shard should stop the job, not silently drop
    rows; ``'null'`` maps corrupt members to NULL text for
    quarantine-style pipelines (count them downstream).

    Output: (id_col, text string). Shape at 100 TB: one mapInPandas
    projection, no shuffle; decompression cost is the row's own bytes.
    """
    import bz2 as _bz2
    import gzip as _gzip
    import lzma as _lzma
    import zlib as _zlib

    if on_error not in ("fail", "null"):
        raise ValueError(f"on_error must be fail|null: {on_error!r}")

    def run(batches):
        for pdf in batches:
            out = []
            for raw in pdf["_c"]:
                data = bytes(raw)
                is_zlib = data[:2] in (
                    b"\x78\x01", b"\x78\x5e", b"\x78\x9c",
                    b"\x78\xda",
                )
                try:
                    if data[:2] == b"\x1f\x8b":
                        out.append(_gzip.decompress(data).decode(encoding))
                    elif data[:3] == b"BZh":
                        out.append(_bz2.decompress(data).decode(encoding))
                    elif data[:6] == b"\xfd7zXZ\x00":
                        out.append(_lzma.decompress(data).decode(encoding))
                    elif is_zlib:
                        out.append(_zlib.decompress(data).decode(encoding))
                    else:
                        out.append(data.decode(encoding))
                except Exception:
                    if on_error == "fail":
                        raise
                    out.append(None)
            yield pd.DataFrame({"_id": pdf["_id"], "text": out})

    staged = docs.select(
        F.col(id_col).alias("_id"), F.col(content_col).alias("_c")
    )
    out_schema = T.StructType([
        T.StructField("_id", docs.schema[id_col].dataType),
        T.StructField("text", T.StringType()),
    ])
    return staged.mapInPandas(run, schema=out_schema).select(
        F.col("_id").alias(id_col), "text"
    )


# ---------------------------------------------------------------- HTML

# Entity subset decoded by extract_html_text, in DECODE ORDER. One
# pass, fixed order: '&amp;' decodes LAST so a literal "&amp;lt;" in
# the source yields "&lt;" (the text the author wrote), never "<" —
# the standard single-pass contract. Plain (non-regex) replaces, so
# both engines apply the identical transform.
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]

# Markup-removal patterns, applied in order. The subset is chosen to
# mean the same thing under Java regex (Spark) and RE2 (DuckDB): no
# backreferences, no lookaround (RE2 has neither) — only (?is) flags,
# lazy quantifiers, \b and character classes, which the two engines
# implement identically. Whitespace is ALWAYS the explicit class
# below, never \s: Java's \s includes U+000B (vertical tab) while
# RE2's does not, so a page containing \x0B would silently diverge
# between Spark and the oracle (r10 fix — the class IS Java's \s,
# spelled out so RE2 matches it too).
HTML_WS = r"[ \t\n\x0B\f\r]"
HTML_DROP_PATTERNS: list[str] = [
    rf"(?is)<head\b[^>]*>.*?</head{HTML_WS}*>",  # whole head: title/
    #   meta/style never belong in body text (title extracted apart)
    rf"(?is)<script\b[^>]*>.*?</script{HTML_WS}*>",  # code+newlines
    rf"(?is)<style\b[^>]*>.*?</style{HTML_WS}*>",   # body stylesheets
    r"(?s)<!--.*?-->",                        # comments
    r"<[^>]*>",                               # every remaining tag
]
HTML_TITLE_RE = rf"(?is)<title[^>]*>(.*?)</title{HTML_WS}*>"
HTML_LINK_RE = r"(?i)<a[ \t\n\x0B\f\r>]"


def _decode_entities(c: Column) -> Column:
    for src, dst in HTML_ENTITIES:
        c = F.replace(c, F.lit(src), F.lit(dst))
    return c


def _collapse_ws(c: Column) -> Column:
    # explicit class, not \s — see the HTML_WS note above; after the
    # collapse every run (incl. \x0B) is a plain space, so the
    # space-only trim agrees across engines too
    return F.trim(F.regexp_replace(c, F.lit(HTML_WS + "+"), F.lit(" ")))


def extract_html_text(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """HTML -> text extraction: the step between WARC ingest (whose
    2xx bodies are overwhelmingly HTML) and every downstream text
    operator (quality stats, language id, dedup keys). Public-practice
    shape: strip scripts/styles/comments, drop tags, decode a fixed
    entity subset, collapse whitespace — the regex-heuristic tier of
    extractors like trafilatura/jusText, NOT a conforming parser.

    Documented heuristic boundaries (identical in the oracle): an
    UNCLOSED <script> (or <head>) leaks its content as text (the lazy
    match needs the closing tag); CDATA sections and conditional
    comments are treated as plain markup; only the six-entity subset
    in HTML_ENTITIES is decoded (numeric references beyond &#39; pass
    through verbatim).
    Real crawls route the rare pathological page to the quality filter
    downstream, which is exactly where length/entropy bands catch
    stripped-to-garbage extractions.

    Output per row: ``title`` (entity-decoded, ws-collapsed <title>
    content; '' when absent), ``text`` (the extraction), ``n_links``
    (<a> tag count — the link-density numerator), ``html_chars`` /
    ``text_chars`` (markup-to-text ratio, the classic boilerplate
    signal).

    Scale shape: a pure JVM projection — one scan, zero shuffles, no
    Python; regex cost is linear in page bytes. spread() guards the
    single-row-group small-corpus case like every per-row kernel here.
    """
    body = F.col(html_col)
    for pat in HTML_DROP_PATTERNS:
        body = F.regexp_replace(body, F.lit(pat), F.lit(" "))
    title = F.regexp_extract(F.col(html_col), HTML_TITLE_RE, 1)
    return spread(docs).select(
        F.col(id_col),
        _collapse_ws(_decode_entities(title)).alias("title"),
        _collapse_ws(_decode_entities(body)).alias("text"),
        F.regexp_count(F.col(html_col), F.lit(HTML_LINK_RE))
        .cast("long").alias("n_links"),
        F.length(html_col).cast("long").alias("html_chars"),
    ).withColumn("text_chars", F.length("text").cast("long"))


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WITHIN-document repeated-line removal — the RefinedWeb/Gopher
    cleaning rule that strips intra-page boilerplate (nav menus, cookie
    banners, chat echoes) by keeping only the FIRST occurrence of each
    non-blank line; blank lines are paragraph separators and always
    survive. Corpus-WIDE segment boilerplate is the sibling operator
    ``dedup.segment_dedup``; this one never leaves the row.

    Pure higher-order expressions, no shuffle, no Python: the kept set
    is ``filter(lines, (x, i) -> blank(x) or first_index(x) == i)`` —
    array_position's first-match contract IS the keep rule, identical
    in the oracle (DuckDB list_position, 1-based where Spark's lambda
    index is 0-based). O(lines^2) worst case per document, both
    factors row-local (a pathological million-line doc belongs to the
    length filter upstream, not this rule).

    Output: (id_col, text rewritten with '\\n' joins, n_lines,
    n_kept) — n_* count NON-BLANK lines so the pair measures the rule.
    """
    lines = F.col("_lines")
    kept = F.filter(
        lines,
        lambda x, i: (F.trim(x) == "")
        | (F.array_position(lines, x) == i + F.lit(1)),
    )
    nonblank = F.filter(lines, lambda x: F.trim(x) != "")
    return (
        spread(docs)
        .select(
            F.col(id_col),
            F.split(F.col(text_col), "\n").alias("_lines"),
        )
        .select(
            F.col(id_col),
            F.array_join(kept, "\n").alias("text"),
            F.size(nonblank).cast("long").alias("n_lines"),
            F.size(F.filter(kept, lambda x: F.trim(x) != ""))
            .cast("long").alias("n_kept"),
        )
    )


def strip_common_lines(
    docs: DataFrame,
    min_docs: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-FREQUENCY boilerplate line removal (NEW r11) — the C4 /
    RefinedWeb "line-level corrections" rule: a non-blank line that
    appears in >= ``min_docs`` DISTINCT documents is boilerplate (nav
    bars, cookie banners, footers, "sign in" prompts) and is removed
    from EVERY document. Unlike ``dedup_lines`` (within-doc repeats)
    and ``segment_dedup`` (corpus-wide FIRST occurrence wins), the
    first copy dies too — a nav bar's first crawl is still a nav bar.
    Blank lines are paragraph separators and always survive (they are
    excluded from the frequency count for the same reason).

    Scale shape: one (digest, doc) distinct + count aggregation (both
    map-side combinable; the count shuffles 16-byte md5 digests, never
    line text), the common set filtered to the >= min_docs heavy
    hitters — small by construction at any real threshold — then a
    digest-keyed left_anti join back over the exploded lines (AQE
    broadcasts the common side while it fits) and a per-doc regroup
    that rebuilds the text in original line order. Nothing quadratic;
    no window.

    Output: (id_col, text rewritten with '\\n' joins — '' when every
    line was boilerplate, n_lines = non-blank input lines,
    n_stripped = non-blank lines removed). Every input doc appears.
    A NULL input text stays NULL (with NULL counts) — an upstream
    quarantine marker (e.g. decompress on_error='null') must survive
    this step unchanged.
    """
    if min_docs < 2:
        raise ValueError(
            f"strip_common_lines: min_docs must be >= 2, got {min_docs} "
            "(1 would strip every non-blank line)"
        )
    lines = F.split(F.col(text_col), "\n")
    ex = docs.select(
        F.col(id_col),
        F.posexplode_outer(lines).alias("_pos", "_ln"),
    ).withColumn("_h", F.md5(F.col("_ln")))
    common = (
        ex.filter(F.trim(F.col("_ln")) != "")
        .select("_h", id_col).distinct()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_h")
    )
    kept = ex.join(common, "_h", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_ln"))),
                lambda s: s["_ln"],
            ),
            "\n",
        ).alias("_new"),
        F.sum((F.trim(F.col("_ln")) != "").cast("long")).alias("_kept"),
    )
    nonblank = F.size(F.filter(lines, lambda x: F.trim(x) != ""))
    isnull = F.col(text_col).isNull()
    return (
        spread(docs)
        .select(
            F.col(id_col),
            F.when(isnull, F.lit(None)).otherwise(nonblank)
            .cast("long").alias("n_lines"),
            isnull.alias("_innull"),
        )
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_innull"), F.lit(None))
            .otherwise(F.coalesce(F.col("_new"), F.lit("")))
            .alias("text"),
            "n_lines",
            (F.col("n_lines") - F.coalesce(F.col("_kept"), F.lit(0)))
            .cast("long").alias("n_stripped"),
        )
    )


def jsonl_documents(
    files: DataFrame,
    schema: str,
    content_col: str = "content",
    file_id_col: str = "source_id",
    on_error: str = "fail",
) -> DataFrame:
    """JSONL shard ingest — the single most common LLM-corpus file
    format (one JSON object per line, shards usually .jsonl.gz): a
    (file_id, binary content) table becomes one row per parsed record,
    typed by the caller's ``schema`` (a Spark DDL string, e.g.
    "doc_id long, lang string, text string").

    Pipeline: magic-sniffed decompression (``decompress_text`` — gzip/
    bz2/xz/zlib/plain per row, executor-side), a newline split +
    explode (narrow), then Spark's native ``from_json`` per line —
    JVM, no Python in the parse path. Blank lines are skipped (the
    trailing newline of every well-formed shard). Malformed lines are
    detected via the standard corrupt-record idiom (PERMISSIVE
    from_json fills a ``_corrupt`` sidecar column exactly for lines
    that failed to parse — a bare NULL-struct check cannot tell a
    broken line from a legitimate ``{}``): ``on_error='fail'`` raises
    on the first one with the offending file id and line prefix;
    ``'null'`` quarantines them as rows with every schema field NULL
    and ``is_malformed`` = true, keeping the blast radius one LINE —
    unlike the WARC walker's whole-file quarantine, a JSONL line is a
    self-contained record and the format recovers at the next
    newline. ``_corrupt`` is therefore a reserved field name. An
    UNDECOMPRESSABLE shard (truncated gzip, bad CRC) in 'null' mode
    surfaces as exactly one all-NULL quarantine row carrying its file
    id — never a silent zero-row disappearance.

    Output: schema fields + (file_id_col, is_malformed).

    Scale shape: one scan, zero shuffles — decompression is one
    mapInPandas projection, split/explode/from_json are narrow JVM
    stages. Peak task memory is O(decompressed shard) (the split
    materializes the line array per file row); size shards like WARC
    shards (~1 GB compressed) and partition the OUTPUT to ~256 MB
    parquet before the heavy stages, per DEPLOY.md.
    """
    if on_error not in ("fail", "null"):
        raise ValueError(
            f"on_error must be 'fail' or 'null', got {on_error!r}"
        )
    field_names = [
        f.name for f in T._parse_datatype_string(schema).fields
    ]
    clash = set(field_names) & {file_id_col, "is_malformed", "_corrupt"}
    if clash:
        raise ValueError(
            f"jsonl_documents: schema fields {sorted(clash)} collide "
            "with the operator's output columns"
        )
    text = decompress_text(
        files, content_col=content_col, id_col=file_id_col,
        on_error=on_error,
    )
    # An UNDECOMPRESSABLE shard yields text NULL in 'null' mode; the
    # split/explode would silently drop it (zero rows, no marker).
    # Surface it as one whole-file quarantine line instead — the
    # sentinel can never survive from real content because blank-ish
    # lines are filtered and from_json marks it corrupt anyway.
    lines = text.select(
        F.col(file_id_col),
        F.explode(
            F.coalesce(
                F.split(F.col("text"), "\n"),
                F.array(F.lit("\x00undecompressable")),
            )
        ).alias("_line"),
    ).filter(F.trim(F.col("_line")) != "")
    # PERMISSIVE from_json yields a non-null struct of NULL fields for
    # a corrupt line — indistinguishable from a legitimately-empty
    # object. The standard Spark idiom disambiguates: extend the
    # schema with a corrupt-record column; it is non-NULL exactly for
    # malformed lines.
    parsed = lines.select(
        F.col(file_id_col),
        F.col("_line"),
        F.from_json(
            F.col("_line"), schema + ", _corrupt string",
            {"columnNameOfCorruptRecord": "_corrupt"},
        ).alias("_rec"),
    )
    bad = F.col("_rec._corrupt").isNotNull() | F.col("_rec").isNull()
    if on_error == "fail":
        guard = F.when(
            bad,
            F.raise_error(F.concat(
                F.lit("jsonl_documents: malformed line in file "),
                F.col(file_id_col).cast("string"),
                F.lit(": "), F.substring("_line", 1, 80),
            )),
        ).otherwise(F.lit(True))
        parsed = parsed.filter(guard)
    field_cols = [
        F.when(bad, F.lit(None)).otherwise(F.col(f"_rec.{name}"))
        .alias(name)
        for name in field_names
    ]
    return parsed.select(
        *field_cols,
        F.col(file_id_col),
        bad.alias("is_malformed"),
    )
