"""Deduplication operators for document corpora.

Four tiers, all shuffle-frugal:

1. exact_dedup            — hash-groupBy on md5(text): one shuffle on a
                            16-byte key, the canonical 100-TB first pass.
2. ngram_jaccard_pairs    — exact token-shingle Jaccard for candidate pairs
                            (self-join; use only after blocking/LSH at scale).
3. minhash_signatures +   — MinHash ((a*x + b) mod 2^31-1 permutations over
   lsh_candidate_pairs      char-polynomial shingle hashes, one numpy
                            kernel) then banded LSH: near-dup candidates via
                            groupBy on (band, band-hash) — turns O(n^2) into
                            a shuffle on bucket keys.
4. simhash60 (datapipe.text) — 60-bit fingerprints; hamming-radius dup
                            classes.

All hashes are deterministic (fixed seeds, pure integer arithmetic) so runs
are reproducible across cluster sizes, and the MinHash, SimHash and
winnowing families are exact in int64, so the DuckDB oracles re-derive
every signature, fingerprint and digest.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xenoeye_spark.datapipe.util import (
    POLY_P, char_polys, poly_pows, segment_starts, spread, ws_tokens,
)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: (text_hash, keep_id=min id, n_dups).

    One shuffle on md5; at 100 TB partition the output by hash prefix and
    keep only keep_id for the pruned corpus.
    """
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# Tracking query parameters dropped by URL canonicalization — the
# documented subset (utm_* campaign tags plus the two big click ids).
# Anchored CASE-INSENSITIVE prefix match on a single 'name=value'
# token ((?i) anchors identically in Java regex, RE2 and Python re;
# 'UTM_Source=' is the same tracker as 'utm_source=' — r11, was
# case-sensitive before). Extend here, not at call sites, so fit and
# re-runs stay consistent.
URL_TRACKING_RE = r"(?i)^(utm_[A-Za-z0-9_]*|fbclid|gclid)="


def canonical_url_expr(url_col) -> "F.Column":
    """A URL as a canonical DEDUP KEY (not a reparseable URL) — pure
    JVM string/array expressions, every step RE2-identical so a SQL
    oracle re-derives the key byte-for-byte:

      1. trim; strip the #fragment;
      2. strip the scheme (http/https/anything RFC-3986-shaped —
         scheme never distinguishes a document);
      3. fold percent-encoding HEX CASE: every '%' followed by two
         hex digits uppercases them ('%2f' == '%2F' per RFC 3986
         §2.1; r11 — full percent-DEcoding stays a documented no).
         Runs BEFORE the param sort so equivalent params sort into
         the same order, and before the authority lowercase, which
         therefore wins inside the authority (percent-encoded hosts
         are not valid reg-names; the fold there only needs to be
         deterministic, not pretty);
      4. authority (everything before the first '/' or '?' — a
         query can follow a path-less authority, 'h?a=1'; r11, the
         old '[^/]*' split leaked '?…' into the authority where a
         query '@' triggered the userinfo strip): drop userinfo,
         LOWERCASE, drop a leading 'www.', drop an explicit default
         port (:80/:443);
      5. path+query: '?' folds into '&' (the key is not a URL, so one
         separator suffices and multi-'?' pathologies vanish), the
         query tokenizes on '&', tracking params (URL_TRACKING_RE,
         case-insensitive) drop, the REMAINING params SORT (param
         order never distinguishes a document), trailing '/' on the
         path drops ('/a/' == '/a', bare host == host + '/').

    Documented boundaries (each a conscious no): percent-encoding is
    NOT decoded ('%7Euser' != '~user' — only its hex case folds), the
    path stays case-sensitive per RFC 3986, IDN/punycode hosts compare
    as written. NULL and empty URLs yield NULL (no key — callers must
    not group the URL-less docs into one false dup class; url_dedup
    drops them).
    """
    u = F.trim(url_col if not isinstance(url_col, str) else F.col(url_col))
    u = F.regexp_replace(u, F.lit(r"#.*$"), F.lit(""))
    u = F.regexp_replace(
        u, F.lit(r"^[A-Za-z][A-Za-z0-9+.\-]*://"), F.lit("")
    )
    # %XX hex-case fold: split on '%', uppercase the two chars after
    # each boundary when both are hex ('%' is not hex, so boundaries
    # never interact), reassemble. Pure array/lambda expressions —
    # the oracle's list_transform is the same algorithm.
    _pcts = F.split(u, "%", -1)
    u = F.array_join(
        F.transform(_pcts, lambda x, i: F.when(
            (i > 0) & x.rlike(r"^[0-9a-fA-F]{2}"),
            F.concat(F.upper(x.substr(F.lit(1), F.lit(2))),
                     x.substr(F.lit(3), F.length(x))),
        ).otherwise(x)),
        "%",
    )
    auth = F.regexp_extract(u, r"^([^/?]*)", 1)
    rest = F.regexp_replace(u, F.lit(r"^[^/?]*"), F.lit(""))
    auth = F.lower(F.regexp_replace(auth, F.lit(r"^[^@]*@"), F.lit("")))
    auth = F.regexp_replace(auth, F.lit(r"^www\."), F.lit(""))
    auth = F.regexp_replace(auth, F.lit(r":(80|443)$"), F.lit(""))
    folded = F.replace(rest, F.lit("?"), F.lit("&"))
    path = F.regexp_extract(folded, r"^([^&]*)", 1)
    path = F.regexp_replace(path, F.lit(r"/+$"), F.lit(""))
    params = F.array_sort(F.filter(
        F.split(F.regexp_replace(folded, F.lit(r"^[^&]*"), F.lit("")), "&"),
        lambda x: (x != "") & ~x.rlike(URL_TRACKING_RE),
    ))
    key = F.concat(
        auth, path,
        F.when(F.size(params) > 0,
               F.concat(F.lit("&"), F.array_join(params, "&")))
        .otherwise(F.lit("")),
    )
    return F.when(key == "", F.lit(None).cast("string")).otherwise(key)


def url_dedup(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL deduplication — the FIRST dedup stage of the public
    crawl-curation recipes (RefinedWeb, Penedo et al. 2023 §3.2 runs
    it before any content dedup: re-crawls and mirror fetches of one
    page should cost one document, and the URL is free while content
    hashing is not). Groups documents by ``canonical_url_expr`` and
    keeps the lowest id per canonical URL — exact_dedup's contract on
    the URL axis.

    Output: (canon_url, keep_id = min id, n_docs), one row per
    distinct canonical URL; docs with NULL/empty URLs carry no URL
    evidence and are absent (they cannot be URL-duplicates of
    anything — the dsir empty-doc precedent).

    Scale shape: identical to exact_dedup — a narrow canonicalization
    projection, then ONE shuffle keyed by the canonical string
    (map-side combined min/count); nothing all-pairs, no window. At
    100 TB the canonical key is shorter than the page and the pass
    runs before any text is even decompressed.
    """
    canon = canonical_url_expr(url_col)
    return (
        docs.select(F.col(id_col), canon.alias("canon_url"))
        .filter(F.col("canon_url").isNotNull())
        .groupBy("canon_url")
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def dup_profile(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplication profile — the dedup-PLANNING diagnostic run before
    any pruning: the exact-dup class-size histogram, i.e. for every
    class size, how many identical-text classes have that size and how
    many documents they hold. One glance answers "what fraction of the
    corpus is verbatim duplication, and is it pairs or mega-classes?"
    — which decides whether exact dedup alone pays and whether the
    near-dup pass will hit skewed classes (DEPLOY.md's skew note).

    Output: (class_size, n_classes, n_docs = class_size * n_classes),
    one row per distinct size — all integers, engine-exact.

    Scale shape: the exact_dedup aggregation (one md5-keyed shuffle,
    map-side combined) followed by a count-of-counts groupBy whose key
    cardinality is the number of DISTINCT class sizes (dozens at any
    corpus size) — the second shuffle is O(sizes x partitions).
    """
    classes = exact_dedup(docs, text_col, id_col)
    return (
        classes.groupBy(F.col("n_docs").alias("class_size"))
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            F.col("class_size").cast("long").alias("class_size"),
            F.col("n_classes").cast("long").alias("n_classes"),
            (F.col("class_size") * F.col("n_classes")).cast("long")
            .alias("n_docs"),
        )
    )


def _shingle_hash_col(toks_col: str, n: int):
    """distinct xxhash64 of each n-token shingle as array<long> — the set
    algebra then runs on 8-byte longs instead of strings (same Jaccard,
    collision probability ~|shingles|^2/2^64 per doc pair).

    ``toks_col`` must name a MATERIALIZED array<string> column (see
    ``_with_tokens``), never an inlined ``split(...)`` expression:
    Catalyst does not CSE across lambda boundaries, so a split inlined
    under ``transform(sequence(...), i -> slice(split(..)))`` re-splits
    the text once per shingle index — O(tokens^2) per doc, measured 7x
    slower at sf0.1."""
    inner = toks_col if n == 1 else (
        f"CASE WHEN size({toks_col}) >= {n} THEN "
        f"transform(sequence(0, size({toks_col}) - {n}), "
        f"i -> array_join(slice({toks_col}, i + 1, {n}), ' ')) "
        f"ELSE cast(array() as array<string>) END"
    )
    return F.array_distinct(F.expr(f"transform({inner}, s -> xxhash64(s))"))


def _with_tokens(docs: DataFrame, text_col: str) -> DataFrame:
    """Project the whitespace tokens (``ws_tokens``, the tokenizer every
    oracle mirrors) once into ``_toks`` so every shingle window reads
    the materialized array instead of re-splitting; spread an
    under-partitioned scan first (shingle windows are the CPU-heavy
    stage and must not run on one core). Text with no tokens ("" or
    whitespace only) gets NULL tokens, exactly as NULL text does."""
    toks = F.col("_toks")
    return (
        spread(docs).withColumn("_toks", ws_tokens(text_col))
        .withColumn("_toks", F.when(F.size(toks) > 0, toks))
    )


def shingle_table(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Persisted (_id, _sh array<long>, _sz) shingle-hash table — the
    ppjoin "build the inverted index once" step. Shared by Jaccard
    candidate generation, verification, and MinHash signatures so the
    split+hash shingling scan runs once per corpus, not once per stage;
    storage is ids + 8-byte hashes, a tiny fraction of the text."""
    out = (
        _with_tokens(docs, text_col)
        .select(
            F.col(id_col).alias("_id"),
            _shingle_hash_col("_toks", n).alias("_sh"),
        )
        .withColumn("_sz", F.size("_sh"))
    )
    # persist() is illegal on a streaming DataFrame (and pointless —
    # each micro-batch is consumed once); the multi-consumer reuse the
    # persist buys only exists on the batch side
    return out if docs.isStreaming else out.persist()


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard over doc pairs.

    Without ``candidates`` this is the all-pairs self-join (correctness
    baseline / oracle twin — only for small inputs). With ``candidates``
    ((id_a, id_b) pairs, e.g. from LSH) it verifies just those — the scale
    path. Pass ``shingles`` (a ``shingle_table`` result) to reuse an
    already-built table. Output: id_a < id_b, jaccard double.
    """
    sh = shingles if shingles is not None else shingle_table(
        docs, n, text_col, id_col
    )
    sh_a = sh.select(
        F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"),
        F.col("_sz").alias("_sz_a"),
    )
    sh_b = sh.select(
        F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"),
        F.col("_sz").alias("_sz_b"),
    )
    if candidates is None:
        # exact all-pairs via prefix filtering (Bayardo et al. WWW'07 /
        # ppjoin, public algorithm): under a global token order, any pair
        # with J >= t must share a token within both docs' first
        # |S| - ceil(t*|S|) + 1 tokens of that order. The order is
        # ascending DOCUMENT FREQUENCY (ties by token value): prefixes
        # then hold each doc's rarest shingles, so the equi-join buckets
        # stay tiny — a frequent shingle sits at the tail of every doc's
        # order and never generates candidates. The size-compatibility
        # filter (J >= t implies t*max <= min) runs inside the join,
        # before the distinct.
        tok_df = (
            sh.select(F.explode("_sh").alias("_tok"))
            .groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
        )
        from pyspark import StorageLevel
        from pyspark.sql import Window

        # r13 (guide §2.3 "shuffle fewer bytes" / §1.2 per-task work):
        # materialize the prefix POSTINGS directly — (_id, _sz, _p,
        # _tok), one row per prefix entry — instead of the old
        # per-doc ordered ARRAY table that each join side re-sliced and
        # re-posexploded. The row_number window reproduces the
        # array_sort(collect_list(struct(_df, _tok))) order exactly
        # ((_df, _tok) asc; total within a doc because _sh is
        # distinct), and `_p < prefix_len` is the old slice(1, L).
        # Both join sides are now plain column renames of ONE persisted
        # table ~4x smaller than the array form (prefix entries only),
        # and the 2x slice+transform+posexplode per-side work is gone.
        # The decimal-literal ceil() is kept verbatim from the old
        # slice expression: Spark parses 0.35 as DECIMAL, and a
        # double-typed threshold could flip ceil() at exact-integer
        # products, shortening a prefix and silently dropping a true
        # pair.
        prefix_len = F.expr(
            f"greatest(_sz - cast(ceil({threshold} * _sz) as int) + 1, 1)"
        )
        w_doc = Window.partitionBy("_id").orderBy("_df", "_tok")
        pre = (
            sh.select("_id", "_sz", F.explode("_sh").alias("_tok"))
            .join(tok_df, "_tok")
            .withColumn("_p", F.row_number().over(w_doc) - 1)
            # df >= 2: a token appearing in exactly ONE doc corpus-wide
            # can never match across the self-join (and a doc's own
            # shingles are distinct, so it cannot self-pair) — dropping
            # its postings changes no candidate. Prunes ~0.1% on the
            # templated gate corpus but is the dominant cut on a real
            # crawl, where most shingles are unique (their df-ordered
            # rarest-first position puts them INTO prefixes).
            .filter((F.col("_p") < prefix_len) & (F.col("_df") >= 2))
            .select("_id", "_sz", "_p", "_tok")
            # consumed by BOTH sides of the self-join below; without the
            # persist each side re-runs the explode+DF-join+window
            # lineage (the exchange isn't reused across the differing
            # aliases). O(prefix entries) rows of 4 narrow columns.
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        pa = pre.select(
            F.col("_id").alias("id_a"), F.col("_sz").alias("_psz_a"),
            F.col("_p").alias("_pa"), "_tok",
        )
        pb = pre.select(
            F.col("_id").alias("id_b"), F.col("_sz").alias("_psz_b"),
            F.col("_p").alias("_pb"), "_tok",
        )
        # positional filter (ppjoin): J >= t requires overlap
        # alpha = ceil(t/(1+t) * (|a|+|b|)); for the pair's FIRST shared
        # token (minimal positions) the overlap is bounded by the tokens
        # remaining from that position, so pairs whose bound < alpha can
        # never qualify. Later shared-token rows may be filtered freely —
        # the first-shared row survives for every true pair, and the
        # distinct() keeps the pair. FP error in alpha only loosens the
        # bound (ceil of a hair-smaller product), never drops a true pair.
        alpha = F.ceil(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("_psz_a") + F.col("_psz_b"))
        )
        ubound = F.least(
            F.col("_psz_a") - F.col("_pa"), F.col("_psz_b") - F.col("_pb")
        )
        cand_ids = (
            pa.join(pb, "_tok")
            .filter(
                (F.col("id_a") < F.col("id_b"))
                & (
                    F.least("_psz_a", "_psz_b").cast("double")
                    >= F.lit(threshold) * F.greatest("_psz_a", "_psz_b")
                )
                & (ubound >= alpha)
            )
            .select("id_a", "id_b")
            .distinct()
        )
        pairs = cand_ids.join(sh_a, "id_a").join(sh_b, "id_b")
    else:
        # candidate verification: plain shuffle joins on id — the shingle
        # table is O(corpus) (TB-sized at 100 TB input) so it must NEVER
        # be broadcast; post-LSH candidates are the small side and AQE
        # will pick a broadcast of THAT side when it fits
        pairs = (
            candidates.select("id_a", "id_b")
            .join(sh_a, "id_a")
            .join(sh_b, "id_b")
        )
    inter = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
    union = (F.col("_sz_a") + F.col("_sz_b") - inter).cast("int")
    jac = F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
    out = pairs.select(
        F.col("id_a"), F.col("id_b"), jac.alias("jaccard")
    )
    return out.filter(F.col("jaccard") >= F.lit(threshold))


# The MinHash family, exact in int64 in any engine: the shingle's char
# polynomial mod POLY_P (< 2^30), then 31-bit permutations
# (a*x + b) mod 2^31-1, each product a*x < 2^61. The DuckDB oracle
# re-derives both verbatim (__spark_entry__.py dedup_minhash_lsh_expr).
_PERM_P31 = (1 << 31) - 1


def minhash_params31(num_hashes: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _PERM_P31, size=num_hashes, dtype=np.int64)
    b = rng.randint(0, _PERM_P31, size=num_hashes, dtype=np.int64)
    return a, b


def _minhash_kernel(n: int, num_hashes: int, seed: int):
    """The MinHash pandas UDF: ``_toks`` (array<string>, the JVM
    tokenizer's output) -> array<long> signature.

    The shingles are the ``n``-token windows joined by one space, the
    strings ``sig_and_shingle_table`` builds for the Jaccard table. A
    shingle's polynomial is composed from its tokens' polynomials
    (``poly(x + ' ' + y) = poly(x) * 31^(len y + 1) + 32 * 31^len y +
    poly(y)``), so no shingle string is ever built in Python. The
    permutation table is computed once per DISTINCT shingle hash of the
    Arrow batch, and each doc's signature is a gather-min over it. A doc
    with fewer than ``n`` tokens, or NULL text, gets the all-2^31-1
    signature."""
    a_params, b_params = minhash_params31(num_hashes, seed)
    empty = np.full(num_hashes, _PERM_P31, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(toks: pd.Series) -> pd.Series:
        arrs = [() if t is None else t for t in toks]
        counts = np.fromiter(map(len, arrs), np.int64, len(arrs))
        tok_h, tok_len = char_polys(
            [t for a in arrs for t in a], (31, POLY_P)
        )
        start, owner = segment_starts(counts, n)
        h = tok_h[start]
        if len(start):
            pw = poly_pows(31, POLY_P, int(tok_len.max()) + 2)
            for j in range(1, n):
                t = start + j
                h = (h * pw[tok_len[t] + 1] % POLY_P
                     + 32 * pw[tok_len[t]] + tok_h[t]) % POLY_P
        uniq, inv = np.unique(h, return_inverse=True)
        perm = (
            a_params[:, None] * uniq[None, :] + b_params[:, None]
        ) % _PERM_P31
        n_sh = np.bincount(owner, minlength=len(arrs))
        ends = np.cumsum(n_sh)
        return pd.Series([
            perm[:, inv[e - c:e]].min(axis=1) if c else empty
            for c, e in zip(n_sh.tolist(), ends.tolist())
        ])

    return minhash


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per doc: array<long> of ``num_hashes`` minima
    over the doc's distinct ``n``-token shingles (``_minhash_kernel``).
    Tokens come from the JVM tokenizer (``_with_tokens``), so the
    shingles are exactly the ones the Jaccard table hashes; empty docs
    get the all-max signature. The family is oracle-exact (see
    ``_PERM_P31``)."""
    kernel = _minhash_kernel(n, num_hashes, seed)
    return _with_tokens(docs, text_col).select(
        F.col(id_col), kernel(F.col("_toks")).alias("signature")
    )


def band_hashes(bands: int, sig_len: int) -> "F.Column":
    """array<long>: the banded-LSH bucket key of each of ``bands``
    slices of ``signature`` (``ceil(sig_len / bands)`` values each,
    comma-joined and xxhash64-ed). The one definition batch and stream
    LSH bucket with, so they pair alike."""
    rows = (sig_len + bands - 1) // bands
    return F.expr(
        f"transform(sequence(0, {bands - 1}), b -> xxhash64(array_join("
        f"slice(signature, b * {rows} + 1, {rows}), ',')))"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 32,
    id_col: str = "doc_id",
    sig_len: int | None = None,
    max_bucket_size: int | None = 1000,
    broadcast: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Banded LSH over MinHash signatures: docs sharing any band bucket
    become candidate pairs (id_a < id_b, distinct).

    The self-join is an equi-join keyed (band, bucket) — one shuffle of the
    banded table (bands x n_docs rows of 3 longs), never a broadcast of an
    O(corpus) side. ``broadcast=True`` opts into broadcasting the probe
    side for small corpora where the whole banded table fits in an
    executor; it is never the default.

    ``max_bucket_size`` is the skew guard: pair explosion within a bucket
    is quadratic, and degenerate buckets (empty docs, boilerplate) can
    hold a large fraction of the corpus. Buckets above the cap are dropped
    before pairing — a doc pair colliding in ANY other band still
    surfaces, which is exactly the banded-LSH contract. None disables.
    Dropping is a recall trade: pass ``stats={}`` to have it filled
    eagerly with ``dropped_buckets`` / ``dropped_rows`` so silent recall
    loss is observable; a warning is logged when anything was dropped.
    The stats job executes the banded-signature lineage, so that lineage
    is persisted (MEMORY_AND_DISK) for the pairing join to reuse instead
    of recomputing the signatures — the eager job's cost is the
    aggregation, not a second signature pass.

    Pass ``sig_len`` (= num_hashes) to avoid materializing the signature
    stage twice just to learn the array length.
    """
    if sig_len is None:
        sig_len = signatures.select(F.size("signature").alias("s")).first()["s"]

    from pyspark import StorageLevel

    banded = signatures.select(
        F.col(id_col),
        F.posexplode(band_hashes(bands, sig_len)).alias("band", "bucket"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # persisted unconditionally: the banded table feeds BOTH sides of the
    # self-join (plus the size gate and optional stats job), and upstream
    # is the minhash pandas UDF — without the persist Spark re-runs the
    # signature computation once per consumer (measured 3x). The table is
    # bands x n_docs rows of 3 longs — tiny next to its source corpus.
    if max_bucket_size is not None:
        # one extra aggregate on the SAME (band, bucket) key the join
        # shuffles on; the sizes table is tiny (distinct buckets) so the
        # gate join back is broadcast-able by AQE
        sizes = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_bsz")
        )
        if stats is not None:
            over = (
                sizes.filter(F.col("_bsz") > max_bucket_size)
                .agg(
                    F.count(F.lit(1)).alias("b"),
                    F.coalesce(F.sum("_bsz"), F.lit(0)).alias("r"),
                )
                .first()
            )
            stats["dropped_buckets"] = int(over["b"])
            stats["dropped_rows"] = int(over["r"])
            if over["b"]:
                import logging

                logging.getLogger(__name__).warning(
                    "lsh_candidate_pairs: dropped %d oversized buckets "
                    "(%d banded rows) at max_bucket_size=%d",
                    over["b"], over["r"], max_bucket_size,
                )
        banded = banded.join(
            sizes.filter(F.col("_bsz") <= max_bucket_size).drop("_bsz"),
            ["band", "bucket"],
            "leftsemi",
        )
    a = banded.alias("a")
    b = F.broadcast(banded.alias("b")) if broadcast else banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# segment-level dedup (CCNet-style paragraph dedup, generalized)
# ---------------------------------------------------------------------------

def segment_dedup(
    docs: DataFrame,
    segments_col,
    id_col: str = "doc_id",
    joiner: str = " ",
) -> DataFrame:
    """CCNet-style segment-level deduplication (Wenzek et al. 2019 dedupe
    paragraphs across the whole corpus before document-level filtering).

    ``segments_col``: a Column producing ``array<string>`` segments for a
    doc — paragraphs (``split(text, '\\n\\n')``), sentences, or fixed
    token chunks. A segment is KEPT iff this doc holds the corpus-wide
    first occurrence of its md5, first = smallest (doc_id, position);
    every later copy anywhere in the corpus is dropped.

    Shape at scale: explode segments -> ONE shuffle hash-partitioned on
    the segment digest, where ``rank()`` ordered by (doc_id, position)
    marks each digest's first occurrence -> re-group on doc_id. No
    aggregate per digest and no join back to the segments. The trade
    (``substring_dedup``'s): one digest is one window partition, so a
    segment repeated across many docs is sorted whole by one task where
    a map-side-combined aggregate would have folded it per map task.
    Cardinalities are bounded by total segment count; nothing is
    quadratic.

    Dirty ids: copies of one doc id tie at rank 1, so every copy keeps
    a segment the id holds first. A NULL doc id claims nothing: its
    rows sort after every id (they never hold a first occurrence) and
    keep all their own segments.

    Output per doc: n_segments, n_kept, kept_digest (md5 of the joined
    kept segments in original order; md5('') for docs left empty).
    """
    from pyspark.sql import Window

    segs = docs.select(
        F.col(id_col),
        F.posexplode_outer(segments_col).alias("_pos", "_seg"),
    )
    # a zero-segment doc explodes to one null row: its null digest
    # partition keeps nothing, and the doc still reaches the output (n=0)
    first = Window.partitionBy(F.md5(F.col("_seg"))).orderBy(
        F.col(id_col).asc_nulls_last(), "_pos"
    )
    marked = segs.select(
        id_col, "_pos", "_seg",
        (
            (F.col(id_col).isNull() | (F.rank().over(first) == 1))
            & F.col("_seg").isNotNull()
        ).alias("_keep"),
    )
    return marked.groupBy(id_col).agg(
        F.count(F.col("_seg")).alias("n_segments"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.md5(
            F.concat_ws(
                joiner,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_pos", "_seg"))
                        )
                    ),
                    lambda s: s["_seg"],
                ),
            )
        ).alias("kept_digest"),
    )


def token_chunks(text_col, chunk: int = 20, tokenized: bool = False):
    """``array<string>`` of fixed-size whitespace-token chunks — the
    segmenter the oracle query uses (re-derivable in SQL; documents in
    the fixture have no newlines to split paragraphs on).

    ``tokenized=True``: ``text_col`` is already an ``array<string>``
    token column. Prefer this with a MATERIALIZED column — the slice
    lambda below re-evaluates an inlined tokenizer once per chunk index
    (no CSE across lambda boundaries)."""
    toks = F.col(text_col) if tokenized and isinstance(text_col, str) else (
        text_col if tokenized else ws_tokens(text_col)
    )
    return F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(
                F.lit(0), F.floor((F.size(toks) - 1) / chunk).cast("int")
            ),
            lambda i: F.array_join(F.slice(toks, i * chunk + 1, chunk), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# train/eval contamination check (n-gram overlap decontamination)
# ---------------------------------------------------------------------------

def contamination_check(
    eval_docs: DataFrame,
    train_docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_df_cap: int | None = None,
) -> DataFrame:
    """Benchmark-decontamination scan (the n-gram overlap check of
    GPT-3 appx. C / PaLM appx. - public methodology): for every eval
    doc, count its distinct n-token shingles that also occur anywhere in
    the training corpus.

    The join key is xxhash64 of the shingle TEXT (space-joined token
    window) — an internal optimization over joining on long strings;
    counts are identical modulo 64-bit collisions, which is how the
    driver oracle (joining on the strings themselves in DuckDB) can
    verify it independently.

    ``train_df_cap``: drop train shingles occurring in more than this
    many train docs before the join — the boilerplate guard; ubiquitous
    shingles both cause reducer skew and carry no contamination signal.

    Shape at scale: two shingle explodes -> distinct -> one equi-join on
    the hash (inverted-index build), one re-agg on eval doc_id. Linear
    in corpus size; the df-cap bounds the hottest key.

    Output per eval doc: n_shingles, n_hits, contamination_frac,
    is_contaminated (int 0/1). Eval docs too short for one shingle get
    n_shingles = 0 and count as clean.
    """
    def shingles(df: DataFrame) -> DataFrame:
        # tokens are MATERIALIZED into a column before the shingle
        # transform: Catalyst does not CSE across lambda boundaries, so
        # an inlined ws_tokens() under slice() re-splits the text once
        # per shingle index — O(tokens^2) splits per doc, measured 14x
        # (10s -> 0.7s at sf0.1) on this very operator
        staged = df.select(F.col(id_col), ws_tokens(text_col).alias("_tk"))
        tk = F.col("_tk")
        sh = F.when(
            F.size(tk) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - (n - 1)),
                    lambda i: F.array_join(F.slice(tk, i, n), " "),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        return staged.select(F.col(id_col), sh.alias("_sh"))

    ev_docs = shingles(eval_docs)
    # n_shingles is free — size of the per-doc distinct array; only the
    # HIT counting needs the explode + join (an inner join: non-hit
    # shingles never travel through the shuffle, and zero-hit docs come
    # back via the cheap per-doc left join below)
    ev_counts = ev_docs.select(id_col, F.size("_sh").alias("n_shingles"))
    # explode_OUTER + null filter, not explode (r6): the inner
    # explode's inferred size(_sh)>0 predicate is pushed below the
    # token-staging projection with the WHOLE shingle expression
    # re-inlined — tokenize + window + distinct runs twice per doc
    # (see sketch.with_shingle_hashes for the measured twin trap)
    ev = ev_docs.select(
        F.col(id_col), F.explode_outer("_sh").alias("_s")
    ).filter(F.col("_s").isNotNull()).select(
        id_col, F.xxhash64("_s").alias("_h")
    )
    tr = (
        shingles(train_docs)
        .select(F.explode_outer("_sh").alias("_s"),
                F.col(id_col).alias("_tid"))
        .filter(F.col("_s").isNotNull())
        .select(F.xxhash64("_s").alias("_h"), "_tid")
    )
    if train_df_cap is not None:
        tr_keys = (
            tr.groupBy("_h")
            .agg(F.countDistinct("_tid").alias("_df"))
            .filter(F.col("_df") <= train_df_cap)
            .select("_h")
        )
    else:
        tr_keys = tr.select("_h").distinct()
    hit_counts = (
        ev.join(tr_keys, "_h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    hits = ev_counts.join(hit_counts, id_col, "left").select(
        id_col, "n_shingles",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
    )
    frac = F.when(
        F.col("n_shingles") > 0,
        F.col("n_hits").cast("double") / F.col("n_shingles"),
    ).otherwise(F.lit(0.0))
    return hits.select(
        F.col(id_col),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.round(frac, 6).alias("contamination_frac"),
        (F.col("n_hits") > 0).cast("int").alias("is_contaminated"),
    )


def fuzzy_dedup_pairs(
    docs: DataFrame,
    max_dist: int = 16,
    n: int = 3,
    prefilter_jaccard: float = 0.15,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Edit-distance near-duplicate pairs: candidate pairs (shingle
    prefilter or a supplied LSH set) verified by banded Levenshtein.

    The tier between exact hashing and set-similarity: it catches small
    in-place edits (typo fixes, one-word swaps, boilerplate date
    stamps) that shift every overlapping shingle yet leave the strings
    within ``max_dist`` single-character edits. Pure set-Jaccard ranks
    such pairs low; byte-exact hashing misses them entirely.

    Candidates default to ``ngram_jaccard_pairs`` at a deliberately low
    ``prefilter_jaccard`` (a doc pair within d edits of each other still
    shares most of its shingles once d << len, so a loose Jaccard floor
    is a safe, cheap recall gate — the ppjoin prefix filter keeps it
    from going all-pairs). Pass ``candidates`` ((id_a, id_b)) to
    verify an LSH/simhash candidate stream instead at scale.

    Verification is JVM-side ``levenshtein(a, b, max_dist)`` — Spark's
    banded form costs O(len * max_dist) per pair instead of
    O(len_a * len_b) and returns -1 past the band, so the filter never
    materializes a full DP matrix for clearly-distant pairs. Output:
    id_a < id_b, edit_dist, edit_ratio = dist / greatest(len_a, len_b)
    (rounded to 6; 0.0 for two empty strings).

    Scale shape: candidate generation is the bounded ppjoin/LSH
    shuffle; verification is two id equi-joins (AQE broadcasts the
    candidate side when it fits) plus a narrow projection. Nothing
    quadratic, nothing driver-side.

    Cross-engine note: Spark's levenshtein counts CHARACTER edits,
    DuckDB's counts BYTE edits — identical on ASCII, divergent on
    multi-byte UTF-8. The driver-gate corpus is ASCII; oracles for
    non-ASCII corpora must normalize first.
    """
    cands = candidates if candidates is not None else (
        ngram_jaccard_pairs(
            docs, n=n, threshold=prefilter_jaccard,
            text_col=text_col, id_col=id_col,
        ).select("id_a", "id_b")
    )
    ta = docs.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("_t_a")
    )
    tb = docs.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("_t_b")
    )
    joined = cands.join(ta, "id_a").join(tb, "id_b")
    dist = F.levenshtein(F.col("_t_a"), F.col("_t_b"), max_dist)
    maxlen = F.greatest(F.length("_t_a"), F.length("_t_b"))
    ratio = F.when(maxlen == 0, F.lit(0.0)).otherwise(
        F.col("edit_dist").cast("double") / maxlen.cast("double")
    )
    return (
        joined.withColumn("edit_dist", dist)
        .filter(
            (F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist)
        )
        .select(
            "id_a", "id_b",
            F.col("edit_dist").cast("long").alias("edit_dist"),
            F.round(ratio, 6).alias("edit_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# incremental (new-batch vs corpus) dedup
# ---------------------------------------------------------------------------

def lsh_candidate_pairs_cross(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    bands: int = 16,
    id_col: str = "doc_id",
    sig_len: int | None = None,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Banded-LSH candidates BETWEEN two signature tables: (new id,
    corpus id) pairs sharing any band bucket — the probe shape of
    ``lsh_candidate_pairs``'s self-join, for incremental ingest.

    One equi-join on (band, bucket): the corpus side shuffles once at
    O(bands x corpus) rows of 3 longs; the new side is the daily batch
    (typically tiny — AQE broadcasts it when it fits). The skew guard
    drops oversized CORPUS buckets only (boilerplate signatures): the
    new batch is bounded by construction and gating it would let one
    hot corpus bucket silently eat the batch.

    Output: (id_new, id_old) distinct.
    """
    if sig_len is None:
        row = new_sigs.select(F.size("signature").alias("s")).first()
        if row is None:
            raise ValueError(
                "new_sigs is empty; pass sig_len explicitly to probe "
                "an empty batch (incremental_dedup does)"
            )
        sig_len = row["s"]

    def banded(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            F.col(id_col),
            F.posexplode(band_hashes(bands, sig_len)).alias("band", "bucket"),
        )

    nb = banded(new_sigs)
    cb = banded(corpus_sigs)
    if max_bucket_size is not None:
        sizes = cb.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_bsz")
        )
        cb = cb.join(
            sizes.filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz"),
            ["band", "bucket"],
            "leftsemi",
        )
    return (
        nb.alias("n").join(cb.alias("c"), ["band", "bucket"])
        .select(
            F.col(f"n.{id_col}").alias("id_new"),
            F.col(f"c.{id_col}").alias("id_old"),
        )
        .distinct()
    )


def sig_and_shingle_table(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """ONE staged projection computing BOTH per-doc dedup columns from a
    single JVM tokenization: the Jaccard-verify shingle table (xxhash64
    of the materialized shingle strings) and the MinHash signature
    (``_minhash_kernel`` over the same tokens). Output (_id, _sh
    array<long>, _sz, signature array<long>) — _sh/_sz bit-identical to
    ``shingle_table``, signature bit-identical to
    ``minhash_signatures`` (pinned by test). Persisted on the batch
    side like ``shingle_table``."""
    strs = "_toks" if n == 1 else (
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"transform(sequence(0, size(_toks) - {n}), "
        f"i -> array_join(slice(_toks, i + 1, {n}), ' ')) "
        f"ELSE cast(array() as array<string>) END"
    )
    # the shingle array materialized before the hash transform
    # references it — the house lambda-CSE rule (_shingle_hash_col)
    staged = (
        _with_tokens(docs, text_col)
        .withColumn("_sstr", F.expr(strs))
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(
                F.expr("transform(_sstr, s -> xxhash64(s))")
            ).alias("_sh"),
            _minhash_kernel(n, num_hashes, seed)(F.col("_toks"))
            .alias("signature"),
        )
    )
    out = staged.select("_id", "_sh", F.size("_sh").alias("_sz"), "signature")
    return out if docs.isStreaming else out.persist()


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Daily-ingest deduplication: flag every NEW doc that near-
    duplicates an EXISTING corpus doc — the operation a crawl pipeline
    runs on each batch before appending it (the self-join dedup
    operators assume the whole corpus re-deduplicates at once; at
    100 TB nobody re-runs that per day).

    MinHash-LSH buckets both sides; the (band, bucket) equi-join yields candidates; exact
    n-gram Jaccard verifies them; each new doc reports its BEST corpus
    match (highest jaccard, ties to the lowest corpus id).

    Shape at 100 TB: the corpus side is touched exactly twice — one
    signature projection (narrow) + one banded shuffle of 3-long rows;
    nothing about the corpus is broadcast or re-deduplicated. Shingle
    verification joins only the candidate ids' rows.

    Output: one row per NEW doc — (id, is_dup int 0/1, dup_of
    nullable, jaccard nullable, rounded 6).
    """
    tbl_new = sig_and_shingle_table(
        new_docs, n, num_hashes, text_col, id_col, seed
    )
    tbl_old = sig_and_shingle_table(
        corpus, n, num_hashes, text_col, id_col, seed
    )
    cand = lsh_candidate_pairs_cross(
        tbl_new.select(F.col("_id").alias(id_col), "signature"),
        tbl_old.select(F.col("_id").alias(id_col), "signature"),
        bands=bands, id_col=id_col,
        sig_len=num_hashes, max_bucket_size=max_bucket_size,
    )

    sh_new = tbl_new.select(
        F.col("_id").alias("id_new"), F.col("_sh").alias("_sh_n"),
        F.col("_sz").alias("_sz_n"),
    )
    sh_old = tbl_old.select(
        F.col("_id").alias("id_old"), F.col("_sh").alias("_sh_o"),
        F.col("_sz").alias("_sz_o"),
    )
    inter = F.size(F.array_intersect(F.col("_sh_n"), F.col("_sh_o")))
    union = (F.col("_sz_n") + F.col("_sz_o") - inter).cast("int")
    jac = F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
    verified = (
        cand.join(sh_new, "id_new").join(sh_old, "id_old")
        .select("id_new", "id_old", jac.alias("_jac"))
        .filter(F.col("_jac") >= F.lit(threshold))
    )
    # best corpus match per new doc: ONE mergeable struct-min aggregate
    # (no window — a viral near-dup class collapses map-side). min over
    # (-jaccard, id_old) picks the max jaccard and breaks exact ties to
    # the smallest corpus id, with id_old ordered by its OWN type (only
    # the always-numeric jaccard is negated, so non-numeric id columns
    # still work — the constraint that previously forced a two-step
    # max + tie-break join). r13 (guide §2.3): the two-step form ran
    # the whole candidate+verify pipeline TWICE — `verified` fed both
    # the max aggregate and the join back — which the plan showed as a
    # duplicated banded-join/distinct/verify subtree.
    best = (
        verified.groupBy("id_new")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_jac")).alias("_nj"),
                    F.col("id_old").alias("dup_of"),
                    F.col("_jac").alias("_j"),
                )
            ).alias("_b")
        )
        .select(
            "id_new",
            F.col("_b.dup_of").alias("dup_of"),
            F.round(F.col("_b._j"), 6).alias("jaccard"),
        )
    )
    return (
        new_docs.select(F.col(id_col).alias("id_new"))
        .join(best, "id_new", "left")
        .select(
            F.col("id_new").alias(id_col),
            F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
            "dup_of",
            "jaccard",
        )
    )


def substring_dedup(
    docs: DataFrame,
    length: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: str = "hash",
    return_text: bool = False,
) -> DataFrame:
    """Cross-corpus EXACT substring deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr stage): any ``length``-char window occurring more than
    once ANYWHERE in the corpus keeps only its globally-first
    occurrence (smallest (doc_id, pos)); every other occurrence is
    excised from its document in place.

    Pipeline, all JVM expressions (no Python in the hot path):
    1. stride-1 windows per doc, generated once with codegen'd
       expressions (explode ``sequence(1, len - length + 1)``, then one
       ``substring`` per row, or its md5) — O(total_chars) rows, the
       operator's honest linear blow-up (the reference algorithm's
       suffix array is the same asymptotic footprint);
    2. ONE shuffle on the window key: ``key='hash'`` (default)
       shuffles 16-byte md5 digests — the 100-TB path. A collision
       here EXCISES unique text, so the digest must be wide: at 1e14
       windows the md5 birthday bound is ~1e28/2^129 ≈ 1.5e-11 expected
       colliding pairs (a 64-bit hash would already expect ~1e8 —
       silent corruption, which is why xxhash64 is NOT used here).
       ``key='exact'`` shuffles the window strings themselves —
       collision-free, used by the oracle twin and asserted equal to
       the hash path in tests. The first occurrence resolves inside
       that shuffle: ``rank()`` over the window key ordered by
       (doc_id, pos), and every row ranked above 1 is excised — no
       aggregate per window and no join back to the windows. The
       trade: one window key is one window partition, buffered whole
       by one task, so a hot key (boilerplate repeated across many
       docs) is sorted and held in full, spilling once it outgrows
       the task's memory, where a map-side-combined aggregate would
       have folded it per map task. At 5000 copies of every footer
       window the rank shape still costs less CPU (SCALE.md
       §substring_dedup in one shuffle);
    3. non-first occurrences come back to their docs and merge into
       excision spans with per-DOC gaps-and-islands (window functions
       partitioned by doc — bounded by the doc's own dup count);
    4. the deduped text is rebuilt by ONE fold over the doc's sorted
       spans (substring concatenation between spans).

    Output per doc: (id_col, n_windows, n_removed_spans,
    n_removed_chars, len_after, out_md5) — md5 of the rebuilt text
    makes the excision byte-exact-checkable without shipping the text.
    ``return_text=True`` appends the rebuilt text itself as
    ``text_out`` (the curation-pipeline consumer shape; xe_curate's
    substr_dedup stage). Docs shorter than ``length`` pass through
    untouched.

    Dirty ids: copies of one doc id tie at rank 1, so every copy keeps
    a window the id holds first (and a cut is applied to every row of
    that id). A NULL doc id passes through unchanged
    (``n_removed_* = 0``, its own text): its windows neither claim a
    first occurrence nor get excised.
    """
    from pyspark.sql import Window

    if key not in ("hash", "exact"):
        raise ValueError(f"key must be hash|exact: {key!r}")
    L = int(length)
    if L < 2:
        raise ValueError("window length must be >= 2")

    base = docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    )
    # NB: guard the short-doc case with CASE, not greatest(.., 0):
    # Spark's sequence(1, 0) is DESCENDING [1, 0] (implicit step -1)
    # and would mint two phantom whole-doc windows per short doc
    win = f"substring(_t, _pos, {L})"
    wins = (
        spread(base.filter(F.col("_id").isNotNull()))
        .select(
            "_id", "_t",
            F.explode(F.expr(
                f"CASE WHEN length(_t) >= {L} "
                f"THEN sequence(1, length(_t) - {L} + 1) "
                f"ELSE cast(array() as array<int>) END"
            )).alias("_pos"),
        )
        .select(
            "_id", "_pos",
            F.expr(f"unhex(md5({win}))" if key == "hash" else win)
            .alias("_w"),
        )
    )

    # every occurrence after a window's first is excised; rank, not
    # row_number: copies of one doc id tie at rank 1 and all keep
    # their text
    w_first = Window.partitionBy("_w").orderBy("_id", "_pos")
    removed = (
        wins.withColumn("_rk", F.rank().over(w_first))
        .filter(F.col("_rk") > 1)
        .select("_id", "_pos")
    )

    # gaps-and-islands span merge, per doc (a tie is a duplicate doc
    # id's repeated (_id, _pos): it never opens an island, so the spans
    # do not depend on the tie order)
    w_prev = (
        Window.partitionBy("_id").orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("_id").orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        removed
        .withColumn(
            "_newi",
            (
                F.col("_pos")
                > F.coalesce(F.max(F.col("_pos") + L).over(w_prev),
                             F.lit(-1))
            ).cast("int"),
        )
        .withColumn("_isl", F.sum("_newi").over(w_run))
        .groupBy("_id", "_isl")
        .agg(
            F.min("_pos").alias("_s"),
            (F.max("_pos") + L).alias("_e"),   # [s, e), 1-based
        )
    )
    per_doc = spans.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_removed_spans"),
        F.sum(F.col("_e") - F.col("_s")).cast("long")
        .alias("n_removed_chars"),
        F.array_sort(F.collect_list(F.struct("_s", "_e"))).alias("_sp"),
    )

    n_wins = F.greatest(F.length("_t") - L + 1, F.lit(0)).cast("long")
    # fold: acc = (next kept char position, rebuilt prefix)
    acc0 = F.struct(F.lit(1).alias("p"), F.lit("").alias("o"))
    rebuilt = F.aggregate(
        F.col("_sp"),
        acc0,
        lambda acc, sp: F.struct(
            sp["_e"].alias("p"),
            F.concat(
                acc["o"],
                F.col("_t").substr(acc["p"], sp["_s"] - acc["p"]),
            ).alias("o"),
        ),
        lambda acc: F.concat(
            acc["o"],
            F.col("_t").substr(acc["p"],
                               F.greatest(F.length("_t") - acc["p"] + 1,
                                          F.lit(0))),
        ),
    )
    return (
        base.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            n_wins.alias("n_windows"),
            F.coalesce("n_removed_spans", F.lit(0)).alias("n_removed_spans"),
            F.coalesce("n_removed_chars", F.lit(0)).alias("n_removed_chars"),
            F.when(F.col("_sp").isNull(), F.col("_t"))
            .otherwise(rebuilt).alias("_out"),
        )
        .select(
            id_col, "n_windows", "n_removed_spans", "n_removed_chars",
            F.length("_out").cast("long").alias("len_after"),
            F.md5(F.col("_out")).alias("out_md5"),
            *([F.col("_out").alias("text_out")] if return_text else []),
        )
    )
