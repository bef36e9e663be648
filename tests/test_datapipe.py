"""Datapipe tests: dedup tiers (exact / n-gram Jaccard / MinHash-LSH /
SimHash), similarity search, text analysis. LSH recall is cross-checked
against the exact all-pairs baseline — the check the driver can't do in SQL."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from xenoeye_spark.datapipe.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from xenoeye_spark.datapipe.similarity import brute_force_topk, lsh_bucket_topk
from xenoeye_spark.datapipe.text import hamming64, language_id, simhash60, text_stats


WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def _corpus(spark, n=40, seed=3):
    """Docs with built-in near-dup pairs: doc 2i+1 = doc 2i with one word
    changed (high Jaccard); plus exact dups of doc 0."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        toks = [WORDS[j] for j in rng.randint(0, len(WORDS), 30)]
        rows.append((2 * i, " ".join(toks)))
        mutated = list(toks)
        mutated[5] = "MUTANT"
        rows.append((2 * i + 1, " ".join(mutated)))
    rows.append((9998, rows[0][1]))  # exact dup of doc 0
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    docs = _corpus(spark, n=5)
    out = exact_dedup(docs).collect()
    dup_groups = [r for r in out if r["n_docs"] > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0]["keep_id"] == 0 and dup_groups[0]["n_docs"] == 2


def test_ngram_jaccard_finds_mutant_pairs(spark):
    docs = _corpus(spark, n=10)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # every (2i, 2i+1) mutant pair shares all but ~3 of 28 shingles
    for i in range(10):
        assert (2 * i, 2 * i + 1) in got
    # exact dup pair has jaccard 1.0
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert j[(0, 9998)] == pytest.approx(1.0)


def test_minhash_lsh_recall_vs_exact(spark):
    """LSH candidates must recover (nearly) all true pairs at J>=0.5 with
    64 hashes / 16 bands (s-curve threshold ~ (1/16)^(1/4) ~ 0.5). The
    signature stage is ONE Python eval node (the numpy kernel) with no
    xxhash64 in it — the family the DuckDB oracle re-derives."""
    docs = _corpus(spark, n=15)
    exact = {(r["id_a"], r["id_b"])
             for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    sigs = minhash_signatures(docs, n=3, num_hashes=64)
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "xxhash64" not in plan
    cands = lsh_candidate_pairs(sigs, bands=16)
    verified = {(r["id_a"], r["id_b"])
                for r in ngram_jaccard_pairs(
                    docs, n=3, threshold=0.5, candidates=cands).collect()}
    recall = len(verified & exact) / max(len(exact), 1)
    assert recall >= 0.9
    assert verified <= exact  # verification step guarantees no false accepts


def test_simhash_properties(spark):
    docs = _corpus(spark, n=5)
    out = {r["doc_id"]: r["simhash"] for r in simhash60(docs).collect()}
    assert out[0] == out[9998]  # identical text -> identical fingerprint
    ham = spark.createDataFrame(
        [(out[0], out[1]), (out[0], out[4])], "a long, b long"
    ).select(hamming64(F.col("a"), F.col("b")).alias("h")).collect()
    # near-dup pair: small distance; unrelated docs: larger
    assert ham[0]["h"] <= 16
    assert ham[0]["h"] <= ham[1]["h"]


def test_simhash_neardup_equals_bruteforce(spark):
    """Banded candidates must be EXACT for radius <= bands-1: the banded
    join + verify returns precisely the brute-force hamming<=r pairs."""
    from xenoeye_spark.datapipe.text import simhash_neardup_pairs

    docs = _corpus(spark, n=12)
    fps = {r["doc_id"]: r["simhash"] for r in simhash60(docs).collect()}
    ids = sorted(fps)
    expected = {
        (a, b): bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(docs, radius=3, bands=4).collect()
    }
    assert got == expected
    assert expected, "corpus should contain at least one near-dup pair"


def test_brute_force_topk_vs_numpy(spark):
    rng = np.random.RandomState(11)
    vecs = rng.randn(30, 8).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=5).collect()
    got = [r["vec_id"] for r in sorted(out, key=lambda r: -r["cosine"])]
    norms = np.linalg.norm(vecs, axis=1)
    cos = (vecs @ vecs[0]) / (norms * norms[0])
    cos[0] = -np.inf  # exclude self
    exp = list(np.argsort(np.round(-cos, 6), kind="stable")[:5])
    assert got == exp


def test_lsh_bucket_topk_subset_of_exact(spark):
    rng = np.random.RandomState(5)
    vecs = rng.randn(60, 8).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") < 3)
    approx = lsh_bucket_topk(df, q, dim=8, k=5, n_planes=4)
    rows = approx.collect()
    assert len(rows) > 0
    # approximate scores must be true cosines (exact within bucket)
    norms = np.linalg.norm(vecs, axis=1)
    for r in rows:
        true_cos = float(vecs[r["query_id"]] @ vecs[r["vec_id"]]
                         / (norms[r["query_id"]] * norms[r["vec_id"]]))
        assert r["cosine"] == pytest.approx(true_cos, abs=1e-5)


def test_text_stats_golden(spark):
    docs = spark.createDataFrame(
        [(1, "the cat and the hat."), (2, ""), (3, "xyzzy")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text_stats(docs).collect()}
    assert out[1]["n_tokens"] == 5
    assert out[1]["n_chars"] == 20
    assert out[1]["stopword_ratio"] == pytest.approx(3 / 5, abs=1e-6)  # the, and, the
    assert out[1]["punct_ratio"] == pytest.approx(1 / 20, abs=1e-6)
    assert out[2]["n_tokens"] == 0 and out[2]["avg_token_len"] == 0.0
    assert out[3]["stopword_ratio"] == 0.0


def test_language_id_votes(spark):
    docs = spark.createDataFrame(
        [(1, "the cat is in the house and it is warm"),
         (2, "der Hund ist von der Stadt und das ist gut"),
         (3, "le chat est pour la maison et les autres"),
         (4, "zzz qqq xxx")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_guess"] for r in language_id(docs).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "und"


def test_ivf_topk_recall_vs_exact(spark):
    from xenoeye_spark.datapipe.similarity import ivf_topk
    rng = np.random.RandomState(9)
    # clustered corpus so IVF cells are meaningful
    centers = rng.randn(4, 8) * 5
    vecs = np.vstack([c + rng.randn(40, 8) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id").isin([0, 40, 80, 120]))
    exact = brute_force_topk(df, q, k=5).collect()
    approx = ivf_topk(df, q, k=5, n_cells=4, n_probe=2).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hit = tot = 0
    for r in approx:
        tot += 1
        hit += r["vec_id"] in exact_sets[r["query_id"]]
    assert tot > 0 and hit / tot >= 0.8  # high recall on clustered data
    # scores are true cosines (exact within probed cells)
    norms = np.linalg.norm(vecs, axis=1)
    for r in approx[:10]:
        true = float(vecs[r["query_id"]] @ vecs[r["vec_id"]]
                     / (norms[r["query_id"]] * norms[r["vec_id"]]))
        assert r["cosine"] == pytest.approx(true, abs=1e-5)


def test_cosine_neardup_lsh_vs_exact(spark):
    from xenoeye_spark.datapipe.similarity import (
        cosine_neardup_lsh,
        cosine_neardup_pairs,
    )
    rng = np.random.RandomState(21)
    base = rng.randn(30, 16)
    # make 10 near-dup pairs: tiny perturbations
    vecs = np.vstack([base, base[:10] + rng.randn(10, 16) * 0.05])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    exact = {(r["id_a"], r["id_b"])
             for r in cosine_neardup_pairs(df, threshold=0.95).collect()}
    approx = {(r["id_a"], r["id_b"])
              for r in cosine_neardup_lsh(df, dim=16, threshold=0.95).collect()}
    assert approx <= exact          # verification: no false accepts
    assert len(exact) >= 10
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8            # multi-table LSH recovers most pairs


def test_cosine_neardup_blocked_matches_single_block(spark):
    """The distributed block-pair path (block_rows small -> many blocks)
    must emit exactly the single-block result: every unordered pair seen
    once, cross-block id ordering normalized to id_a < id_b."""
    from xenoeye_spark.datapipe.similarity import cosine_neardup_pairs
    rng = np.random.RandomState(7)
    base = rng.randn(40, 8)
    vecs = np.vstack([base, base[:15] + rng.randn(15, 8) * 0.03])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    one = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in cosine_neardup_pairs(df, threshold=0.9).collect()}
    many = {(r["id_a"], r["id_b"]): r["cosine"]
            for r in cosine_neardup_pairs(
                df, threshold=0.9, block_rows=7).collect()}
    assert many == one
    assert len(one) >= 15
    assert all(a < b for (a, b) in one)


def test_cosine_neardup_strip_tiling_matches(spark):
    """sim_tile_bytes small enough to force multi-strip matmuls must not
    change the emitted pairs (the strip loop is a pure memory bound)."""
    from xenoeye_spark.datapipe.similarity import cosine_neardup_pairs
    rng = np.random.RandomState(11)
    base = rng.randn(30, 8)
    vecs = np.vstack([base, base[:10] + rng.randn(10, 8) * 0.02])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    whole = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in cosine_neardup_pairs(df, threshold=0.9).collect()}
    # 16 bytes / (|ib| * 8) -> strips of 1 row; n_rows exercises the
    # precomputed-count path
    striped = {(r["id_a"], r["id_b"]): r["cosine"]
               for r in cosine_neardup_pairs(
                   df, threshold=0.9, block_rows=9, n_rows=len(vecs),
                   sim_tile_bytes=16).collect()}
    assert striped == whole
    assert len(whole) >= 10


def test_lsh_dropped_bucket_stats(spark):
    """stats out-param surfaces the skew-guard recall trade
    (ADVICE round 2): oversized buckets are counted, not silently lost."""
    from xenoeye_spark.datapipe.dedup import lsh_candidate_pairs, minhash_signatures
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text body") for i in range(20)]
        + [(100 + i, f"unique document number {i} with words {i*7}")
           for i in range(5)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs, num_hashes=16)
    stats: dict = {}
    pairs = lsh_candidate_pairs(
        sigs, bands=4, max_bucket_size=10, stats=stats
    ).collect()
    # the 20 identical docs collide in every band's bucket (size 20 > 10)
    assert stats["dropped_buckets"] >= 1
    assert stats["dropped_rows"] >= 20
    dropped_ids = set(range(20))
    assert all(r["id_a"] not in dropped_ids for r in pairs)

    stats2: dict = {}
    lsh_candidate_pairs(sigs, bands=4, max_bucket_size=None, stats=stats2)
    assert stats2 == {}  # guard disabled -> nothing computed


# Pure-Python replays of the oracle-exact similarity families. Tokens
# split on Java's \s class, [ \t\n\x0B\f\r] (what Spark's split()
# and the kernels' JVM tokenizer use); NBSP, U+2003 and the rest of
# Unicode whitespace are token characters. A char hashes as its code
# point, non-BMP included.
_JAVA_WS = "[ \t\n\x0b\f\r]+"


def _poly(s, m=31, p=1000000007):
    acc = 0
    for ch in s:
        acc = (acc * m + ord(ch)) % p
    return acc


def _simhash_replay(text):
    import re

    toks = [t for t in re.split(_JAVA_WS, text or "") if t]
    hs = [_poly(t, 31, 1073741789) * (1 << 30) + _poly(t, 131, 1073741783)
          for t in toks]
    fp = 0
    for b in range(60):
        ones = sum((h >> b) & 1 for h in hs)
        if 2 * ones > len(hs):
            fp |= 1 << b
    return fp


def _winnow_replay(text, k=8, w=4):
    text = text or ""
    if len(text) >= k:
        grams = [_poly(text[i:i + k]) for i in range(len(text) - k + 1)]
    elif text:
        grams = [_poly(text)]
    else:
        grams = []
    if len(grams) >= w:
        grams = [min(grams[i:i + w]) for i in range(len(grams) - w + 1)]
    sel = sorted(set(grams))
    return _poly(",".join(str(x) for x in sel)), len(sel)


def _minhash_replay(text, n, num_hashes, seed=42):
    import re

    from xenoeye_spark.datapipe.dedup import minhash_params31

    a, b = minhash_params31(num_hashes, seed)
    toks = [t for t in re.split(_JAVA_WS, text or "") if t]
    hs = {_poly(" ".join(toks[i:i + n])) for i in range(len(toks) - n + 1)}
    return [min(((int(a[p]) * x + int(b[p])) % 2147483647 for x in hs),
                default=2147483647) for p in range(num_hashes)]


def test_simhash_expr_matches_python_replay(spark):
    """The 60-bit fingerprint (simhash60, what the simhash_expr query
    runs) must equal a direct replay of its definition (two char
    polynomials, majority votes)."""
    docs = _corpus(spark, n=6)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {r["doc_id"]: r["simhash"] for r in simhash60(docs).collect()}
    for did, text in texts.items():
        assert got[did] == _simhash_replay(text), did


def test_doc_fingerprint_expr_matches_python_replay(spark):
    """The winnowing kernel (doc_fingerprint, what the
    doc_fingerprint_expr query runs) must equal a direct replay of its
    definition: poly gram hashes, window-of-4 minima, sorted distinct,
    poly digest of the joined selection."""
    from xenoeye_spark.datapipe.text import doc_fingerprint

    docs = _corpus(spark, n=5)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {r["doc_id"]: (r["fp_digest"], r["fp_size"])
           for r in doc_fingerprint(docs).collect()}
    for did, text in texts.items():
        assert got[did] == _winnow_replay(text), did


# dirty input: every case where a Python tokenizer (re's Unicode \s,
# str.strip()/split()) and the JVM's disagree, plus the empty, short
# and NULL contracts
_DIRTY_DOCS = [
    (1, "  lead and trail spaces here  "),
    (2, "a\xa0b c d e"),
    (3, "a b c d e"),
    (4, "\xa0nbsp at ends  inside\u2003x y\xa0"),
    (5, "\u2003em space\u2003doc with words\u2003"),
    (6, "vt\x0bsplit here now ok"),
    (7, "emoji \U0001F600 in the middle of text"),
    (8, "\u00e9 \u4e2d bmp non ascii chars here"),
    (9, ""),
    (10, "two toks"),
    (11, None),
    (12, "\t tab\tled\ntext with\r\nbreaks \x0c ff"),
    (13, "short"),
]


def test_similarity_kernels_dirty_input(spark):
    """The MinHash, SimHash and winnowing kernels on dirty input equal
    the pure-Python replays of the oracle family with the JVM's
    tokenizer (the expression twins' outputs, which they replaced):
    NBSP / U+2003 are token characters, \x0B splits, leading/trailing
    spaces make no token, code points hash whole (U+1F600 is one
    char), and empty / short / NULL docs give the all-2^31-1
    signature, SimHash 0 and winnowing (0, 0)."""
    from xenoeye_spark.datapipe.text import doc_fingerprint

    docs = spark.createDataFrame(_DIRTY_DOCS, "doc_id long, text string")
    texts = dict(_DIRTY_DOCS)
    for n in (1, 3):
        got = {r[0]: list(r[1])
               for r in minhash_signatures(docs, n=n, num_hashes=8).collect()}
        for did, text in texts.items():
            assert got[did] == _minhash_replay(text, n, 8), (n, did)
    sh = {r[0]: r[1] for r in simhash60(docs).collect()}
    fp = {r[0]: (r[2], r[3]) for r in doc_fingerprint(docs).collect()}
    for did, text in texts.items():
        assert sh[did] == _simhash_replay(text), did
        assert fp[did] == _winnow_replay(text), did
    # the JVM tokenizer, not Python's: NBSP joins, so these differ
    assert got[2] != got[3]
    assert sh[11] == 0 and fp[11] == (0, 0) and fp[9] == (0, 0)
    assert got[11] == [2147483647] * 8 and got[10] == [2147483647] * 8


def test_minhash_lsh_dirty_text_matches_oracle(spark):
    """The MinHash/LSH pipeline (q_dedup_minhash_lsh_expr's) equals its
    DuckDB oracle on copies that differ from their source only in
    whitespace: outer spaces, a tab run, a \x0B between tokens, and
    "", whitespace-only and NULL docs. Both sides trim and drop empty
    tokens, and both split on the same whitespace class."""
    import duckdb
    import pandas as pd

    from __spark_entry__ import _minhash_lsh_pairs, oracle_sql

    rng = np.random.RandomState(11)
    rows = []
    for i in range(6):
        toks = [WORDS[j] for j in rng.randint(0, len(WORDS), 12)]
        text = " ".join(toks)
        rows += [
            (10 * i, text),
            (10 * i + 1, "   " + text + "  "),
            (10 * i + 2, "\t " + " ".join(toks[:6]) + "\t\t"
             + " ".join(toks[6:]) + " "),
            (10 * i + 3, text.replace(" ", "\x0b", 1)),
        ]
    rows += [(100, ""), (101, "   "), (102, None)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in _minhash_lsh_pairs(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(
        tuple(r)
        for r in con.execute(oracle_sql()["dedup_minhash_lsh_expr"])
        .fetchall()
    )
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert [g[2] for g in got] == pytest.approx([w[2] for w in want])
    # every whitespace variant is an exact duplicate of its source
    assert {(a, b) for a, b, j in got if j == 1.0} >= {
        (10 * i, 10 * i + k) for i in range(6) for k in (1, 2, 3)
    }


# ---------------------------------------------------------------- graph CC

def _uf_components(edges):
    """reference union-find for test comparison"""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark):
    import random

    from xenoeye_spark.datapipe.graph import connected_components

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r["node"], r["rep"])
        for r in connected_components(df).collect()
    }
    want = set(_uf_components(edges).items())
    assert got == want


def test_connected_components_long_chain(spark):
    """A 60-node path graph — the O(diameter) killer for plain label
    propagation; the star rounds must close it in O(log n)."""
    from xenoeye_spark.datapipe.graph import connected_components

    edges = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = connected_components(df, max_iter=10).collect()
    assert len(rows) == 61
    assert all(r["rep"] == 0 for r in rows)


def test_dedup_groups_sizes(spark):
    from xenoeye_spark.datapipe.graph import dedup_groups

    # components: {1,2,3} (via 1-2, 2-3), {10,11}, self-loop ignored
    df = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (5, 5)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: (r["keep_id"], r["group_size"]) for r in dedup_groups(df).collect()}
    assert rows == {
        1: (1, 3), 2: (1, 3), 3: (1, 3), 10: (10, 2), 11: (10, 2)
    }


# ---------------------------------------------------------- stratified sample

def test_stratified_sample_exact_quota(spark):
    from xenoeye_spark.datapipe.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(300)], "doc_id long, grp string"
    )
    out = stratified_sample(df, "grp", 7).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r)
    assert set(by_grp) == {"g0", "g1", "g2"}
    for rows in by_grp.values():
        assert len(rows) == 7
        assert sorted(r["sample_rank"] for r in rows) == list(range(1, 8))


def test_stratified_sample_small_group_keeps_all(spark):
    from xenoeye_spark.datapipe.sampling import stratified_sample

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, grp string"
    )
    out = stratified_sample(df, "grp", 5).collect()
    assert len(out) == 3


def test_stratified_sample_prefilter_identical(spark, monkeypatch):
    """XE_STRAT_LOCAL_ROWS=0 pins the REAL prefilter path (r13, ADVICE
    r12): without it the r12 bypass routes every test-sized input to
    the plain window and the hash-cut/short-fallback machinery — the
    scale path — would go unexercised. The bypass arm (default env)
    must match too."""
    from xenoeye_spark.datapipe.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2)) for i in range(1000)], "doc_id long, grp string"
    )
    plain = {(r["grp"], r["doc_id"]) for r in stratified_sample(df, "grp", 10).collect()}
    bypass = {
        (r["grp"], r["doc_id"])
        for r in stratified_sample(df, "grp", 10, prefilter_factor=4).collect()
    }
    monkeypatch.setenv("XE_STRAT_LOCAL_ROWS", "0")
    pre = {
        (r["grp"], r["doc_id"])
        for r in stratified_sample(df, "grp", 10, prefilter_factor=4).collect()
    }
    # factor=1 keeps an expected 10 of 500 per group — frequently short,
    # exercising the full-membership fallback; selection must not change
    tight = {
        (r["grp"], r["doc_id"])
        for r in stratified_sample(df, "grp", 10, prefilter_factor=1).collect()
    }
    assert plain == pre == tight == bypass
    # the output schema (column order) is input columns + sample_rank
    # on BOTH paths — the r13 fold's equi-join must not reorder
    out = stratified_sample(df, "grp", 10, prefilter_factor=4)
    assert out.columns == ["doc_id", "grp", "sample_rank"]


def test_connected_components_property(spark):
    """Randomized CC vs union-find across graph shapes (dense, sparse,
    multi-component, duplicate edges) — seeded, not hypothesis-driven:
    each example costs several Spark jobs, so a fixed diverse batch keeps
    the suite bounded."""
    import random

    from xenoeye_spark.datapipe.graph import connected_components

    cases = []
    rng = random.Random(1234)
    cases.append([(rng.randrange(30), rng.randrange(30)) for _ in range(200)])  # dense
    cases.append([(rng.randrange(500), rng.randrange(500)) for _ in range(60)])  # sparse
    cases.append([(i, i + 1) for i in range(0, 40, 2)])  # disjoint 2-cliques
    for edges in cases:
        edges = [e for e in edges if e[0] != e[1]]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {(r["node"], r["rep"]) for r in connected_components(df).collect()}
        want = set(_uf_components(edges).items())
        assert got == want, f"mismatch on case with {len(edges)} edges"


def test_connected_components_star_path_matches_fast_path(
    spark, monkeypatch
):
    """r12 optimization: small graphs take a single-task union-find
    fast path; XE_CC_LOCAL_EDGES=0 forces the distributed star rounds.
    Both paths must emit the identical (node, rep) set — this is the
    equivalence contract the fast path ships under."""
    import random

    from xenoeye_spark.datapipe.graph import connected_components

    rng = random.Random(99)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(120)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r["node"], r["rep"]) for r in connected_components(df).collect()}
    monkeypatch.setenv("XE_CC_LOCAL_EDGES", "0")
    star = {(r["node"], r["rep"]) for r in connected_components(df).collect()}
    assert fast == star == set(_uf_components(edges).items())


# ------------------------------------------- r7: exact substring dedup

def _substr_dedup_twin(texts: dict[int, str], L: int):
    """Reference ExactSubstr: global first occurrence of any repeated
    L-window wins; all other occurrences merge into spans and are
    excised."""
    occ: dict[str, list[tuple[int, int]]] = {}
    for did in sorted(texts):
        t = texts[did]
        for i in range(len(t) - L + 1):
            occ.setdefault(t[i:i + L], []).append((did, i + 1))
    removed: dict[int, list[int]] = {d: [] for d in texts}
    for positions in occ.values():
        if len(positions) > 1:
            for did, pos in positions[1:]:
                removed[did].append(pos)
    out = {}
    for did, t in texts.items():
        spans = []
        for pos in sorted(removed[did]):
            if spans and pos <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], pos + L)
            else:
                spans.append([pos, pos + L])
        kept, prev = [], 1
        for s, e in spans:
            kept.append(t[prev - 1:s - 1])
            prev = e
        kept.append(t[prev - 1:])
        out[did] = (
            max(len(t) - L + 1, 0),
            len(spans),
            sum(e - s for s, e in spans),
            "".join(kept),
        )
    return out


def test_substring_dedup_matches_python_twin(spark):
    """Distributed substring_dedup == the reference excision, doc by
    doc: cross-doc repeats (first doc keeps), within-doc repeats
    (opening stays), overlapping spans merged, short docs untouched."""
    import hashlib

    from pyspark.sql import Row

    from xenoeye_spark.datapipe.dedup import substring_dedup

    texts = {
        0: "aaaa THE-COMMON-BOILERPLATE-FOOTER-LINE bbbb",
        1: "cccc THE-COMMON-BOILERPLATE-FOOTER-LINE dddd",
        2: "eeee THE-COMMON-BOILERPLATE-FOOTER-LINE ffff "
           "THE-COMMON-BOILERPLATE-FOOTER-LINE gggg",
        3: "totally unique document with no repeats whatsoever here",
        4: "xy" * 30,                 # self-overlapping periodic repeat
        5: "tiny",                    # shorter than the window
    }
    docs = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()]
    )
    L = 16
    want = _substr_dedup_twin(texts, L)
    for key in ("exact", "hash"):
        got = {
            r.doc_id: r.asDict()
            for r in substring_dedup(docs, length=L, key=key).collect()
        }
        for did, (nw, nsp, nch, out_t) in want.items():
            g = got[did]
            assert g["n_windows"] == nw, (key, did)
            assert g["n_removed_spans"] == nsp, (key, did)
            assert g["n_removed_chars"] == nch, (key, did)
            assert g["len_after"] == len(out_t), (key, did)
            assert g["out_md5"] == hashlib.md5(
                out_t.encode()
            ).hexdigest(), (key, did)
    # first-occurrence doc keeps everything
    assert want[0][2] == 0 and want[1][2] > 0


def test_substring_dedup_validates_args(spark):
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.dedup import substring_dedup

    docs = spark.createDataFrame([Row(doc_id=0, text="abc")])
    with pytest.raises(ValueError, match="hash|exact"):
        substring_dedup(docs, key="md5")
    with pytest.raises(ValueError, match=">= 2"):
        substring_dedup(docs, length=1)


def test_substring_dedup_random_unicode_corpus(spark):
    """200 seeded-random texts over a small alphabet (forcing heavy
    cross-doc window collisions) including multibyte code points:
    distributed output == the python excision twin on every doc, for
    both key modes. Small alphabet + unicode exercises span merging,
    code-point (not byte) indexing, and md5-over-utf8 agreement."""
    import hashlib
    import random

    from pyspark.sql import Row

    from xenoeye_spark.datapipe.dedup import substring_dedup

    rng = random.Random(4207)
    alpha = "ab é世"          # 'a','b',space,e-acute,CJK
    texts = {
        i: "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
        for i in range(200)
    }
    L = 6
    want = _substr_dedup_twin(texts, L)
    docs = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()]
    )
    for key in ("exact", "hash"):
        got = {
            r.doc_id: r.asDict()
            for r in substring_dedup(docs, length=L, key=key).collect()
        }
        for did, (nw, nsp, nch, out_t) in want.items():
            g = got[did]
            assert (
                g["n_windows"], g["n_removed_spans"],
                g["n_removed_chars"], g["len_after"], g["out_md5"],
            ) == (
                nw, nsp, nch, len(out_t),
                hashlib.md5(out_t.encode()).hexdigest(),
            ), (key, did, texts[did])


_SUBSTR_A = "the quick brown fox jumps over the lazy dog"


def _substr_rows(spark, rows, key):
    from xenoeye_spark.datapipe.dedup import substring_dedup

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return [
        (r.doc_id, r.n_removed_chars, r.text_out)
        for r in substring_dedup(docs, length=16, key=key,
                                 return_text=True).collect()
    ]


def test_substring_dedup_null_id_claims_nothing(spark):
    """A NULL-id row passes through with its own text and claims no
    first occurrence: of (NULL, A), (1, A), (2, A), doc 1 keeps A and
    doc 2 loses all of it, as if the NULL row were absent."""
    A = _SUBSTR_A
    for key in ("exact", "hash"):
        got = sorted(
            _substr_rows(spark, [(None, A), (1, A), (2, A)], key),
            key=lambda r: -1 if r[0] is None else r[0],
        )
        assert got == [(None, 0, A), (1, 0, A), (2, len(A), "")], key


def test_substring_dedup_duplicate_ids_tie(spark):
    """Two rows sharing an id and a text tie for the first occurrence
    (rank, not row_number): both keep their text, and a higher id with
    the same text loses it."""
    A = _SUBSTR_A
    for key in ("exact", "hash"):
        got = sorted(_substr_rows(spark, [(1, A), (1, A), (2, A)], key))
        assert got == [(1, 0, A), (1, 0, A), (2, len(A), "")], key
