"""Round-6 additions: the training-prep end-to-end chain and its
hand-off contracts (chunk ids -> pack bins -> shard ranks -> span
targets), driven at sf0.01 against the real testdata with
filesystem-level shard asserts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"),
    reason="driver testdata not present",
)


def test_training_prep_e2e_shards(spark, tmp_path):
    """chunk -> pack -> write_training_shards at sf0.01: exact shard
    sizes on disk, reproducible global order, bins respect capacity
    slack, and every span target joins back to a packed chunk."""
    from xenoeye_spark.datapipe.layout import write_training_shards
    from xenoeye_spark.datapipe.sampling import mask_spans, pack_sequences
    from xenoeye_spark.datapipe.text import chunk_documents

    CAP, RPS = 256, 1024
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    chunks = chunk_documents(docs, chunk=32, stride=24).select(
        "doc_id", "chunk_id",
        (F.col("doc_id").cast("long") * 4096 + F.col("chunk_id"))
        .alias("cid"),
        "n_tokens", "chunk_text",
    )
    packed = pack_sequences(chunks, capacity=CAP, len_col="n_tokens",
                            id_col="cid")
    n_chunks = packed.count()
    assert n_chunks > 100

    out = str(tmp_path / "shards")
    n_shards = write_training_shards(packed, out, "bin_id", RPS,
                                     id_col="cid")
    assert n_shards == -(-n_chunks // RPS)

    # filesystem level: one partition dir per shard, exact sizes
    dirs = sorted(d for d in os.listdir(out) if d.startswith("_shard="))
    assert len(dirs) == n_shards
    back = spark.read.parquet(out)
    sizes = {r._shard: r.n for r in
             back.groupBy("_shard").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    for i in range(n_shards - 1):
        assert sizes[i] == RPS, (i, sizes[i])
    assert sizes[n_shards - 1] == n_chunks - (n_shards - 1) * RPS

    # hand-off contract: shard rank == global (bin_id, cid) order
    ranked = back.select(
        "_shard", "bin_id", "cid",
        (F.row_number().over(
            Window.orderBy(F.col("bin_id").asc(), F.col("cid").asc())
        ) - 1).alias("rank"),
    )
    bad = ranked.filter(
        F.col("_shard") != F.floor(F.col("rank") / RPS)
    ).count()
    assert bad == 0

    # bin arithmetic: offsets within capacity; per-bin token sums never
    # exceed capacity + the largest resident chunk (the quantization
    # slack bound)
    assert packed.filter(
        (F.col("bin_offset") < 0) | (F.col("bin_offset") >= CAP)
    ).count() == 0
    over = (
        packed.groupBy("bin_id")
        .agg(F.sum("n_tokens").alias("tot"),
             F.max("n_tokens").alias("mx"))
        .filter(F.col("tot") > CAP + F.col("mx"))
        .count()
    )
    assert over == 0

    # span targets join back onto packed chunks 1:1 on cid
    spans = mask_spans(
        chunks.select("cid", F.col("chunk_text").alias("text")),
        mask_frac=0.15, id_col="cid",
    )
    orphan = spans.join(packed.select("cid"), "cid", "left_anti").count()
    assert orphan == 0
    # and spans stay inside their chunk's token range
    joined = spans.select("cid", "end_pos").join(
        packed.select("cid", F.col("n_tokens").alias("chunk_tokens")),
        "cid",
    )
    assert joined.filter(
        F.col("end_pos") >= F.col("chunk_tokens")
    ).count() == 0


def test_training_prep_rerun_is_deterministic(spark, tmp_path):
    """Two writer runs over the same input produce identical
    (shard, cid) assignments — the rerun-stability contract a resumable
    training loader depends on."""
    from xenoeye_spark.datapipe.layout import write_training_shards
    from xenoeye_spark.datapipe.sampling import pack_sequences
    from xenoeye_spark.datapipe.text import chunk_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .filter(F.col("doc_id") < 300)
    chunks = chunk_documents(docs, chunk=32, stride=24).select(
        (F.col("doc_id").cast("long") * 4096 + F.col("chunk_id"))
        .alias("cid"),
        "n_tokens",
    )
    packed = pack_sequences(chunks, capacity=256, len_col="n_tokens",
                            id_col="cid")
    outs = []
    for rep in range(2):
        out = str(tmp_path / f"rep{rep}")
        write_training_shards(
            packed.repartition(4 + rep), out, "bin_id", 256,
            id_col="cid",
        )
        outs.append({
            (r.cid, r._shard)
            for r in spark.read.parquet(out).select("cid", "_shard")
            .collect()
        })
    assert outs[0] == outs[1]


def test_bpe_pair_counts_twin(spark):
    """Distributed BPE pair counts == a collections.Counter fold over
    the same words; single-char words contribute nothing (the Spark
    sequence(1,0)-descends trap is guarded)."""
    import collections

    from pyspark.sql import Row

    from xenoeye_spark.datapipe.ranking import bpe_pair_counts

    docs = spark.createDataFrame([
        Row(doc_id=0, text="low lower lowest low"),
        Row(doc_id=1, text="a b c low  newer"),   # single-char words
        Row(doc_id=2, text="wider newer newer"),
    ])
    got = {(r.a, r.b): r.pair_count
           for r in bpe_pair_counts(docs, k=1000).collect()}

    twin: collections.Counter = collections.Counter()
    words = ("low lower lowest low a b c low newer "
             "wider newer newer").split()
    for w in words:
        for i in range(len(w) - 1):
            twin[(w[i], w[i + 1])] += 1
    assert got == dict(twin)
    assert ("l", "o") in got and got[("l", "o")] == 5

    # top-k boundary is a total order: k=1 picks the max-count pair
    # with the lexicographically smallest (a, b) tiebreak
    top = bpe_pair_counts(docs, k=1).collect()[0]
    mx = max(twin.values())
    cands = sorted(k for k, v in twin.items() if v == mx)
    assert (top.a, top.b) == cands[0] and top.pair_count == mx


def _lev(a: str, b: str) -> int:
    """Reference Levenshtein (full DP) for twin checks."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_dedup_pairs_twin(spark):
    """fuzzy_dedup_pairs == brute-force python Levenshtein over every
    pair that passes the Jaccard prefilter; banded -1 rows are dropped;
    two empty docs pair at ratio 0.0 via the candidates path."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.dedup import fuzzy_dedup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    texts = {
        0: base,
        1: base.replace("quick", "quickk"),          # 1 edit
        2: base.replace("lazy dog", "hazy bog"),     # 2 edits
        3: "completely different words everywhere in this one doc",
        4: base + " plus an extra tail of several appended words here",
    }
    docs = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()]
    )
    got = {(r.id_a, r.id_b): (r.edit_dist, r.edit_ratio)
           for r in fuzzy_dedup_pairs(docs, max_dist=12,
                                      prefilter_jaccard=0.1).collect()}

    # twin: prefilter = 3-gram jaccard >= 0.1, verify dist <= 12
    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    twin = {}
    ids = sorted(texts)
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            si, sj = shingles(texts[i]), shingles(texts[j])
            u = len(si | sj)
            jac = (len(si & sj) / u) if u else 0.0
            if jac < 0.1:
                continue
            d = _lev(texts[i], texts[j])
            if d <= 12:
                ml = max(len(texts[i]), len(texts[j]))
                twin[(i, j)] = (d, round(d / ml, 6))
    assert {k: v[0] for k, v in got.items()} == {
        k: v[0] for k, v in twin.items()
    }
    for k in twin:
        assert abs(got[k][1] - twin[k][1]) < 1e-9
    assert (0, 1) in got and got[(0, 1)][0] == 1
    assert (0, 3) not in got                     # prefilter rejects
    assert (0, 4) not in got                     # band rejects (d > 12)

    # candidates path: empty-vs-empty pair is dist 0, ratio 0.0
    ed = spark.createDataFrame([Row(doc_id=10, text=""),
                                Row(doc_id=11, text="")])
    cand = spark.createDataFrame([Row(id_a=10, id_b=11)])
    row = fuzzy_dedup_pairs(ed, max_dist=3, candidates=cand).collect()
    assert len(row) == 1
    assert (row[0].edit_dist, row[0].edit_ratio) == (0, 0.0)


def test_domain_cap_presplit_invariance(spark):
    """domain_cap keeps exactly the top-N per domain in (order, id)
    order, and the salted pre-prune never changes the result — the
    presplit=0 exact form and several split factors all agree,
    including on order-value ties (id tiebreak)."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.sampling import domain_cap

    rows = [Row(doc_id=i, dom=f"d{i % 3}", q=(i * 7) % 5)
            for i in range(120)]
    df = spark.createDataFrame(rows)

    def run(presplit):
        return sorted(
            (r.doc_id, r.dom, r.domain_rank)
            for r in domain_cap(df, "dom", 6,
                                order_cols=[F.col("q").desc()],
                                presplit=presplit).collect()
        )

    exact = run(0)
    assert len(exact) == 18                      # 3 domains x 6
    assert run(4) == exact and run(32) == exact

    # rank agrees with a hand fold: sort by (q desc, id asc) per dom
    by_dom = {}
    for r in rows:
        by_dom.setdefault(r.dom, []).append(r)
    twin = []
    for dom, members in by_dom.items():
        members.sort(key=lambda r: (-r.q, r.doc_id))
        twin += [(m.doc_id, dom, k + 1) for k, m in enumerate(members[:6])]
    assert exact == sorted(twin)


def test_token_budget_select_twin(spark):
    """token_budget_select keeps the maximal in-order PREFIX whose
    inclusive cumsum fits the budget: the first over-budget row is
    dropped AND later shorter rows never back-fill; the bucket-cumsum
    pre-prune is result-invariant; NULL lengths raise."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.sampling import token_budget_select

    rows = [
        Row(doc_id=0, g="a", n=40), Row(doc_id=1, g="a", n=50),
        Row(doc_id=2, g="a", n=30),   # cum 120 > 100: dropped
        Row(doc_id=3, g="a", n=5),    # would fit alone: still dropped
        Row(doc_id=4, g="b", n=100),  # exactly the budget: kept
        Row(doc_id=5, g="b", n=1),
    ]
    df = spark.createDataFrame(rows)
    for presplit in (0, 8):
        got = sorted(
            (r.doc_id, r.cum_tokens)
            for r in token_budget_select(
                df, "g", budget=100, len_col="n",
                order_cols=[F.col("doc_id").asc()], presplit=presplit,
            ).collect()
        )
        assert got == [(0, 40), (1, 90), (4, 100)]

    bad = spark.createDataFrame(
        [(0, "a", None)], "doc_id long, g string, n long"
    )
    with pytest.raises(Exception, match="NULL/negative"):
        token_budget_select(bad, "g", 10, "n").collect()


def test_kmeans_step_twin(spark):
    """kmeans_step == numpy argmin + quantized means; ties assign to
    the lower cell; empty cells emit no rows."""
    import numpy as np
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.similarity import kmeans_step

    rng = np.random.RandomState(5)
    vecs = rng.normal(size=(60, 8))
    cents = np.array([
        vecs[0], vecs[1],
        vecs[1],                       # duplicate: ties go to cell 1
        [99.0] * 8,                    # far away: empty cell
    ])
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v])
         for i, v in enumerate(vecs)]
    )
    got = {(r.cell, r.dim): (r.n_members, r.mean)
           for r in kmeans_step(df, cents, quant=10**6).collect()}

    d = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)          # numpy argmin takes first == min
    assert 2 not in set(assign) and 3 not in set(assign)
    assert not any(c in (2, 3) for c, _ in got)
    for cell in sorted(set(assign)):
        m = vecs[assign == cell]
        for dim in range(8):
            q = np.floor(m[:, dim] * 10**6).sum()
            want = round(q / (len(m) * 10**6), 6)
            n, mean = got[(cell, dim)]
            assert n == len(m)
            assert abs(mean - want) < 1e-9


def test_ann_recall_full_probe_is_one(spark):
    """Probing every cell makes IVF == brute force, so recall@k == 1.0
    for every query — the eval op's self-consistency anchor."""
    import numpy as np
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.similarity import (
        brute_force_topk, ivf_topk,
    )

    rng = np.random.RandomState(9)
    vecs = rng.normal(size=(80, 16))
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v])
         for i, v in enumerate(vecs)]
    )
    queries = emb.filter(F.col("vec_id") < 3)
    cents = vecs[:4].copy()
    exact = {(r.query_id, r.vec_id)
             for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.vec_id)
              for r in ivf_topk(emb, queries, k=5, n_probe=4,
                                centroids=cents).collect()}
    assert approx == exact


def _bpe_train_twin(words: list[str], n_merges: int):
    """Reference BPE trainer: greedy corpus-wide merge per round."""
    import collections

    wc = collections.Counter(words)
    vocab = {w: list(w) for w in wc}
    merges = []
    for rank in range(n_merges):
        pairs: collections.Counter = collections.Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += wc[w]
        if not pairs:
            break
        n = max(pairs.values())
        a, b = min(k for k, v in pairs.items() if v == n)
        merges.append((rank, a, b, n))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab, wc


def test_bpe_train_matches_python_twin(spark):
    """Distributed bpe_train == the reference greedy trainer, merge by
    merge (count + tie order), including overlapping-run greediness
    ('aaaa' -> [aa, aa]) and early stop when no pairs remain."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.ranking import bpe_train

    docs = spark.createDataFrame([
        Row(doc_id=0, text="low lower lowest low low"),
        Row(doc_id=1, text="newer newest new wider"),
        Row(doc_id=2, text="aaaa aa baaab"),
        Row(doc_id=3, text="x y z"),            # 1-char words: no pairs
    ])
    words = ("low lower lowest low low newer newest new wider "
             "aaaa aa baaab x y z").split()
    got = bpe_train(docs, n_merges=10)
    want, vocab, _ = _bpe_train_twin(words, 10)
    assert got == want
    # greedy non-overlap: after the (a,a) merge round 'aaaa' is [aa,aa]
    assert any(m[1] == "a" and m[2] == "a" for m in got)

    # a corpus with NO pairs at all stops at zero merges
    tiny = spark.createDataFrame([Row(doc_id=0, text="a b c")])
    assert bpe_train(tiny, n_merges=5) == []


def test_bpe_encode_matches_train_vocab(spark):
    """bpe_encode with the trained table reproduces the trainer's own
    final per-word symbol counts (weighted to per-doc totals); zero
    merges degrade to character counts."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.ranking import bpe_encode, bpe_train

    texts = {
        0: "low lower lowest low low",
        1: "newer newest new wider lower",
        2: "aaaa aa baaab low",
    }
    docs = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()]
    )
    merges = bpe_train(docs, n_merges=8)
    got = {r.doc_id: (r.n_words, r.n_bpe_tokens)
           for r in bpe_encode(docs, merges).collect()}

    all_words = [w for t in texts.values() for w in t.split()]
    _, vocab, _ = _bpe_train_twin(all_words, 8)
    for did, t in texts.items():
        ws = t.split()
        want = sum(len(vocab[w]) for w in ws)
        assert got[did] == (len(ws), want), did

    # no merges -> every word costs its character count
    got0 = {r.doc_id: r.n_bpe_tokens
            for r in bpe_encode(docs, []).collect()}
    assert got0 == {k: sum(len(w) for w in v.split())
                    for k, v in texts.items()}


# ---------------------------------------------------------------- count-min

def _cms_poly(tok: str) -> int:
    from xenoeye_spark.datapipe.ranking import KMV_M, KMV_P

    acc = 0
    for ch in tok:
        acc = (acc * KMV_M + ord(ch)) % KMV_P
    return acc


def _cms_twin(texts: list[str], width: int):
    """Pure-python Count-Min: (cells, exact Counter) over the same
    token stream and hash family as the operator."""
    from collections import Counter

    from xenoeye_spark.datapipe.ranking import KMV_P
    from xenoeye_spark.datapipe.sketch import CMS_ROWS

    exact: Counter = Counter()
    cells: Counter = Counter()
    for text in texts:
        for tok in text.strip().split():
            exact[tok] += 1
            x = _cms_poly(tok)
            for i, (a, b) in enumerate(CMS_ROWS):
                cells[(i, ((x * a + b) % KMV_P) % width)] += 1

    def est(tok: str) -> int:
        x = _cms_poly(tok)
        return min(
            cells[(i, ((x * a + b) % KMV_P) % width)]
            for i, (a, b) in enumerate(CMS_ROWS)
        )

    return cells, exact, est


def test_count_min_python_twin_tiny_width(spark):
    """width=16 forces collisions on a ~60-token vocab: estimates must
    equal the python twin's cell-for-cell, never underestimate, and at
    least one probe must actually collide (the error path is real)."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.sketch import cms_build, cms_estimate

    texts = [
        " ".join(f"tok{j}" for j in range(i % 7, 60, (i % 5) + 1))
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    W = 16
    cells, exact, est = _cms_twin(texts, W)

    got_cells = {
        (r.row_id, r.bucket): r.cnt
        for r in cms_build(docs, width=W).collect()
    }
    assert got_cells == dict(cells)

    out = cms_estimate(docs, n_probes=10, width=W).collect()
    assert len(out) == 10
    assert [r.token for r in out] == [
        t for t, _ in sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))
    ][:10]
    for r in out:
        assert r.exact_cnt == exact[r.token]
        assert r.cms_est == est(r.token)
        assert r.cms_err == r.cms_est - r.exact_cnt >= 0
    assert any(r.cms_err > 0 for r in out), "width=16 must collide"


def test_count_min_sketches_merge_cellwise(spark):
    """CM sketches are mergeable summaries: sketch(A union B) is the
    cell-wise SUM of sketch(A) and sketch(B) — the property that makes
    the partial (map-side) aggregation at scale exactly correct."""
    from collections import Counter

    from pyspark.sql import Row

    from xenoeye_spark.datapipe.sketch import cms_build

    a_docs = [Row(doc_id=i, text=f"alpha beta g{i} delta") for i in range(7)]
    b_docs = [Row(doc_id=i, text=f"beta gamma g{i} g{i+3}") for i in range(9)]
    W = 32
    sa = Counter({(r.row_id, r.bucket): r.cnt for r in
                  cms_build(spark.createDataFrame(a_docs), width=W).collect()})
    sb = Counter({(r.row_id, r.bucket): r.cnt for r in
                  cms_build(spark.createDataFrame(b_docs), width=W).collect()})
    su = {(r.row_id, r.bucket): r.cnt for r in
          cms_build(spark.createDataFrame(a_docs + b_docs), width=W)
          .collect()}
    assert dict(sa + sb) == su


# ------------------------------------------------------------ product quant

def test_pq_encode_matches_numpy_twin(spark):
    """Codes == per-subspace squared-L2 argmin computed independently
    in numpy (loop form, not matmul), ties to the lower code."""
    import numpy as np
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.similarity import pq_codebook, pq_encode

    cb = pq_codebook(m=4, ks=8, subdim=4, seed=99)
    rng = np.random.RandomState(5)
    vecs = rng.normal(size=(50, 16))
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v])
         for i, v in enumerate(vecs)]
    )
    got = {r.vec_id: list(r.codes) for r in pq_encode(emb, cb).collect()}
    for i, v in enumerate(vecs):
        want = []
        for s in range(4):
            sv = v[s * 4:(s + 1) * 4]
            dists = [((sv - cb[s][c]) ** 2).sum() for c in range(8)]
            want.append(int(np.argmin(dists)))
        assert got[i] == want, i


def test_pq_encode_tie_to_lower_code(spark):
    """Two identical codebook centroids: the vector must take the
    LOWER code (np.argmin-first == the oracle's ORDER BY cell ASC)."""
    import numpy as np
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.similarity import pq_encode

    cb = np.zeros((1, 4, 2))
    cb[0, 1] = [1.0, 1.0]
    cb[0, 3] = [1.0, 1.0]       # duplicate of code 1
    emb = spark.createDataFrame([Row(vec_id=0, embedding=[1.0, 1.0])])
    [r] = pq_encode(emb, cb).collect()
    assert list(r.codes) == [1]


def test_pq_topk_adc_matches_python_twin(spark):
    """ADC distances and ranks == a pure-python reconstruction over
    the same codes; identical vectors share codes hence bit-equal
    dists, broken by vec_id."""
    import numpy as np
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.similarity import (
        pq_codebook, pq_topk,
    )

    cb = pq_codebook(m=4, ks=8, subdim=4, seed=99)
    rng = np.random.RandomState(6)
    vecs = rng.normal(size=(40, 16))
    vecs[7] = vecs[3]           # planted exact duplicate
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v])
         for i, v in enumerate(vecs)]
    )
    queries = emb.filter(F.col("vec_id") < 2)
    out = pq_topk(emb, queries, cb, k=5).collect()
    assert len(out) == 10

    # python twin
    def code(v):
        return [int(np.argmin([((v[s*4:(s+1)*4] - cb[s][c]) ** 2).sum()
                               for c in range(8)])) for s in range(4)]

    codes = {i: code(v) for i, v in enumerate(vecs)}
    for qid in (0, 1):
        q = vecs[qid]
        scored = []
        for i in range(40):
            if i == qid:
                continue
            d = 0.0
            for s in range(4):
                qs = q[s*4:(s+1)*4]
                c = cb[s][codes[i][s]]
                d += (qs @ qs) - 2.0 * (qs @ c) + (c @ c)
            scored.append((round(d, 6), i))
        want = sorted(scored)[:5]
        got = sorted(
            (r.pq_dist, r.vec_id) for r in out if r.query_id == qid
        )
        assert got == want, qid
    # the duplicate pair shares codes exactly
    assert codes[7] == codes[3]


def test_pq_topk_recall_trained_on_clustered(spark):
    """Trained codebook on a CLUSTERED corpus (the regime PQ targets —
    same setup as the IVF recall test): recall@5 vs exact squared-L2
    must be high. Uniform-sphere data is ANN-adversarial by
    construction; the sf0.01 oracle query covers that regime with the
    beats-random bar below."""
    import numpy as np

    from xenoeye_spark.datapipe.similarity import (
        pq_topk, pq_train_codebook,
    )

    rng = np.random.RandomState(9)
    centers = rng.randn(4, 16) * 5
    vecs = np.vstack([c + rng.randn(40, 16) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id").isin([0, 40, 80, 120]))
    cb = pq_train_codebook(df, m=8, ks=32)
    got = {(r.query_id, r.vec_id)
           for r in pq_topk(df, q, cb, k=5).collect()}
    hits = tot = 0
    for qid in (0, 40, 80, 120):
        d = sorted((float(((v - vecs[qid]) ** 2).sum()), i)
                   for i, v in enumerate(vecs) if i != qid)
        exact = {(qid, i) for _, i in d[:5]}
        tot += len(exact)
        hits += len(exact & got)
    # measured 0.75 at this config; top-5 WITHIN a cluster is the
    # fine-grained regime where PQ's residual distortion bites — 0.6
    # is far above chance (5/159) while leaving seed headroom
    assert hits / tot >= 0.6, (hits, tot)


def test_pq_topk_fixed_beats_random_on_uniform(spark):
    """The fixed scale-matched codebook on the uniform-sphere sf0.01
    embeddings (worst case for any quantizer): recall@10 must still
    beat random chance (10/499 ~ 0.02) by a wide margin."""
    import numpy as np

    from xenoeye_spark.datapipe.similarity import pq_codebook, pq_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    cb = pq_codebook(m=8, ks=16, subdim=8, seed=778, scale=0.125)
    got = {(r.query_id, r.vec_id)
           for r in pq_topk(emb, queries, cb, k=10).collect()}

    vecs = {r.vec_id: np.array(r.embedding, dtype=float)
            for r in emb.collect()}
    hits = 0
    for qid in range(3):
        q = vecs[qid]
        d = sorted((float(((v - q) ** 2).sum()), i)
                   for i, v in vecs.items() if i != qid)
        exact = {(qid, i) for _, i in d[:10]}
        hits += len(exact & got)
    assert hits / 30 >= 0.1, hits


# --------------------------------------------------------------- hyperloglog

def _hll_twin(keys, m=512, qbits=None):
    """Pure-python HLL over the operator's exact hash family (keys are
    the composed shingle hashes): (registers dict, estimate)."""
    import math

    from xenoeye_spark.datapipe.sketch import HLL_ALPHA, HLL_QBITS, fmix31

    qbits = HLL_QBITS
    reg: dict[int, int] = {}
    for key in keys:
        x = fmix31(key)
        bucket, q = x % m, x // m
        rank = (qbits + 1) if q == 0 else (qbits + 1 - q.bit_length())
        reg[bucket] = max(reg.get(bucket, 0), rank)
    zeros = m - len(reg)
    s_inv = sum(2.0 ** -v for v in reg.values()) + zeros
    raw = HLL_ALPHA * m * m / s_inv
    if raw <= 2.5 * m and zeros > 0:
        est = m * math.log(m / float(zeros))
    else:
        est = raw
    return reg, round(est, 4)


def _hll_docs(spark, texts):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(doc_id=i, lang="xx", text=t) for i, t in enumerate(texts)]
    )


def _doc_shingles(texts, n=5):
    """Composed shingle hashes — the operators' key identity: per-token
    char polynomial folded over each n-window with SHINGLE_M2."""
    from xenoeye_spark.datapipe.ranking import KMV_P
    from xenoeye_spark.datapipe.sketch import SHINGLE_M2

    out = []
    for t in texts:
        th = [_cms_poly(tok) for tok in t.strip().split()]
        for i in range(len(th) - n + 1):
            h = 0
            for x in th[i:i + n]:
                h = (h * SHINGLE_M2 + x) % KMV_P
            out.append(h)
    return out


def test_hll_registers_match_python_twin(spark):
    """Register table == the python fold's, bucket for bucket —
    including the q == 0 max-rank path if it occurs."""
    from xenoeye_spark.datapipe.sketch import (
        hll_distinct, hll_registers, with_shingle_hashes,
    )

    texts = [" ".join(f"w{(i * 7 + j) % 97}" for j in range(40))
             for i in range(30)]
    docs = _hll_docs(spark, texts)
    want_reg, want_est = _hll_twin(_doc_shingles(texts))

    sh = with_shingle_hashes(docs, "text").select(
        F.col("lang"),
        F.explode(F.col("_shs")).alias("_hs"),
    )
    got_reg = {r.bucket: r.mj
               for r in hll_registers(sh, "_hs", ["lang"]).collect()}
    assert got_reg == want_reg

    [row] = hll_distinct(docs, group_col="lang").collect()
    assert row.hll_est == want_est
    assert row.n_zero_registers == 512 - len(want_reg)
    assert row.exact_distinct == len(set(_doc_shingles(texts)))


def test_hll_small_range_linear_counting(spark):
    """A handful of distinct shingles forces the small-range branch
    (raw <= 2.5m with zero registers): m*ln(m/V), matching the twin."""
    from xenoeye_spark.datapipe.sketch import hll_distinct

    texts = ["alpha beta gamma delta epsilon zeta"] * 10
    docs = _hll_docs(spark, texts)
    _, want_est = _hll_twin(_doc_shingles(texts))
    [row] = hll_distinct(docs, group_col="lang").collect()
    assert row.exact_distinct == 2
    assert row.hll_est == want_est
    assert row.hll_est < 10          # linear counting, near-exact regime


def test_hll_merge_is_registerwise_max(spark):
    """sketch(A union B) == register-wise MAX of sketch(A), sketch(B) —
    the mergeable-summaries property the map-side combine relies on."""
    from xenoeye_spark.datapipe.sketch import (
        hll_registers, with_shingle_hashes,
    )

    ta = [" ".join(f"a{i + j}" for j in range(12)) for i in range(20)]
    tb = [" ".join(f"b{i + j}" for j in range(12)) for i in range(25)]

    def regs(texts):
        sh = with_shingle_hashes(_hll_docs(spark, texts), "text").select(
            F.col("lang"),
            F.explode(F.col("_shs")).alias("_hs"),
        )
        return {r.bucket: r.mj
                for r in hll_registers(sh, "_hs", ["lang"]).collect()}

    ra, rb, ru = regs(ta), regs(tb), regs(ta + tb)
    merged = {b: max(ra.get(b, 0), rb.get(b, 0))
              for b in set(ra) | set(rb)}
    assert merged == ru


# --------------------------------------------------------------------- bloom

def _bloom_twin(train_texts, eval_texts, mbits):
    """Pure-python Bloom over the operator's hash family: per eval doc
    (n_shingles, n_maybe)."""
    from xenoeye_spark.datapipe.sketch import CMS_ROWS
    from xenoeye_spark.datapipe.ranking import KMV_P

    def positions(x):
        return [((x * a + b) % KMV_P) % mbits for a, b in CMS_ROWS]

    bits: set[int] = set()
    for t in train_texts:
        for x in _doc_shingles([t]):
            bits.update(positions(x))
    out = {}
    for i, t in enumerate(eval_texts):
        shs = sorted(set(_doc_shingles([t])))
        maybe = sum(1 for x in shs if all(p in bits for p in positions(x)))
        out[i] = (len(shs), maybe)
    return out


def test_bloom_python_twin_with_forced_false_positives(spark):
    """mbits=64 on a ~400-shingle train set saturates the filter:
    verdicts must equal the twin's EXACTLY — false positives included —
    and at least one eval shingle absent from train must probe
    positive (the FP path is genuinely exercised)."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.sketch import bloom_contamination

    train = [" ".join(f"t{(i * 11 + j) % 211}" for j in range(24))
             for i in range(20)]
    evals = ([train[3]]                                   # fully contained
             + [" ".join(f"e{i}x{j}" for j in range(10))  # disjoint
                for i in range(6)])
    tr = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(train)])
    ev = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(evals)])
    M = 64
    want = _bloom_twin(train, evals, M)
    got = {r.doc_id: (r.n_shingles, r.n_maybe)
           for r in bloom_contamination(ev, tr, mbits=M).collect()}
    assert got == want
    # doc 0 is a verbatim train doc: every shingle must probe positive
    assert got[0][1] == got[0][0]
    # saturated filter: some disjoint doc must carry a false positive
    assert any(got[i][1] > 0 for i in range(1, 7))


def test_bloom_never_false_negative_vs_exact(spark):
    """One-sided guarantee at sf0.01 and default mbits: for every eval
    doc, n_maybe >= the exact inverted-index n_hits."""
    from xenoeye_spark.datapipe.dedup import contamination_check
    from xenoeye_spark.datapipe.sketch import bloom_contamination

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    tr = docs.filter(F.col("doc_id") % 5 != 0)
    maybe = {r.doc_id: r.n_maybe
             for r in bloom_contamination(ev, tr).collect()}
    exact = {r.doc_id: r.n_hits
             for r in contamination_check(ev, tr, n=5).collect()}
    assert set(maybe) == set(exact)
    assert all(maybe[d] >= exact[d] for d in exact)


def test_bloom_build_bounded_and_mergeable(spark):
    """bit-set size <= mbits however large the input, and
    bits(A union B) == bits(A) | bits(B) — the Bloom merge."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.sketch import bloom_build

    a = [Row(doc_id=i, text=" ".join(f"a{i}w{j}" for j in range(16)))
         for i in range(15)]
    b = [Row(doc_id=i, text=" ".join(f"b{i}w{j}" for j in range(16)))
         for i in range(15)]
    M = 128

    def bits(rows):
        return {r.bit_pos for r in
                bloom_build(spark.createDataFrame(rows), mbits=M).collect()}

    ba, bb, bu = bits(a), bits(b), bits(a + b)
    assert bu == ba | bb
    assert len(bu) <= M


# --------------------------------------------------------------------- ivfpq

def _ivfpq_twin_codes(vecs, cent, cb):
    """Loop-form numpy IVFADC index: {vec_id: (cell, codes)}."""
    import numpy as np

    m, ks, subdim = cb.shape
    out = {}
    for i, v in enumerate(vecs):
        dc = [(-2.0 * float(v @ c) + float(c @ c)) for c in cent]
        cell = int(np.argmin(dc))
        r = v - cent[cell]
        codes = []
        for s in range(m):
            rs = r[s * subdim:(s + 1) * subdim]
            ds = [(-2.0 * float(rs @ cb[s][c]) + float(cb[s][c] @ cb[s][c]))
                  for c in range(ks)]
            codes.append(int(np.argmin(ds)))
        out[i] = (cell, codes)
    return out


def test_ivfpq_encode_matches_numpy_twin(spark):
    """Cell + residual codes == the independent loop-form numpy index
    (ties to lower cell/code by argmin-first)."""
    import numpy as np
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.similarity import ivfpq_encode, pq_codebook

    rng = np.random.RandomState(12)
    vecs = rng.normal(size=(60, 16))
    cent = rng.normal(size=(4, 16))
    cb = pq_codebook(m=4, ks=8, subdim=4, seed=55)
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v])
         for i, v in enumerate(vecs)])
    got = {r.vec_id: (r._cell, list(r.codes))
           for r in ivfpq_encode(emb, cent, cb).collect()}
    assert got == _ivfpq_twin_codes(vecs, cent, cb)


def test_ivfpq_topk_probe_restriction_and_adc(spark):
    """Every result lies in the query's n_probe nearest cells, is
    ADC-scored exactly like the python twin, and vectors outside the
    probed cells never appear even when exact-closer."""
    import numpy as np
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.similarity import ivfpq_topk, pq_codebook

    rng = np.random.RandomState(13)
    vecs = rng.normal(size=(80, 16))
    cent = rng.normal(size=(4, 16))
    cb = pq_codebook(m=4, ks=8, subdim=4, seed=56)
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v])
         for i, v in enumerate(vecs)])
    queries = emb.filter(F.col("vec_id") < 2)
    NP, K = 2, 6
    out = ivfpq_topk(emb, queries, cent, cb, k=K, n_probe=NP).collect()

    codes = _ivfpq_twin_codes(vecs, cent, cb)
    m, ks, subdim = cb.shape
    for qid in (0, 1):
        q = vecs[qid]
        dc = np.array([(-2.0 * float(q @ c) + float(c @ c)) for c in cent])
        probed = list(np.argsort(dc, kind="stable")[:NP])
        scored = []
        for i in range(80):
            cell, cds = codes[i]
            if i == qid or cell not in probed:
                continue
            qres = q - cent[cell]
            d = 0.0
            for s in range(m):
                qs = qres[s * subdim:(s + 1) * subdim]
                c = cb[s][cds[s]]
                d += float(qs @ qs) - 2.0 * float(qs @ c) + float(c @ c)
            scored.append((round(d, 6), i))
        want = sorted(scored)[:K]
        got = sorted((r.pq_dist, r.vec_id) for r in out if r.query_id == qid)
        assert got == want, qid
        assert all(codes[i][0] in probed for _, i in got)


def test_ivfpq_trained_recall_on_clustered(spark):
    """Trained coarse cells + residual-trained codebook on a clustered
    corpus (the regime IVFADC targets): recall@5 vs exact squared-L2
    must be high with half the cells probed."""
    import numpy as np

    from xenoeye_spark.datapipe.similarity import (
        ivfpq_topk, ivfpq_train_codebook, kmeans_lite,
    )

    rng = np.random.RandomState(21)
    centers = rng.randn(4, 16) * 5
    vecs = np.vstack([c + rng.randn(40, 16) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id").isin([0, 40, 80, 120]))
    cent = kmeans_lite(vecs, 4, seed=3)
    cb = ivfpq_train_codebook(df, cent, m=8, ks=32)
    got = {(r.query_id, r.vec_id)
           for r in ivfpq_topk(df, q, cent, cb, k=5, n_probe=2).collect()}
    hits = tot = 0
    for qid in (0, 40, 80, 120):
        d = sorted((float(((v - vecs[qid]) ** 2).sum()), i)
                   for i, v in enumerate(vecs) if i != qid)
        exact = {(qid, i) for _, i in d[:5]}
        tot += len(exact)
        hits += len(exact & got)
    # measured 0.9 at this config; 0.6 leaves seed headroom while
    # staying far above chance (5/159)
    assert hits / tot >= 0.6, (hits, tot)


def test_ivfpq_fixed_beats_random_on_uniform(spark):
    """The gate's fixed scale-matched index on the uniform-sphere
    sf0.01 embeddings: recall@10 must beat random chance (10/499 ~2%)
    by ~3x. Deterministic — fixed seeds, fixed data."""
    import numpy as np

    from xenoeye_spark.datapipe.similarity import ivfpq_topk, pq_codebook

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    cent = np.random.RandomState(777).normal(size=(8, 64)) * 0.125
    cb = pq_codebook(m=8, ks=16, subdim=8, seed=779, scale=0.18)
    got = {(r.query_id, r.vec_id)
           for r in ivfpq_topk(emb, queries, cent, cb,
                               k=10, n_probe=4).collect()}
    vecs = {r.vec_id: np.array(r.embedding, dtype=float)
            for r in emb.collect()}
    hits = 0
    for qid in range(3):
        d = sorted((float(((v - vecs[qid]) ** 2).sum()), i)
                   for i, v in vecs.items() if i != qid)
        hits += len({(qid, i) for _, i in d[:10]} & got)
    assert hits >= 2, hits


# --------------------------------------------------------- incremental dedup

def test_incremental_dedup_flags_planted_dups(spark):
    """Planted near-duplicates of corpus docs are flagged with the
    right dup_of and a high jaccard; genuinely new docs are kept."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.dedup import incremental_dedup

    corpus = [Row(doc_id=i,
                  text=" ".join(f"c{i}w{j}" for j in range(30)))
              for i in range(20)]
    base3 = corpus[3].text.split()
    near3 = " ".join(base3[:28] + ["xx", "yy"])      # ~near-dup of 3
    new = [
        Row(doc_id=100, text=corpus[5].text),        # exact dup of 5
        Row(doc_id=101, text=near3),                 # near dup of 3
        Row(doc_id=102, text=" ".join(f"n{j}" for j in range(30))),
    ]
    out = {r.doc_id: r for r in incremental_dedup(
        spark.createDataFrame(new), spark.createDataFrame(corpus),
        threshold=0.5).collect()}
    assert len(out) == 3
    assert (out[100].is_dup, out[100].dup_of, out[100].jaccard) == (1, 5, 1.0)
    assert out[101].is_dup == 1 and out[101].dup_of == 3
    assert 0.5 <= out[101].jaccard < 1.0
    assert (out[102].is_dup, out[102].dup_of, out[102].jaccard) == (0, None, None)


def test_incremental_dedup_best_match_tie_to_lowest_id(spark):
    """A new doc equally similar to two corpus docs (identical texts)
    reports the LOWEST corpus id — the argmax tie rule the oracle
    mirrors."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.dedup import incremental_dedup

    t = " ".join(f"w{j}" for j in range(20))
    corpus = [Row(doc_id=7, text=t), Row(doc_id=4, text=t),
              Row(doc_id=9, text="other words entirely here now ok")]
    new = [Row(doc_id=100, text=t)]
    [r] = incremental_dedup(
        spark.createDataFrame(new), spark.createDataFrame(corpus),
        threshold=0.5).collect()
    assert (r.is_dup, r.dup_of, r.jaccard) == (1, 4, 1.0)


def test_incremental_dedup_matches_bruteforce_twin_at_sf(spark):
    """At sf0.01 with a %10 split: every flagged pair agrees with a
    brute-force python Jaccard over the same 3-gram shingles, and no
    above-threshold corpus match is missed for the flagged docs."""
    from xenoeye_spark.datapipe.dedup import incremental_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    old = docs.filter(F.col("doc_id") % 10 != 7)
    got = {r.doc_id: r for r in
           incremental_dedup(new, old, threshold=0.35).collect()}

    texts = {r.doc_id: r.text for r in docs.collect()}

    def shset(t):
        toks = t.strip().split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    flagged = [d for d, r in got.items() if r.is_dup]
    assert flagged, "sf0.01 plants near-dups; none flagged"
    for d in flagged:
        r = got[d]
        a = shset(texts[d])
        b = shset(texts[r.dup_of])
        jac = len(a & b) / len(a | b)
        assert abs(jac - r.jaccard) < 1e-6, d
        # it is the best match: no other corpus doc beats it
        best = max(
            (len(a & shset(texts[o])) / len(a | shset(texts[o])), -o)
            for o in texts if o % 10 != 7
        )
        assert abs(best[0] - r.jaccard) < 1e-6 and -best[1] == r.dup_of, d


def test_incremental_dedup_fused_table_matches_builders(spark):
    """r12 optimization: incremental_dedup computes signatures and the
    verify shingle table from ONE staged shingle-string array per side
    (sig_and_shingle_table). The fused columns must be bit-identical to
    the standalone builders (minhash_signatures / shingle_table)
    they replaced — including the empty/short-doc contracts."""
    from xenoeye_spark.datapipe.dedup import (
        minhash_signatures, shingle_table, sig_and_shingle_table,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 300
    ).unionByName(spark.createDataFrame(
        [(90001, "", "x", "en", 0), (90002, "one two", "x", "en", 7)],
        "doc_id long, text string, source string, lang string, n_chars long",
    ).select(*spark.read.parquet(f"{SF_DIR}/documents.parquet").columns))
    fused = {r["_id"]: (sorted(r["_sh"]), r["_sz"], list(r["signature"]))
             for r in sig_and_shingle_table(docs, n=3).collect()}
    sig = {r["doc_id"]: list(r["signature"])
           for r in minhash_signatures(docs, n=3, num_hashes=64).collect()}
    sh = {r["_id"]: (sorted(r["_sh"]), r["_sz"])
          for r in shingle_table(docs, 3).collect()}
    assert set(fused) == set(sig) == set(sh)
    for d, (fsh, fsz, fsig) in fused.items():
        assert (fsh, fsz) == sh[d], d
        assert fsig == sig[d], d


# --------------------------------------------------------- log-hist quantile

def test_log_hist_quantiles_matches_python_twin(spark):
    """Batch log-histogram quantiles == the streaming module's python
    fold (same binning, same interpolation) per group, and the error
    vs the exact nearest-rank percentile stays inside one sub-bin."""
    import math

    import numpy as np
    from pyspark.sql import Row

    from xenoeye_spark.operators.summary import log_hist_quantiles
    from xenoeye_spark.streaming.quantile_stream import (
        hist_quantiles, value_bin,
    )

    rng = __import__("random").Random(11)
    data = {
        "g0": [rng.randint(1, 100_000) for _ in range(500)],
        "g1": [rng.randint(50, 80) for _ in range(40)],
        "g2": [0, 0, 1, 7],                     # zero bin + tiny group
    }
    rows = [Row(k=k, v=v) for k, vals in data.items() for v in vals]
    out = {r.k: r for r in log_hist_quantiles(
        spark.createDataFrame(rows), ["k"], "v").collect()}
    for k, vals in data.items():
        hist: dict[int, int] = {}
        for v in vals:
            b = value_bin(v)
            hist[b] = hist.get(b, 0) + 1
        t50, t90, t99 = hist_quantiles(
            np.array(list(hist.keys()), dtype=np.int64),
            np.array(list(hist.values()), dtype=np.int64),
            [0.5, 0.9, 0.99],
        )
        r = out[k]
        assert (r.p50, r.p90, r.p99) == (t50, t90, t99), k
        assert r.n_rows == len(vals)
        for q, est in [(0.5, r.p50), (0.9, r.p90), (0.99, r.p99)]:
            exact = sorted(vals)[max(1, math.ceil(q * len(vals))) - 1]
            assert abs(est - exact) <= exact / 8 + 1, (k, q, est, exact)


def test_log_hist_quantiles_merge_is_binwise_sum(spark):
    """hist(A union B) == bin-wise SUM of hist(A), hist(B) — the
    mergeable property the map-side combine and the streaming
    pre-combine both rely on (checked through identical quantiles)."""
    from pyspark.sql import Row

    from xenoeye_spark.operators.summary import log_hist_quantiles

    a = [Row(k="x", v=int(3 + 7 * i) % 997 + 1) for i in range(200)]
    b = [Row(k="x", v=int(11 + 13 * i) % 4093 + 1) for i in range(300)]
    u = {r.k: (r.p50, r.p90, r.p99, r.n_rows)
         for r in log_hist_quantiles(
             spark.createDataFrame(a + b), ["k"], "v").collect()}
    # recompute from the union in a different row order — histogram
    # identity makes the result order-free
    u2 = {r.k: (r.p50, r.p90, r.p99, r.n_rows)
          for r in log_hist_quantiles(
              spark.createDataFrame(b + a), ["k"], "v").collect()}
    assert u == u2 and u["x"][3] == 500


# ------------------------------------------------------------- decompress

def test_decompress_text_three_codecs_and_errors(spark):
    """gzip / raw zlib / plain passthrough all reproduce the original
    text (multibyte included); corrupt members fail loudly by default
    and map to NULL under on_error='null'."""
    import gzip
    import zlib

    from pyspark.sql import Row

    from xenoeye_spark.datapipe.text import decompress_text

    import bz2
    import lzma

    texts = {0: "hello world", 1: "压缩 文本 round trip", 2: "plain stays",
             3: "bzip2 member here", 4: "xz stream too"}
    rows = [
        Row(doc_id=0, content=bytearray(gzip.compress(
            texts[0].encode(), mtime=0))),
        Row(doc_id=1, content=bytearray(zlib.compress(texts[1].encode()))),
        Row(doc_id=2, content=bytearray(texts[2].encode())),
        Row(doc_id=3, content=bytearray(bz2.compress(texts[3].encode()))),
        Row(doc_id=4, content=bytearray(lzma.compress(texts[4].encode()))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r.doc_id: r.text for r in decompress_text(df).collect()}
    assert got == texts

    bad = spark.createDataFrame(
        rows + [Row(doc_id=3, content=bytearray(b"\x1f\x8b\x00corrupt"))],
        "doc_id long, content binary",
    )
    import pytest as _pytest
    with _pytest.raises(Exception):
        decompress_text(bad).collect()
    got2 = {r.doc_id: r.text
            for r in decompress_text(bad, on_error="null").collect()}
    assert got2[3] is None and got2[0] == texts[0]


# -------------------------------------------------- sketch scale smokes

def test_hll_bloom_scale_smoke_500k(spark):
    """The r6 sketch family at 500k synthetic rows: finishes, register
    table stays <= m per group, bloom bit set stays <= mbits — and the
    plans carry NO re-inlined tokenizer in a Filter (the pushed-
    predicate regression this round's fix hunted down)."""
    from xenoeye_spark.datapipe.sketch import (
        HLL_M, bloom_build, hll_distinct,
    )

    n = 500_000
    docs = (
        spark.range(n)
        .selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS lang",
            "concat_ws(' ', transform(sequence(0, 11), "
            "i -> concat('w', (id * 7 + i * 13) % 50021))) AS text",
        )
    )
    out = hll_distinct(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not any(
        "Filter" in ln and "split(trim(" in ln for ln in plan.split("\n")
    )
    rows = out.collect()
    assert {r.lang for r in rows} == {"a", "b"}
    for r in rows:
        assert r.n_zero_registers >= 0
        assert abs(r.hll_est - r.exact_distinct) / r.exact_distinct < 0.2
    bits = bloom_build(docs.limit(100_000), mbits=1 << 14)
    assert bits.count() <= 1 << 14


def test_decompress_text_x_prefixed_plain_text_passes_through(spark):
    """Texts starting with 'x' (0x78 — the zlib CMF byte) and even
    'x ' (which passes RFC 1950's %31 checksum rule) must pass through
    as plain text, not crash the inflater."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.text import decompress_text

    texts = {0: "xenon levels nominal", 1: "x marks the spot",
             2: "x? not a zlib header"}
    rows = [Row(doc_id=i, content=bytearray(t.encode()))
            for i, t in texts.items()]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r.doc_id: r.text for r in decompress_text(df).collect()}
    assert got == texts
    # the DOCUMENTED residual ambiguity: a text beginning exactly
    # "x\x5e" matches a standard zlib header and is (correctly, per
    # the sniffing contract) routed to the inflater
    amb = spark.createDataFrame(
        [Row(doc_id=9, content=bytearray(b"x\x5e looks compressed"))],
        "doc_id long, content binary",
    )
    [r] = decompress_text(amb, on_error="null").collect()
    assert r.text is None


def test_chunk_documents_whitespace_only_docs_emit_no_rows(spark):
    """Review fix: a doc of only tabs/newlines (which Spark's trim —
    ASCII-space-only — does NOT blank) must emit zero chunks, matching
    the docstring and the DuckDB oracle's len(toks) > 0 cut."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.text import chunk_documents

    docs = spark.createDataFrame([
        Row(doc_id=0, text="\t\n \r"),
        Row(doc_id=1, text=""),
        Row(doc_id=2, text="one two three"),
    ])
    got = chunk_documents(docs, chunk=2, stride=2).collect()
    assert {r.doc_id for r in got} == {2}
    assert sorted((r.chunk_id, r.chunk_text) for r in got) == [
        (0, "one two"), (1, "three"),
    ]


def test_log_hist_quantiles_ignores_nulls(spark):
    """Review fix: NULL values are dropped outright — a NULL bin sorts
    first in Spark's ASC window but LAST in DuckDB's, so keeping them
    would skew one engine's cumulative walk only."""
    from pyspark.sql import Row

    from xenoeye_spark.operators.summary import log_hist_quantiles

    rows = ([Row(k="g", v=100)] * 10 + [Row(k="g", v=None)] * 5)
    [r] = log_hist_quantiles(
        spark.createDataFrame(rows, "k string, v long"), ["k"], "v"
    ).collect()
    assert r.n_rows == 10
    assert 90 <= r.p50 <= 110 and 90 <= r.p99 <= 110


def test_bpe_train_batched_matches_sequential_untied(spark):
    """r7: batch>1 fuses the compatible prefix of each round's top
    pairs in ONE fold — identical merge table to the sequential
    trainer when counts are untied. Word weights are powers of two, so
    every pair count is a distinct subset-sum."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.ranking import bpe_train

    words = ["abcd", "bcde", "cdef", "defg", "efgh"]
    text = " ".join(w for i, w in enumerate(words) for _ in range(2 ** i))
    docs = spark.createDataFrame([Row(doc_id=0, text=text)])

    seq = bpe_train(docs, n_merges=10)
    for k in (2, 4, 8):
        assert bpe_train(docs, n_merges=10, batch=k) == seq, k
    want, _, _ = _bpe_train_twin(text.split(), 10)
    assert seq == want


def test_bpe_compatible_prefix_rules():
    """The batch admitter: prefix-only (stop at the first incompatible
    pair, never skip), symbol-disjointness, fused-string collisions,
    and the min_count exhaustion signal."""
    from xenoeye_spark.datapipe.ranking import _bpe_compatible_prefix

    def rows(*triples):
        return [{"a": a, "b": b, "n": n} for a, b, n in triples]

    # plain disjoint prefix: all admitted
    adm, done = _bpe_compatible_prefix(
        rows(("a", "b", 9), ("c", "d", 8)), 8, 1
    )
    assert adm == [("a", "b", 9), ("c", "d", 8)] and not done

    # shared symbol cuts the prefix BEFORE the still-compatible tail
    adm, done = _bpe_compatible_prefix(
        rows(("a", "b", 9), ("b", "c", 8), ("x", "y", 7)), 8, 1
    )
    assert adm == [("a", "b", 9)] and not done

    # fused-string collision: 'ab' minted by pair 1 is pair 2's element
    adm, done = _bpe_compatible_prefix(
        rows(("a", "b", 9), ("ab", "c", 8)), 8, 1
    )
    assert adm == [("a", "b", 9)] and not done

    # ...and the mirror case: a later pair would mint an admitted element
    adm, done = _bpe_compatible_prefix(
        rows(("xy", "z", 9), ("x", "y", 8)), 8, 1
    )
    assert adm == [("xy", "z", 9)] and not done

    # below-min_count candidate ends TRAINING, not just the batch
    adm, done = _bpe_compatible_prefix(
        rows(("a", "b", 9), ("c", "d", 1)), 8, 2
    )
    assert adm == [("a", "b", 9)] and done

    # self-pair (a,a) admits alone
    adm, done = _bpe_compatible_prefix(
        rows(("a", "a", 9), ("a", "b", 8)), 8, 1
    )
    assert adm == [("a", "a", 9)] and not done


def test_diverse_topk_greedy_twin(spark):
    """r9: diverse_topk == the greedy walk down the global score order
    that skips rows whose group already holds m picks — checked against
    a literal python greedy fold, including score ties (id tiebreak),
    groups smaller than m, and k cutting mid-group; presplit never
    changes the result; k/m validation raises."""
    import pytest as _pytest
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.sampling import diverse_topk

    rows = [Row(doc_id=i, dom=f"d{i % 5}", score=(i * 13) % 7)
            for i in range(100)]
    df = spark.createDataFrame(rows)

    with _pytest.raises(ValueError, match="diverse_topk"):
        diverse_topk(df, "score", 0, "dom", 3)

    def run(presplit):
        return [
            (r.pick_rank, r.doc_id, r.dom)
            for r in diverse_topk(
                df, "score", 12, "dom", 3, presplit=presplit
            ).orderBy("pick_rank").collect()
        ]

    got = run(32)
    assert got == run(0) == run(4)

    # literal greedy twin
    taken: dict[str, int] = {}
    twin = []
    for r in sorted(rows, key=lambda r: (-r.score, r.doc_id)):
        if taken.get(r.dom, 0) < 3:
            taken[r.dom] = taken.get(r.dom, 0) + 1
            twin.append((len(twin) + 1, r.doc_id, r.dom))
        if len(twin) == 12:
            break
    assert got == twin
    # the cap binds: no group exceeds m
    per_dom: dict[str, int] = {}
    for _, _, dom in got:
        per_dom[dom] = per_dom.get(dom, 0) + 1
    assert max(per_dom.values()) <= 3 and len(got) == 12


def test_quantile_clip_twin(spark):
    """r9: quantile_clip clamps each row into its group's [lo, hi]
    percentile band — checked against a literal numpy winsorize with
    the same linear-interpolation percentile; rows inside the band pass
    through unchanged, outliers land exactly on the rounded bound; the
    sketch path stays within its accuracy; validation raises."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import Row

    from xenoeye_spark.operators.summary import quantile_clip

    rows = [Row(doc_id=i, g=f"g{i % 2}", v=((i * 37) % 101) * 10)
            for i in range(80)]
    df = spark.createDataFrame(rows)

    with _pytest.raises(ValueError, match="quantile_clip"):
        quantile_clip(df, ["g"], "v", lo=0.9, hi=0.1)
    with _pytest.raises(ValueError, match="collide"):
        quantile_clip(df.withColumnRenamed("v", "clipped"), ["g"],
                      "clipped")

    got = {
        r.doc_id: r.clipped
        for r in quantile_clip(df, ["g"], "v", 0.1, 0.9).collect()
    }
    by_g = {}
    for r in rows:
        by_g.setdefault(r.g, []).append(r)
    n_clipped = 0
    for g, members in by_g.items():
        vals = np.array([m.v for m in members], dtype=float)
        lo = round(float(np.percentile(vals, 10)), 6)   # linear interp
        hi = round(float(np.percentile(vals, 90)), 6)
        for m in members:
            want = round(min(max(float(m.v), lo), hi), 6)
            assert got[m.doc_id] == want
            n_clipped += want != float(m.v)
    assert n_clipped > 0          # the band actually binds on this data

    # sketch path: same shape, bounds within coarse tolerance
    approx = {
        r.doc_id: r.clipped
        for r in quantile_clip(df, ["g"], "v", 0.1, 0.9,
                               exact=False).collect()
    }
    assert set(approx) == set(got)
    assert all(abs(approx[k] - got[k]) <= 60 for k in got)


# ------------------------------------------------------ bpe_steps (r12)

def test_bpe_steps_matches_bpe_train_merges(spark):
    """The unrolled 2-step variant chooses exactly the merges the
    sequential trainer does (same statistic, same total order), and
    its replace()-based merge equals the trainer's fold."""
    from xenoeye_spark.datapipe.ranking import bpe_steps, bpe_train

    rows = [(i, t) for i, t in enumerate([
        "the cat sat on the mat", "the hat is that",
        "this aaaa that aaa", "banana bandana",
        "low lower lowest newest new", "the the then"] * 3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bpe_steps(df, n_steps=2, k=10).collect()
    steps = sorted((r.step, r.a, r.b, r.pair_count)
                   for r in out if r.step > 0)
    merges = bpe_train(df, n_merges=2)
    assert [(s - 1, a, b, c) for s, a, b, c in steps] == merges
    final = {(r.a, r.b): r.pair_count for r in out if r.step == 0}
    # the post-merge table speaks the merged symbols
    assert final[("th", "e")] == 18
    assert len(final) == 10


def test_bpe_steps_greedy_and_boundary_edges(spark):
    """Greedy leftmost non-overlap ('aaa' + (a,a) -> [aa, a]: the
    second-round count sees ONE (aa,a) pair per word) and boundary
    safety (a fused symbol's suffix never false-matches the next
    round's pair)."""
    from xenoeye_spark.datapipe.ranking import bpe_steps

    # 'aaa' x 9, 'aab' x 3: round 1 merges (a,a) with count
    # 9*2? no — pairs per word count positionally: 'aaa' has (a,a)
    # twice -> 9*2 + 3 = 21; round 2 then sees [aa,a] and [aa,b]
    df = spark.createDataFrame(
        [(i, " ".join(["aaa"] * 3)) for i in range(3)]
        + [(10 + i, "aab") for i in range(3)],
        "doc_id long, text string",
    )
    out = {(r.step, r.a, r.b): r.pair_count
           for r in bpe_steps(df, n_steps=2, k=10).collect()}
    assert out[(1, "a", "a")] == 21
    assert out[(2, "aa", "a")] == 9
    # post-merge-2: 'aaa' is one symbol; only (aa,b) remains
    assert out[(0, "aa", "b")] == 3
    assert (0, "a", "a") not in out

    # boundary: corpus where round 1 fuses (t,h); a word 'xth e'-like
    # shape must NOT let round 2's (h,e) eat the 'h' inside 'th'
    df2 = spark.createDataFrame(
        [(i, "th th th he he hx") for i in range(2)]
        + [(10, "othe othe")],
        "doc_id long, text string",
    )
    out2 = {(r.step, r.a, r.b): r.pair_count
            for r in bpe_steps(df2, n_steps=2, k=20).collect()}
    # round 1: (t,h) x8 (th x6 + inside othe x2); round 2: (h,e) x4
    # (the 'h e' inside othe became 'th e', so it no longer counts)
    assert out2[(1, "t", "h")] == 8
    assert out2[(2, "h", "e")] == 4
    # 'othe' -> [o, th, e]: the (h,e) merge must NOT eat the 'h'
    # inside the fused 'th' — (th,e) survives, (t,he) never appears
    assert out2[(0, "th", "e")] == 2
    assert out2[(0, "o", "th")] == 2
    assert (0, "t", "he") not in out2
