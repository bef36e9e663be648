"""Generate PLANS.md: the formatted physical plan of every driver query.

Run: python scripts/plans.py [sf_dir]   (default /root/testdata/sf0.01)

Each query from __spark_entry__.queries() is built (not executed) and its
`explain("formatted")` output captured, with a short note on the plan
properties that matter at scale (scan pruning, broadcast vs shuffle,
partial aggregation, Python stage boundaries). Reviewing this file after
operator changes is part of the performance loop: a plan that reads all
columns, shuffles a dimension table, or row-collects to the driver is a
bug even when the query passes.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NOTES = {
    "fwm_topn_others": "one scan; partial agg before the single shuffle; "
    "top-N + others resolved in one pass (no second scan of the agg).",
    "filter_dsl": "DSL compiles to native Column predicates -> pushed to the "
    "parquet scan (PushedFilters), whole-stage codegen, no Python.",
    "filter_hierarchy": "parent+child filters collapse into one conjunctive "
    "scan-level predicate: hierarchy costs nothing at runtime.",
    "scalar_div": "div/div_r/div_l are closed-form expressions - codegen, "
    "no UDF.",
    "classify_toppercent": "agg + cumulative-window over the (tiny) class "
    "table; the corpus sees one scan + one shuffle.",
    "classify_stamp": "class model is broadcast; stamping is a map-side "
    "joined projection.",
    "iplist_match": "CIDR list folds to range predicates on a long column - "
    "scan-level, no join.",
    "geoip_lpm": "longest-prefix match = broadcast join on /8 bucket + "
    "range filter; corpus side never shuffles.",
    "dedup_exact": "md5 groupBy: partial agg map-side, one shuffle on the "
    "16-byte hash.",
    "dedup_ngram_jaccard": "prefix-filter equi-join generates candidates "
    "(no n^2 product); exact verify on the candidate set only.",
    "dedup_minhash_lsh": "signatures (one Arrow-batched numpy kernel) and "
    "the Jaccard shingle table come from one staged tokenization; LSH "
    "banding keys the shuffle by (band, bucket).",
    "simhash": "one Arrow-batched numpy kernel over the JVM tokens; no "
    "shuffle.",
    "doc_fingerprint": "one Arrow-batched numpy kernel over the text; no "
    "shuffle.",
    "sim_topk": "corpus scans once; queries broadcast; per-query top-k via "
    "window rank over the scored partition.",
    "emb_neardup": "blocked matmul in mapInPandas over a broadcast matrix; "
    "no join, no shuffle - output only above-threshold pairs.",
    "sim_ivf": "corpus partitioned by IVF cell once; queries broadcast with "
    "their probe cells; scoring is an Arrow-batched einsum.",
    "mavg_ewma": "EWMA replay is a window function over (key, time) - one "
    "shuffle on the key.",
    "mo_pipeline": "end-to-end standing query: filter pushed into scan, "
    "then the fwm shape.",
    "multimodal_feat": "binary decode/featurize as mapInPandas - partition-"
    "parallel, constant memory per batch.",
    "frame_sample": "one-row-to-many-frames fan-out inside mapInPandas; "
    "no shuffle.",
    "dedup_groups": "small pair graphs (<= XE_CC_LOCAL_EDGES) run one "
    "coalesced union-find mapInPandas task (r12 optimization - no star "
    "rounds in the plan); larger graphs iterate the star rounds "
    "driver-side over localCheckpointed edge sets (O(log n) rounds).",
    "stratified_sample": "broadcast count join prunes each group to "
    "~factor*quota rows BEFORE the single window shuffle; the window "
    "itself ranks only survivors.",
    "corpus_curate": "four pipeline stages composed in one plan: semi-join "
    "survivors of exact dedup and the quality cut, anti-join the CC dup "
    "members (iterated driver-side over checkpointed edges), one window "
    "for the quota.",
    "asof_join": "no range theta-join / BroadcastNestedLoop anywhere: "
    "union both sides, ONE shuffle on the by-key, forward-fill window "
    "picks the latest preceding right row.",
    "sessionize": "lag + running sum + row_number share one window "
    "shuffle on the session key.",
    "time_rollup": "day grain re-aggregates the hour AGGREGATE (union "
    "branches share the finest-grain exchange via AQE reuse) — never a "
    "second pass over the raw stream, never a GROUPING SETS Expand.",
    "interval_join": "range containment as a bucketed HASH join "
    "(explode intervals into time buckets, equi-join on bucket+key, "
    "exact range filter after) — no BroadcastNestedLoop.",
    "gopher_quality": "zero-shuffle per-row projection (r12 "
    "optimization): the top-bigram rule is an in-row sorted-run fold, "
    "no explode, no join.",
    "segment_dedup": "one shuffle on segment md5; rank() over "
    "(doc_id, pos) inside it marks the corpus-wide first occurrence — "
    "no aggregate per segment and no join back; one re-group on doc_id.",
    "bm25": "explode filtered to query terms BEFORE the shuffle; "
    "df/avgdl scalar aggregates broadcast back; corpus scanned once. "
    "(The Cross BroadcastNestedLoop is the ONE-ROW (n, avgdl) scalar "
    "attach — a constant build side, not a pair blowup.)",
    "vocab_topk": "explode + hash agg; partial aggregation bounds "
    "shuffle volume by per-task vocabulary, not token count.",
    "kmv_distinct": "int64-exact expression hashes; distinct partial-"
    "dedups map-side; one window ranks each group's k minima.",
    "contamination": "shingle both splits, distinct, ONE equi-join on "
    "xxhash64(shingle) (inverted index), re-agg on eval doc.",
    "length_quantiles": "exact sort-based percentile per bounded group; "
    "the 100-TB twin is approx_percentile (GK sketch, map-side "
    "mergeable) behind the same API.",
    "tfidf_topterms": "full-token explode collapses map-side into "
    "(doc, term) partials; df + the in-plan N scalar broadcast back "
    "(no second scan); one row_number window per doc.",
    "hash_split": "pure projection — the split is integer arithmetic "
    "on the id, zero shuffle, reproducible at any parallelism.",
    "pack_sequences": "ONE window cumsum assigns bins (capacity-"
    "quantized next-fit over FFD order) — no driver loop, no "
    "recursion; partition with by= beyond ~10^8 docs.",
    "bigram_lm": "the LM is two map-side-combined count tables; "
    "scoring joins eval bigrams against them (AQE broadcasts while "
    "small) + one in-plan scalar for |V|; no Python, no sampling.",
    "count_min": "partial HashAggregate before the exchange caps the "
    "shuffle at d*w keys per partition — the sketch merge IS the "
    "map-side combine; probes broadcast against the tiny sketch.",
    "pq_topk": "encode = one Arrow projection (no shuffle); ADC scores "
    "codes against the broadcast 3-row query set (reviewed BNL); "
    "WindowGroupLimit pre-limits top-k below the single exchange.",
    "hll_distinct": "registers max-combine map-side (the HLL merge); "
    "shuffle = O(m * partitions) per group vs count-distinct's "
    "every-key exchange; estimate joins two tiny aggregates.",
    "bloom_contam": "train side collapses to <= mbits DISTINCT bit "
    "rows before its exchange; probe is a broadcast left-semi "
    "equi-join — no raw train shingle crosses the probe stage.",
    "ivfpq_topk": "cell pruning is a broadcast EQUI-join on _cell "
    "(not a BNL): each query scores only its probed cells' code "
    "bytes; encode is one shuffle-free Arrow pass.",
    "incremental_dedup": "ONE fused tokenize/shingle pass per side "
    "feeds signatures AND the verify table (r12 optimization); corpus "
    "never broadcast; new batch probes via (band,bucket) equi-join; "
    "one max_by argmax, no window.",
    "hist_quantiles": "bin counts partial-aggregate map-side (bin-wise "
    "SUM is the merge); the cumsum window runs over <= sub*64 bins per "
    "group, not the values.",
    "diverse_topk": "per-group cap gets WindowGroupLimit pushdown "
    "(partial rank-limit BEFORE each exchange); the global cut is "
    "TakeOrderedAndProject (per-partition heaps, no global sort); the "
    "rank window runs over the k survivors only.",
    "quantile_bucket": "quantile_clip's two-pass shape: one-row-per-"
    "group tercile cuts (exact percentile here; approx_percentile is "
    "the 100-TB path), broadcast back, labeling a pure projection — "
    "no window, no per-group reducer.",
    "url_dedup": "canonicalization is one narrow JVM string/array "
    "projection; the dedup is exact_dedup's shape on the canonical "
    "key — ONE map-side-combined shuffle, no window, nothing "
    "all-pairs.",
    "url_canon": "the whole canonical chain (r11: %XX hex fold, "
    "'?'-aware authority split, (?i) tracking filter) is ONE pure "
    "JVM string/array projection over a single-column pruned scan — "
    "zero shuffles, zero Python.",
    "ppl_split": "bigram_lm's plan (two map-side-combined count aggs "
    "+ broadcast model joins + the one-row V scalar) feeding "
    "quantile_bucket's two-pass (one-row-per-lang tercile cuts, "
    "broadcast back, labels a pure projection) — no window, no "
    "per-group reducer anywhere in the composition.",
    "strip_common_lines": "one (digest, doc) distinct + count agg "
    "(both map-side combinable; 16-byte digests shuffle, never line "
    "text), the >= min_docs common set small by construction, a "
    "digest-keyed left_anti join back (AQE broadcasts it) and a "
    "per-doc regroup rebuilding the text in line order — nothing "
    "quadratic, no window.",
    "quantile_clip": "bounds collapse to one row per group (exact "
    "percentile buffers bounded groups; approx_percentile is the "
    "100-TB path behind the same API); the dimension-sized bounds "
    "table broadcasts back and the clamp is a pure projection.",
    "html_extract": "page synthesis + the whole strip chain are ONE "
    "pure JVM projection over one scan — zero shuffles, zero Python; "
    "regex cost linear in page bytes.",
    "dsir_sample": "the published two-pass shape (grams bucket by the "
    "native crc32, no interpreted per-char fold): fit scans each "
    "corpus once into bucket-keyed counts (map-side combine bounds "
    "both shuffles at O(n_buckets x partitions); totals are window "
    "sums over the n_buckets-row table, NOT scalar aggs that would "
    "re-scan); apply scans raw once more into per-doc int-pair "
    "counts, broadcast-joins the 1024-row ratio, TakeOrdered cut.",
    "mixture_interleave": "weight filter pushed into the scan "
    "(INSET); one exchange on source for the rank window; the key is "
    "integer arithmetic and the global cut is TakeOrderedAndProject "
    "— no single-reducer window.",
    "dedup_lines": "pure row-local higher-order expressions over one "
    "scan — zero shuffles, zero Python; O(lines^2) per row, both "
    "factors document-local.",
    "hash_classify": "grams bucket by the native crc32 (no interpreted "
    "per-char fold); fit = one gram pass into (label, bucket) counts "
    "(map-side combine bounds the shuffle at O(L x B x partitions)) + "
    "a label-column-only prior scan; the L x B model domain is the "
    "one reviewed BNL (dimension-tiny cross join); inference = one "
    "more gram pass, broadcast model join, argmax as a combinable "
    "min(struct) agg — no per-doc window.",
    "jsonl_ingest": "one scan, zero shuffles in the op itself "
    "(decompress is one mapInPandas projection; split/explode/"
    "from_json are narrow JVM stages); the fixture's groupBy builds "
    "the shard files, not the operator.",
    "substring_dedup": "one Generate (codegen'd explode + substring) "
    "mints the windows; ONE shuffle on the window key carries the "
    "rank() that finds each first occurrence (rank > 1 is excised: no "
    "per-window aggregate, no join back to the windows); the span "
    "merge is per-doc and the only join is the per-doc one on the id.",
    "dedup_profile": "the exact_dedup md5 aggregation (map-side "
    "combined) plus a count-of-counts groupBy on O(distinct sizes) "
    "keys — both shuffles bounded, output dozens of rows at any "
    "corpus size.",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from xenoeye_spark.session import get_spark

    spark = get_spark("xenoeye-plans")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical plans of every driver query\n",
        f"Generated by `scripts/plans.py` at `{sf_dir}`. Regenerate after "
        "operator changes; review for: `PushedFilters`/`ReadSchema` on "
        "scans, `BroadcastHashJoin` (not SortMergeJoin) for dimension "
        "joins, `partial_...` aggregate modes before exchanges, and no "
        "unexpected `Exchange` nodes.\n",
    ]
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n")
        if name in NOTES:
            out.append(f"*{NOTES[name]}*\n")
        out.append("```\n" + buf.getvalue().rstrip() + "\n```\n")

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
