"""Large-scale training-data pipeline operators (beyond-reference surface).

- dedup       : exact, MinHash+LSH, SimHash, n-gram Jaccard
- text        : language-ID, quality scoring, token counting, fingerprinting
- similarity  : brute-force cosine top-k + LSH-bucketed ANN
- multimodal  : binary media columns with typed metadata (decode stubbed)
"""

from xenoeye_spark.datapipe.dedup import (
    exact_dedup,
    ngram_jaccard_pairs,
    minhash_signatures,
    lsh_candidate_pairs,
)
from xenoeye_spark.datapipe.text import text_stats, language_id, simhash60
from xenoeye_spark.datapipe.similarity import brute_force_topk

__all__ = [
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "text_stats",
    "language_id",
    "simhash60",
    "brute_force_topk",
]
