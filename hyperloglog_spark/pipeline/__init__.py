"""Training-data pipeline operators over document/embedding tables.

Deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine, connected-component clusters with keep-representative),
similarity search (brute-force, blocked, LSH, IVF and PQ cosine top-k
sharing one local-cut + SQL top-k tail),
text analysis (language
ID, quality scoring, token stats, fingerprinting), and multimodal column
plumbing. All Spark-first: string/shingle hashing runs JVM-side inside
whole-stage codegen; only fixed-width hash arrays cross the Arrow boundary;
Python touches batches, never rows.
"""

from .dedup import (
    exact_dedup,
    hamming_blocked_pairs,
    jaccard_verified_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    near_dup_clusters,
    near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    simhash_signatures,
)
from .similarity import (
    blocked_topk,
    brute_force_topk,
    embedding_neardup_pairs,
    fit_ivf_centroids,
    fit_pq_codebooks,
    ivf_pq_topk,
    ivf_topk,
    lsh_topk,
    pq_encode,
    pq_topk,
    pq_topk_from_codes,
)
from .sampling import (
    deterministic_sample,
    kmv_distinct,
    priority_sample,
    stratified_sample,
)
from .decontam import ngram_contamination
from .temporal import asof_join
from .curate import curate_documents
from .text import (doc_fingerprints, lang_id, quality_score,
                   repetition_stats, token_stats)

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "jaccard_verified_pairs",
    "near_dup_pairs",
    "ngram_jaccard_pairs",
    "near_dup_clusters",
    "hamming_blocked_pairs",
    "simhash_signatures",
    "simhash_near_dup_pairs",
    "brute_force_topk",
    "blocked_topk",
    "lsh_topk",
    "ivf_topk",
    "fit_pq_codebooks",
    "ivf_pq_topk",
    "pq_encode",
    "pq_topk",
    "pq_topk_from_codes",
    "fit_ivf_centroids",
    "embedding_neardup_pairs",
    "curate_documents",
    "doc_fingerprints",
    "repetition_stats",
    "lang_id",
    "quality_score",
    "token_stats",
    "deterministic_sample",
    "kmv_distinct",
    "priority_sample",
    "stratified_sample",
    "asof_join",
    "ngram_contamination",
]
