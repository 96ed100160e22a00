"""Training-data pipeline functions: text analysis, dedup families, embedding
similarity search, multimodal plumbing."""

from .dedup import (
    dedup_exact,
    exact_duplicates,
    minhash_candidate_pairs,
    minhash_lsh_buckets,
    ngram_jaccard_pairs,
    simhash_hamming_pairs,
)
from .similarity import (
    cosine_topk,
    embedding_near_dups,
    ivf_topk,
    srp_topk,
    train_ivf_centroids,
)
from .text import (
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
    tokens,
    word_ngrams,
)

__all__ = [
    "cosine_topk",
    "dedup_exact",
    "doc_fingerprint",
    "embedding_near_dups",
    "exact_duplicates",
    "ivf_topk",
    "lang_id",
    "minhash_candidate_pairs",
    "minhash_lsh_buckets",
    "ngram_jaccard_pairs",
    "quality_score",
    "simhash_hamming_pairs",
    "srp_topk",
    "token_count",
    "tokens",
    "train_ivf_centroids",
    "word_ngrams",
]
