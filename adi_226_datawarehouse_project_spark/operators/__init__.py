from .cdc import apply_cdc, latest_changes
from .dedup import (
    dedup_exact,
    minhash_near_dup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_pairs,
)
from .dsir import dsir_select, importance_weights
from .similarity import (
    cosine,
    cosine_self_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_bucket_topk,
    semantic_dedup,
)
from .upsert import incremental_upsert
from .urls import blocklist_filter, normalize_url, url_dedup

__all__ = [
    "apply_cdc",
    "blocklist_filter",
    "cosine",
    "cosine_self_topk",
    "dedup_exact",
    "dsir_select",
    "embedding_near_dup_pairs",
    "importance_weights",
    "incremental_upsert",
    "ivf_topk",
    "latest_changes",
    "lsh_bucket_topk",
    "minhash_near_dup_pairs",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "normalize_url",
    "semantic_dedup",
    "simhash",
    "simhash_near_dup_pairs",
    "url_dedup",
]
