from .asof import asof_join
from .ann import (
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_assign,
    ivf_centroid_array,
    ivf_topk,
    ivf_train_centroids,
    lsh_config_for,
    lsh_bucketed_topk,
)
from .components import component_stats, dup_components
from .dedup_cdc import event_order, latest_per_key
from .range_join import range_join
from .sample import deterministic_sample, hash_bucket, pack_sequences, split_by_hash
from .dedup_text import (
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)

__all__ = [
    "asof_join",
    "range_join",
    "deterministic_sample", "hash_bucket", "pack_sequences", "split_by_hash",
    "component_stats", "dup_components",
    "cosine_topk", "embedding_near_dup_pairs", "lsh_bucketed_topk", "lsh_config_for",
    "ivf_assign", "ivf_centroid_array", "ivf_topk", "ivf_train_centroids",
    "event_order", "latest_per_key",
    "exact_dup_groups", "ngram_jaccard_pairs", "minhash_lsh_pairs",
    "simhash", "simhash_pairs",
]
