from .text import (
    token_count,
    bpe_ish_token_count,
    text_quality_features,
    language_id,
    fingerprint,
    word_shingles,
    rolling_hash_shingles,
)
from .dedup_text import (
    auto_simhash_blocks,
    exact_text_dedup,
    minhash_signatures,
    minhash_lsh_candidates,
    simhash64,
    simhash_block_layout,
    simhash_near_dups,
    ngram_jaccard_pairs,
    ngram_jaccard_exact_pairs,
)
from .graph import connected_components, near_dup_clusters
from .similarity import (
    auto_ivf_cells,
    auto_lsh_bits,
    cosine_topk_bruteforce,
    embedding_near_dup_pairs,
    ivf_assign_cells,
    ivf_topk,
    lsh_bucketed_topk,
    lsh_signature,
)
from .multimodal import (
    extract_media_features,
    resize_media,
    sample_frames,
    synth_media,
)

__all__ = [
    "token_count", "bpe_ish_token_count", "text_quality_features",
    "language_id", "fingerprint", "word_shingles", "rolling_hash_shingles",
    "exact_text_dedup", "minhash_signatures",
    "minhash_lsh_candidates", "simhash64", "simhash_near_dups",
    "simhash_block_layout", "auto_simhash_blocks",
    "ngram_jaccard_pairs", "ngram_jaccard_exact_pairs",
    "connected_components", "near_dup_clusters",
    "cosine_topk_bruteforce",
    "embedding_near_dup_pairs", "auto_lsh_bits", "auto_ivf_cells",
    "ivf_assign_cells", "ivf_topk", "lsh_bucketed_topk", "lsh_signature",
    "extract_media_features", "resize_media", "sample_frames", "synth_media",
]
