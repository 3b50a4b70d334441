"""Training-data pipeline extensions beyond reference parity: text
analysis, deduplication, similarity search, multimodal plumbing.
All hot paths are built-in Column expressions (codegen'd); Python appears
only in Arrow-batched passes: the sequence packers (mapInPandas and
mapInArrow), multimodal feature extraction (mapInPandas) and the BLAS
similarity join (applyInPandas)."""

from qsvspark.functions.text import (
    add_fingerprint,
    add_lang_id,
    add_line_dup_signals,
    add_quality,
    add_repetition_signals,
    add_token_counts,
    contamination,
    scrub_pii,
    vocab_topk,
    word_ngrams,
)
from qsvspark.functions.packing import (
    materialize_chunked_sequences,
    materialize_greedy_sequences,
    pack_chunked,
    pack_greedy,
    pack_greedy_sequences,
    pack_stats,
    sequence_layout,
)
from qsvspark.functions.dedup import (
    connected_components,
    dedup_exact,
    embedding_near_dups,
    embedding_near_dups_lsh,
    keep_representatives,
    minhash_lsh_pairs,
    ngram_jaccard,
    shared_span_pairs,
    simhash,
)
from qsvspark.functions.similarity import (
    AnnIndex,
    IvfIndex,
    brute_force_topk,
    ivf_topk,
    lsh_ann_topk,
    semantic_dedup,
    train_ivf_centroids,
)

__all__ = [
    "add_token_counts", "add_quality", "add_lang_id", "add_fingerprint",
    "dedup_exact", "minhash_lsh_pairs", "simhash", "ngram_jaccard",
    "embedding_near_dups", "embedding_near_dups_lsh",
    "brute_force_topk", "lsh_ann_topk", "AnnIndex",
    "ivf_topk", "train_ivf_centroids", "IvfIndex",
    "add_repetition_signals", "contamination", "scrub_pii", "word_ngrams",
    "add_line_dup_signals", "vocab_topk", "shared_span_pairs", "semantic_dedup",
    "connected_components", "keep_representatives",
    "pack_chunked", "pack_greedy", "pack_greedy_sequences", "pack_stats",
    "sequence_layout",
    "materialize_chunked_sequences", "materialize_greedy_sequences",
]
