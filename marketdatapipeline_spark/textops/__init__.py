"""Training-data pipeline operators over document tables.

Deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard), text
analysis (language ID, quality scoring, token counting,
fingerprinting). Every operator is built from JVM-side expressions —
no Python UDFs — and is designed shuffle-light for 100 TB corpora:
candidate generation via bucket joins (LSH bands), never all-pairs.
"""

from marketdatapipeline_spark.textops.analysis import (
    add_char_stats,
    add_readability,
    add_web_noise_signals,
    char_entropy,
    add_fingerprints,
    add_language_id,
    add_quality_signals,
    add_token_count,
)
from marketdatapipeline_spark.textops.corpus import (
    BPE_TOKEN_PATTERN,
    PII_PATTERNS,
    add_repetition_signals,
    add_token_estimate,
    assign_splits,
    redact_pii,
    bm25_scores,
    chunk_documents,
    decontaminate,
    deduplicate_near,
    duplicate_clusters,
    hash_sample,
    pack_shards,
    top_bigram_stats,
)
from marketdatapipeline_spark.textops.export import (
    export_training_shards,
    read_training_shards,
)
from marketdatapipeline_spark.textops.graph import (
    adamic_adar,
    pagerank,
    triangle_stats,
    weighted_pagerank,
)
from marketdatapipeline_spark.textops.incremental import (
    LSHDedupStore,
    build_lsh_store,
)
from marketdatapipeline_spark.textops.bpe import (
    bpe_encode_token_counts,
    bpe_learn_merges,
    bpe_pair_counts,
    bpe_word_freqs,
)
from marketdatapipeline_spark.textops.span_store import (
    SpanDedupStore,
    build_span_store,
)
from marketdatapipeline_spark.textops.packing_store import (
    IncrementalPackingStore,
    build_packing_store,
)
from marketdatapipeline_spark.textops.dedup import (
    deduplicate_exact,
    duplicate_span_stats,
    exact_duplicate_groups,
    embedding_near_duplicates,
    jaccard_pairs_with_lsh_flag,
    containment_similar_pairs,
    jaccard_similar_pairs,
    lsh_band_keys,
    lsh_candidate_pairs,
    minhash_estimate_quality,
    minhash_near_duplicates,
    minhash_signature,
    remove_duplicate_spans,
    shingle_hashes,
    simhash,
    word_shingles,
)

__all__ = [
    "BPE_TOKEN_PATTERN",
    "IncrementalPackingStore",
    "LSHDedupStore",
    "PII_PATTERNS",
    "SpanDedupStore",
    "build_lsh_store",
    "build_packing_store",
    "build_span_store",
    "redact_pii",
    "add_repetition_signals",
    "add_token_estimate",
    "add_char_stats",
    "add_readability",
    "char_entropy",
    "add_web_noise_signals",
    "assign_splits",
    "bm25_scores",
    "chunk_documents",
    "decontaminate",
    "deduplicate_near",
    "duplicate_clusters",
    "hash_sample",
    "pack_shards",
    "top_bigram_stats",
    "add_fingerprints",
    "add_language_id",
    "add_quality_signals",
    "add_token_count",
    "bpe_encode_token_counts",
    "bpe_learn_merges",
    "bpe_pair_counts",
    "bpe_word_freqs",
    "deduplicate_exact",
    "duplicate_span_stats",
    "exact_duplicate_groups",
    "remove_duplicate_spans",
    "embedding_near_duplicates",
    "jaccard_pairs_with_lsh_flag",
    "containment_similar_pairs",
    "jaccard_similar_pairs",
    "lsh_band_keys",
    "lsh_candidate_pairs",
    "export_training_shards",
    "read_training_shards",
    "minhash_estimate_quality",
    "minhash_near_duplicates",
    "minhash_signature",
    "shingle_hashes",
    "simhash",
    "word_shingles",
    "adamic_adar",
    "pagerank",
    "triangle_stats",
    "weighted_pagerank",
]
