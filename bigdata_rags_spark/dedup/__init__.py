"""Deduplication operators.  Text near-dup has one path: exact content
hashes, then MinHash+LSH candidates verified by n-gram Jaccard, then
connected components (``dedup/clusters.py``); the incremental keepers run
the same rules against a stored corpus.  Embedding near-dup goes through
``dedup/semantic.py``."""

from bigdata_rags_spark.dedup.exact import (
    dup_clusters,
    exact_dedup,
    incremental_new_keepers,
    with_content_hash,
)
from bigdata_rags_spark.dedup.minhash import (
    incremental_minhash_keepers,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from bigdata_rags_spark.dedup.semantic import incremental_semantic_keepers

__all__ = [
    "dup_clusters",
    "exact_dedup",
    "incremental_new_keepers",
    "with_content_hash",
    "incremental_minhash_keepers",
    "incremental_semantic_keepers",
    "lsh_candidate_pairs",
    "minhash_signatures",
    "ngram_jaccard_pairs",
]
