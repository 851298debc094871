"""Similarity search over embedding columns."""

from bigdata_rags_spark.similarity.bitext import margin_mining
from bigdata_rags_spark.similarity.knn import (
    brute_force_topk,
    cosine_pairs_above,
    cosine_pairs_above_blocked,
)

__all__ = [
    "brute_force_topk",
    "cosine_pairs_above",
    "cosine_pairs_above_blocked",
    "margin_mining",
]
