"""Retrieval-quality evaluation: integer-exact DCG/nDCG + recall@k over
ranked lists.

The retrieval twin of ``near_dup_candidate_eval``: the
audit you run when choosing a ranker family before trusting retrieval at
scale.  Gains use the RANK-RECIPROCAL discount ``rel * 1e6 div (rank+1)``
— the same discount shape as DCG's ``1/log2(rank+1)`` but exactly
representable in integer micro-units, so Spark and the SQL oracle agree
bit-for-bit (log2 of a general integer is irrational; a float discount
would re-open the ulp-drift class the catalog docstring bans).  All
divisions keep non-negative operands (Spark ``div`` truncates, DuckDB
``//`` floors — they agree only there; catalog.py INTEGER-DIVISION
hazard).

Scale shape: each input ranking is already a bounded top-k list (k rows
per ranker), so the whole evaluation joins k*|rankers| rows against the
relevance relation and reduces — the only corpus-sized work is building
``rel`` itself (one scan + one shuffle on doc_id), shared by all rankers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MICRO = 1_000_000


def ranking_quality(
    runs: DataFrame,
    rel: DataFrame,
    k: int = 10,
    rel_threshold: int = 2,
) -> DataFrame:
    """Per-ranker integer-micro ranking quality.

    Args:
      runs: (ranker string, doc_id, rnk int 1-based) — each ranker's top-k.
      rel:  (doc_id, rel bigint >= 0) — graded relevance for EVERY doc
            (missing docs would silently deflate DCG; build rel with a
            left join + coalesce(0)).
      k: list depth (precision denominator).
      rel_threshold: minimum grade that counts as "relevant" for
            recall/precision (graded gains always use the raw grade).

    Returns one row per ranker:
      (ranker, dcg_micro, ndcg_micro, rel_retrieved, n_relevant,
       recall_micro, precision_micro)

    ndcg_micro normalizes by the IDEAL top-k ordering (rel desc, doc_id
    asc — deterministic tiebreak), so a perfect ranking scores exactly
    1_000_000.  The ideal list is an ``orderBy().limit(k)`` →
    TakeOrderedAndProject: per-partition heaps, never a global sort of the
    relevance relation.
    """
    ideal = rel.orderBy(F.col("rel").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("rel").desc(), "doc_id")
    idcg = (
        ideal.withColumn("r", F.row_number().over(w))
        .agg(
            F.sum(F.expr(f"rel * {MICRO} div (r + 1)"))
            .cast("bigint")
            .alias("idcg")
        )
    )
    n_relevant = rel.filter(F.col("rel") >= rel_threshold).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_relevant")
    )
    per = (
        runs.join(rel, "doc_id")
        .groupBy("ranker")
        .agg(
            F.sum(F.expr(f"rel * {MICRO} div (rnk + 1)"))
            .cast("bigint")
            .alias("dcg_micro"),
            F.sum(
                F.when(F.col("rel") >= rel_threshold, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("rel_retrieved"),
        )
    )
    return (
        per.crossJoin(F.broadcast(idcg))
        .crossJoin(F.broadcast(n_relevant))
        .select(
            "ranker",
            "dcg_micro",
            F.expr(f"dcg_micro * {MICRO} div nullif(idcg, 0)")
            .cast("bigint")
            .alias("ndcg_micro"),
            "rel_retrieved",
            "n_relevant",
            F.expr(f"rel_retrieved * {MICRO} div nullif(n_relevant, 0)")
            .cast("bigint")
            .alias("recall_micro"),
            F.expr(f"rel_retrieved * {MICRO} div {k}")
            .cast("bigint")
            .alias("precision_micro"),
        )
    )
