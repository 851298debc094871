"""Maximal Marginal Relevance (MMR) diversified re-ranking.

Carbonell & Goldstein (SIGIR 1998): greedily build the result list by
picking, at each step, the candidate maximizing

    lambda * relevance - (1 - lambda) * max_{s in selected} sim(c, s)

— the standard RAG-serving answer to "my top-k is five paraphrases of the
same passage".  The retrieval tier already has four rankers (BM25 / QL /
hybrid / RRF) that score documents INDEPENDENTLY; MMR is the dependent
re-ranking pass on top of any of them.

Exactness contract (the `embedding_diversity_fps` discipline): relevance
arrives as integer milli-units (the caller normalizes its ranker score —
e.g. ``round(bm25 * 1000 / max_bm25)``), pairwise similarity is the
integer milli cosine ``round(cos * 1000)`` in the shared fold order, and
the greedy objective is pure bigint arithmetic — every argmax (ties on
doc_id) is engine-deterministic, so a SQL oracle replays the whole greedy
as chained 1-row CTEs.

Scale shape: MMR is only ever run on a BOUNDED shortlist (the ranker's
top-m; m ~ 10-100) — the corpus-sized work (BM25 scan, ANN probe) happens
upstream.  The pool and its m^2 pair-similarity table are materialized
once (localCheckpoint — both feed every greedy round, the multi-branch
rule); each of the k-1 rounds is one tiny job ending in a 1-row argmax
collect, the same k-bounded driver-action contract as FPS/IVF.

Extension beyond the reference (no retrieval surface in bigdata-rags —
SURVEY.md §2 extension tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.vectors import dot, norm


def mmr_rerank(
    pool: DataFrame,
    k: int = 5,
    lambda_milli: int = 700,
    id_col: str = "doc_id",
    rel_col: str = "rel_milli",
    vec_col: str = "v",
) -> DataFrame:
    """Greedy MMR over a bounded candidate pool.

    ``pool``: (id, rel_milli bigint, v array<double>) — the ranker's top-m
    shortlist with milli-normalized relevance and the document vector used
    for diversity.  Returns (step int, doc_id, rel_milli, max_sim_milli,
    mmr_milli) — step 1 is the pure-relevance seed (NULL sim/score, the
    FPS seed convention); step t's row carries the candidate's max
    similarity to the already-selected set and the bigint objective
    ``lambda_milli * rel_milli - (1000 - lambda_milli) * max_sim_milli``.
    The output ``doc_id`` keeps the pool's id type (string/UUID keys work
    — ids only need to be orderable for the tie rule).
    """
    spark = pool.sparkSession
    base = pool.select(
        F.col(id_col).alias("doc_id"),
        F.col(rel_col).cast("bigint").alias("rel_milli"),
        F.col(vec_col).alias("v"),
    ).localCheckpoint()
    a = base.select(F.col("doc_id").alias("ia"), F.col("v").alias("va"))
    b = base.select(F.col("doc_id").alias("ib"), F.col("v").alias("vb"))
    # m^2 pair table, computed once and reused by every greedy round.  The
    # pool is bounded (ranker top-m), so the cross join is m^2 tiny rows.
    pairs = (
        a.crossJoin(b)
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.round(
                (dot(F.col("va"), F.col("vb")) / norm(F.col("va")) / norm(F.col("vb")))
                * 1000
            )
            .cast("bigint")
            .alias("sim_milli"),
        )
        .localCheckpoint()
    )
    seed_rows = base.orderBy(F.col("rel_milli").desc(), "doc_id").limit(1).collect()
    picks: list[tuple] = []
    selected: list[int] = []
    if seed_rows:
        seed = seed_rows[0]
        picks.append((1, seed["doc_id"], seed["rel_milli"], None, None))
        selected.append(seed["doc_id"])
    step = 2
    while selected and step <= k:
        ms = (
            pairs.filter(F.col("ib").isin(selected))
            .groupBy("ia")
            .agg(F.max("sim_milli").alias("max_sim_milli"))
        )
        top_rows = (
            base.filter(~F.col("doc_id").isin(selected))
            .join(ms, F.col("doc_id") == F.col("ia"))
            .withColumn(
                "mmr_milli",
                F.lit(lambda_milli).cast("bigint") * F.col("rel_milli")
                - F.lit(1000 - lambda_milli).cast("bigint") * F.col("max_sim_milli"),
            )
            .orderBy(F.col("mmr_milli").desc(), "doc_id")
            .limit(1)
            .collect()
        )
        if not top_rows:
            break
        t = top_rows[0]
        picks.append((step, t["doc_id"], t["rel_milli"], t["max_sim_milli"], t["mmr_milli"]))
        selected.append(t["doc_id"])
        step += 1
    # derive the id field's type from the pool so string/UUID keys round-trip
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    id_type = base.schema["doc_id"].dataType
    return spark.createDataFrame(
        picks,
        StructType(
            [
                StructField("step", IntegerType()),
                StructField("doc_id", id_type),
                StructField("rel_milli", LongType()),
                StructField("max_sim_milli", LongType()),
                StructField("mmr_milli", LongType()),
            ]
        ),
    )
