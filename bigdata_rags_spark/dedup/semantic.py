"""Incremental SEMANTIC dedup: a new embedding batch against a stored,
cell-indexed corpus.

The embedding twin of ``dedup/exact.py:incremental_new_keepers`` (the
reference's snapshot-over-snapshot ingestion pattern, `dag-load.py` zone
gating recast — see COVERAGE.md §2.1): where the exact variant anti-joins
content hashes, this one compares a new batch's vectors ONLY against the
stored corpus members of the same coarse-quantizer cell (SemDeDup, Abbas
et al. 2023), plus a greedy-by-id intra-batch pass — the two drop paths
every recurring-ingest semantic pipeline needs.

Scale shape: the stored side is the already-built IVF index ((id, cell,
vec) bucketed by cell — `similarity/pq.py:build_ivfpq_index` layout), so
ingesting a batch touches only the cells the batch lands in: candidate
volume is O(|batch| * occupancy), never |batch| * |corpus|.  Cell width
is a property of the STORED index (chosen at build time via
``auto_n_cells``), not of the batch — re-deriving it per batch would
silently re-shard the serving index.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.vectors import as_double_array, dot, norm
from bigdata_rags_spark.similarity.ivf import attach_cells


def _cos6(a: Column, b: Column) -> Column:
    """Cosine rounded to 6 — the oracle-parity float rule (catalog.py)."""
    return F.round(dot(a, b) / norm(a) / norm(b), 6)


def incremental_semantic_keepers(
    batch: DataFrame,
    existing: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    intra_centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Rows of ``batch`` that survive semantic dedup against ``existing``
    and against lower-id batch members, with their assigned ``cell``.

    Drop rules (deterministic, non-cascading greedy — the
    ``semantic_dedup_cells`` survival contract):
      (a) a batch vector dies if ANY stored vector in its INDEX cell has
          rounded cosine >= threshold;
      (b) a batch vector dies if ANY lower-id batch vector in its cell has
          rounded cosine >= threshold (whether or not that neighbor itself
          survives rule (a) — greedy-by-id, not transitive closure).

    ``centroids`` is the stored index's quantizer and governs rule (a) —
    frozen at index build, it keys the batch into the SAME cells the stored
    band table uses.  Rule (b) is index-free (batch vs itself), so it may
    use ``intra_centroids`` sized for the BATCH: when an ingest batch is
    larger than the stored index (backfills, first loads), reusing the
    index's narrow width makes intra-batch pair volume quadratic in batch
    occupancy (measured r10: 18x wall at the 10x probe, where the fixture
    batch is ~4.5x the index).  Defaults to ``centroids`` when not given.

    All joins are cell-keyed equi-joins; the drop sets ship bare ids and
    survival is two anti-joins (the `incremental_new_keepers` shape).
    """

    def prep(df: DataFrame, cents: list[list[float]]) -> DataFrame:
        # attach_cells, not df ⋈ assign_cells(df): the assignment derives
        # from the same scan, so the pre-r16 id join was a removable
        # shuffle (guide §2.4); cell values are bit-identical
        return attach_cells(
            df.select(id_col, as_double_array(F.col(vec_col)).alias("__v")),
            cents,
            vec_col="__v",
        )

    # b feeds drop_ex, keep, and (when intra_centroids is None) both sides
    # of drop_intra via bi — a derived attach_cells subtree (an Arrow pass
    # at >32 centroids) read from up to 4 plan branches, so materialize it
    # (the CLAUDE.md multi-branch rule `incremental_minhash_keepers` applies
    # too).  ex is read once: leave lazy.
    b = prep(batch, centroids).localCheckpoint()
    ex = prep(existing, centroids).select("cell", F.col("__v").alias("__vex"))
    drop_ex = (
        b.join(ex, "cell")
        .filter(_cos6(F.col("__v"), F.col("__vex")) >= threshold)
        .select(id_col)
        .distinct()
    )
    bi = (
        b
        if intra_centroids is None
        # a distinct intra-batch quantizer makes bi its own derived subtree
        # feeding BOTH sides of drop_intra — materialize it too (ADVICE r16)
        else prep(batch, intra_centroids).localCheckpoint()
    )
    lo = bi.select(
        "cell", F.col(id_col).alias("__lo_id"), F.col("__v").alias("__vlo")
    )
    drop_intra = (
        bi.join(lo, "cell")
        .filter(F.col("__lo_id") < F.col(id_col))
        .filter(_cos6(F.col("__v"), F.col("__vlo")) >= threshold)
        .select(id_col)
        .distinct()
    )
    keep = (
        b.select(id_col, "cell")
        .join(drop_ex, id_col, "left_anti")
        .join(drop_intra, id_col, "left_anti")
    )
    return batch.join(keep, id_col)
