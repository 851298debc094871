"""IVF (inverted-file) coarse quantizer of the IVFPQ index
(``similarity/pq.py``): a small codebook of ``n_cells`` centroids, fixed
md5 literals or spherical k-means, assigns every corpus vector to its
nearest centroid (the "inverted list"); a serve then scores only the
``n_probe`` most promising cells.  Public design: Sivic & Zisserman 2003
(inverted files), Jégou et al. 2011 (IVF in FAISS); Spark-first rebuild, not
a FAISS port.

Determinism: no RNG anywhere.  Init picks the ``n_cells`` corpus vectors
with the smallest md5(id) (a deterministic hash-spread sample), and Lloyd's
iterations are plain DataFrame aggregations, so the codebook is a pure
function of (corpus, seed, n_cells, n_iter) — replayable across runs.

100 TB design:
- Training: each Lloyd's round is one codegen'd assignment pass (literal
  centroid matrix, argmax via array_max over struct — no join, no shuffle of
  vectors) + one posexplode->groupBy((cell, dim)) mean with map-side partial
  aggregation; only n_cells x dim doubles (KBs) ever reach the driver per
  round.  Train on a ``hash_sample`` of the corpus when N is huge — the
  codebook needs a sample, not the population.
- Assignment: one codegen'd projection up to 32 centroids, an Arrow numpy
  pass with the same left fold past that (``assign_cells``/``attach_cells``);
  serve-time probes use the same kernels on the driver (``_cell_sims``,
  ``_best_cells``).
"""

from __future__ import annotations

from math import sqrt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.vectors import (
    _deterministic_hyperplanes,
    as_double_array,
)


def _nearest_cells(vec: Column, centroids: list[list[float]], n: int) -> Column:
    """Array of the ``n`` best cell ids for ``vec``, best first.

    Builds array<struct<sim,cell>> from a literal centroid matrix and sorts
    descending — struct comparison orders by sim then cell, so ties break
    deterministically (higher cell id wins, same in every engine/run)."""
    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(vec, F.array(*[F.lit(x) for x in c]), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("sim"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.slice(F.sort_array(scored, asc=False), 1, n).getField("cell")


def _vector_matrix(values):
    """(n, dim) float64 matrix from a pandas column of array values."""
    import numpy as np

    return np.array([np.asarray(v, dtype=np.float64) for v in values], dtype=np.float64)


def _cell_sims(vecs, centroids: list[list[float]]):
    """(n, n_cells) dot products, each an EXPLICIT left fold of float64
    elementwise ops from 0.0 (``s = s + x_i * c_i``) — bit-identical per
    element to ``_nearest_cells``' SQL ``aggregate`` (the Janino-wall
    rule, CLAUDE.md).  The one numpy kernel behind every Arrow assignment
    pass and the driver-side serving probes."""
    import numpy as np

    n = len(vecs)
    sims = np.empty((n, len(centroids)), dtype=np.float64)
    for ci, c in enumerate(centroids):
        s = np.zeros(n, dtype=np.float64)
        for i, x in enumerate(c):
            s = s + vecs[:, i] * x
        sims[:, ci] = s
    return sims


def _best_cells(sims, n: int):
    """(rows, min(n, n_cells)) int32 cell ids best first — the descending
    (sim, cell) order of ``_nearest_cells``: ties break to the HIGHER cell
    (a stable sort over the column-reversed scores)."""
    import numpy as np

    k = sims.shape[1]
    order = np.argsort(-sims[:, ::-1], axis=1, kind="stable")[:, :n]
    return ((k - 1) - order).astype(np.int32)


def fixed_centroids(dim: int = 64, n_cells: int = 16, seed: str = "ivfc") -> list[list[float]]:
    """A deterministic LITERAL codebook (md5-derived, exact multiples of
    1/256 — the same repr-stable construction as the LSH hyperplanes), for
    the oracle-checkable probe path: k-means TRAINING is iterative and stays
    rows-only, but cell assignment + probing against a fixed codebook is
    pure relational algebra a SQL oracle can replay exactly.  In production
    the trained codebook gets pinned as literals the same way — train once,
    serve many."""
    return _deterministic_hyperplanes(dim, n_cells, seed=seed)


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_iter: int = 5,
    seed: str = "ivf",
) -> list[list[float]]:
    """Deterministic spherical k-means codebook (unit-norm centroids)."""
    unit = (
        corpus.select(F.col(id_col).alias("_id"), as_double_array(F.col(vec_col)).alias("v"))
        .withColumn("_n", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, y: a + y * y)))
        .withColumn("v", F.transform("v", lambda x: x / F.col("_n")))
        .drop("_n")
    )
    init = (
        unit.withColumn("h", F.md5(F.concat(F.lit(f"{seed}:"), F.col("_id").cast("string"))))
        .orderBy("h")
        .limit(n_cells)
        .select("v")
        .collect()
    )
    centroids = [list(r["v"]) for r in init]
    for _ in range(n_iter):
        assigned = unit.withColumn("cell", _nearest_cells(F.col("v"), centroids, 1)[0])
        sums = (
            assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in sums:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["s"]
        new = []
        for i, old in enumerate(centroids):
            dims = by_cell.get(i)
            if not dims:  # empty cell: keep the old centroid (stable codebook)
                new.append(old)
                continue
            raw = [dims[p] for p in range(len(old))]
            n = sqrt(sum(x * x for x in raw)) or 1.0
            new.append([x / n for x in raw])
        centroids = new
    return centroids


def auto_n_cells(
    n_rows: int,
    target_occupancy: int = 128,
    floor: int = 16,
    cap: int = 256,
) -> int:
    """Self-scaling coarse-quantizer width (the ``auto_n_planes`` rule for
    cells): n_cells = 2^ceil(log2(N / occupancy)) clamped to [floor, cap].

    Any FIXED cell count makes within-cell work quadratic in occupancy
    (pairs ~ sum |cell|^2 = N^2 / n_cells for balanced cells) — the same
    saturation failure the round-7 probe measured for fixed LSH planes.
    Pinning expected occupancy keeps in-cell pair volume at
    O(N * occupancy).  target_occupancy=128 resolves to the historical 16
    cells on the driver fixtures (N=500 -> 16, N=2000 -> 16, so every
    16-cell oracle is unchanged) and to 256 at the 10x probe corpus
    (N=20000).  Powers of two keep the md5 centroid family prefix-stable
    in spirit (each width is its own deterministic literal set)."""
    from math import ceil, log2

    if n_rows <= 0:
        return floor
    need = 2 ** ceil(log2(max(1.0, n_rows / target_occupancy)))
    return max(floor, min(cap, need))


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell): nearest-centroid assignment that picks its execution
    strategy by codebook width.  Up to 32 centroids the codegen'd
    ``_nearest_cells`` expression wins (and is what the 16-cell oracles
    replay); past that the literal-matrix projection approaches the
    Janino wide-projection wall (the PQ lesson, CLAUDE.md), so assignment
    switches to an Arrow numpy pass with the SAME explicit left-fold
    float64 accumulation and tie-to-higher-cell rule — bit-identical
    scores, engine-exact either way."""
    if len(centroids) <= 32:
        return df.select(
            F.col(id_col).alias("id"),
            _nearest_cells(as_double_array(F.col(vec_col)), centroids, 1)[0].alias("cell"),
        )

    import pandas as pd

    cents = [list(c) for c in centroids]

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = _cell_sims(_vector_matrix(pdf["v"]), cents)
            cells = _best_cells(sims, 1)[:, 0]
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "cell": cells})

    prepped = df.select(
        F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v")
    )
    return prepped.mapInPandas(assign, schema="id long, cell int")


def attach_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """``df`` with a ``cell`` column appended — ``assign_cells`` WITHOUT the
    id join back (r16, guide §2.4): every pre-r16 consumer that needed the
    assignment next to other columns ran ``df.join(assign_cells(df), id)``,
    a shuffle join between two frames derived from the SAME scan.  Cell
    values are bit-identical to ``assign_cells``:

    - <= 32 centroids: the same codegen'd ``_nearest_cells`` expression,
      now a plain projection on ``df`` (zero exchanges);
    - wider codebooks: an Arrow pass with the same explicit left-fold
      float64 accumulation and tie-to-higher-cell rule, passing every
      input column through (zero exchanges; the Janino-wall rule).
    """
    if len(centroids) <= 32:
        return df.withColumn(
            "cell",
            _nearest_cells(as_double_array(F.col(vec_col)), centroids, 1)[0],
        )

    cents = [list(c) for c in centroids]
    in_cols = list(df.columns)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = _cell_sims(_vector_matrix(pdf["__acv"]), cents)
            out = pdf[in_cols].copy()
            out["cell"] = _best_cells(sims, 1)[:, 0]
            yield out

    # build a FRESH StructType: StructType.add mutates in place, and
    # DataFrame.schema is cached on the caller's frame — mutating it would
    # make the ORIGINAL df falsely report a cell column
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(df.schema.fields + [StructField("cell", IntegerType())])
    prepped = df.withColumn("__acv", as_double_array(F.col(vec_col)))
    return prepped.mapInPandas(assign, schema=schema)
