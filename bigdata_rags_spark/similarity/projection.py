"""Random-projection dimensionality reduction (Johnson–Lindenstrauss).

Projects ``array<float>`` embeddings onto ``out_dim`` fixed pseudo-random
directions — the cheap, data-oblivious alternative to PCA for shrinking
vectors before ANN indexing or clustering (public technique: Achlioptas
2003, database-friendly random projections).  The projection matrix is
md5-derived (``vectors._deterministic_hyperplanes``), so it is a pure function
of (seed, dims): identical across runs, engines, and cluster topologies —
which is what makes an exact DuckDB oracle possible (the same literal
matrix is embedded in the oracle SQL at import time).

100 TB: one codegen'd pass over the scan — each output dim is a zip_with/
aggregate dot product against a literal array; no shuffle, no UDFs, no
driver state.  Output is ``out_dim`` double columns (4x-16x narrower than
the input vector), ready to persist or feed the LSH pair join or the IVFPQ index build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.vectors import (
    _deterministic_hyperplanes,
    as_double_array,
)


def projection_planes(dim: int, out_dim: int, seed: str = "rproj") -> list[list[float]]:
    """The deterministic projection matrix (out_dim rows of length dim)."""
    return _deterministic_hyperplanes(dim, out_dim, seed=seed)


def project_embeddings(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix: str = "p",
) -> DataFrame:
    """vec_id + one ROUND(dot(v, plane_j), 6) column per projection dim."""
    v = as_double_array(F.col(vec_col))
    cols = [
        F.round(
            F.aggregate(
                F.zip_with(v, F.array(*[F.lit(x) for x in plane]), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias(f"{prefix}{j:02d}")
        for j, plane in enumerate(planes)
    ]
    return df.select(F.col(id_col), *cols)
