"""Vector math over array columns — pure Column expressions, no UDFs.

``F.zip_with`` + ``F.aggregate`` evaluate inside whole-stage codegen with a
sequential left-to-right accumulation, which matches DuckDB's
``list_dot_product`` on ``DOUBLE[]`` element order exactly — so cosine values
agree bit-for-bit between engine and oracle after the float32 -> float64
upcast (exact) on both sides.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(v: Column) -> Column:
    """Exact float->double upcast; all arithmetic then happens in float64
    (mirrors ``embedding::DOUBLE[]`` in the oracle)."""
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """dot/sqrt(na)/sqrt(nb) — the exact op order the oracle SQL uses
    (two divisions, not a product of norms) so results are bit-identical."""
    return dot(a, b) / norm(a) / norm(b)


def _deterministic_hyperplanes(dim: int, n_planes: int, seed: str = "lsh") -> list[list[float]]:
    """Pseudo-random unit-free hyperplanes from md5 bytes — reproducible
    across runs/processes without RNG state.  Values in [-0.5, 0.5).  The
    one literal family behind the LSH planes, the fixed IVF codebook and
    the fixed PQ codebooks."""
    planes: list[list[float]] = []
    for p in range(n_planes):
        vals: list[float] = []
        i = 0
        while len(vals) < dim:
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).digest()
            vals.extend(b / 256.0 - 0.5 for b in h)
            i += 1
        planes.append(vals[:dim])
    return planes
