"""Partition-local pre-top-k for the broadcast-sweep window family.

Every broadcast-sweep ANN plan in this repo ends the same way: score
|Q| x |corpus| candidate rows, then keep the per-query top ``keep`` via
``row_number().over(Window.partitionBy(query_id).orderBy(...))``.  The
round-12 probe (SCALE.md, binary-codes sweep) measured that the WINDOW
EXCHANGE — shuffling all Q x N scored rows into per-query groups —
dominates these plans, not the per-pair math: at 20k x 64 dims the 8-byte
Hamming sweep cost the same wall time as the 256-byte float sweep because
both feed the identical Q x N exchange.

``local_topk_prefilter`` cuts that exchange by ~N/keep: BEFORE the global
window, each physical partition keeps only its own per-query top ``keep``
rows.  Correctness is a superset argument — any row in the GLOBAL top
``keep`` for query q ranks <= keep among the subset of q's rows that share
its partition, so the prefilter can never drop a global winner and the
final window output (values, ties, hashes) is identical under ANY input
partitioning.

Why ``mapInPandas`` and not a ``Window.partitionBy(query_id,
spark_partition_id())``: a window ALWAYS plans an Exchange on its
partition keys, so the "local" window would itself shuffle all Q x N rows
— the exact cost being removed.  ``mapInPandas`` runs strictly inside the
existing partition (zero exchange); the Arrow hop moves only the 3 narrow
scalar columns (ids + score), and the fold below keeps Python memory
bounded at |keys-in-partition| x keep + one Arrow batch regardless of
partition size — the 100-TB-safe shape (a 1M-row scored partition never
materializes in pandas at once).

The Hamming/cosine scoring expressions stay JVM-side in the same stage;
only the already-scored narrow rows cross into Arrow.  Extension beyond
the reference (no ANN surface in bigdata-rags — SURVEY.md §2 ext tier).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame


def local_topk_prefilter(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[tuple[str, bool]],
    keep: int,
    n_rows: int | None = None,
) -> DataFrame:
    """Keep <= ``keep`` rows per ``keys`` group WITHIN each physical
    partition, under the total order ``order`` ([(col, ascending), ...]).

    Contract: ``order`` must be a TOTAL order (score + unique-id tiebreak,
    the repo-wide window convention) and must match the downstream global
    window's ordering exactly; then the output is a superset of the global
    per-key top ``keep`` and the downstream window result is bit-identical
    under any partitioning.  Schema is unchanged — select the narrow
    columns (ids + score) BEFORE calling so the Arrow hop stays thin.

    ``order`` columns must be NON-NULL and NON-NaN: pandas'
    ``sort_values`` places NaN/None LAST regardless of direction, while
    Spark orders NULL first under asc and treats NaN as the largest
    double — a NaN/null row the global window would keep could be pruned
    here, silently breaking the superset argument.  Every repo call site
    feeds integer Hamming distances or rounded finite cosines; the fold
    raises loudly on a violation rather than corrupt the top-k.

    Applicability (the keep x P < N rule, SCALE.md r13): the prune only
    pays off when ``keep`` x the number of physical partitions is well
    under the row count — the output is bounded by |keys-in-partition| x
    keep per partition, so when keep x P >= N the Arrow hop cannot shrink
    the downstream exchange and is pure overhead.  Callers that already
    know the row count can pass ``n_rows``: when
    ``keep * num_partitions >= n_rows`` the prune is SKIPPED and ``df``
    returns unchanged (visible in the plan as the missing MapInPandas
    stage).  Without ``n_rows`` the prune always applies — counting here
    would cost the job the prune exists to avoid.
    """
    import pandas as pd

    if n_rows is not None and keep * max(1, df.rdd.getNumPartitions()) >= n_rows:
        return df

    schema = df.schema
    key_cols = list(keys)
    order_cols = [c for c, _ in order]
    ascending = [a for _, a in order]

    def prune(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Incremental fold: top-k(union) == top-k(top-k(acc) + batch), so
        # state never exceeds |keys| x keep rows plus one incoming batch.
        best: pd.DataFrame | None = None
        for pdf in batches:
            if pdf[order_cols].isna().values.any():
                raise ValueError(
                    "local_topk_prefilter: NULL/NaN in order columns "
                    f"{order_cols} — pandas na_position diverges from "
                    "Spark window NULL/NaN ordering; the caller must "
                    "feed non-null, non-NaN scores (see docstring)"
                )
            cur = pdf if best is None else pd.concat((best, pdf), ignore_index=True)
            cur = cur.sort_values(order_cols, ascending=ascending, kind="mergesort")
            best = cur.groupby(key_cols, sort=False).head(keep)
        if best is not None and len(best):
            yield best

    return df.mapInPandas(prune, schema)
