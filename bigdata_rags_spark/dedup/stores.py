"""Persisted text-dedup store metadata (the IVFPQ ``_meta`` discipline for
the MinHash store, its one user: `dedup/minhash.py:build_minhash_store`).

A dedup store's signature table is only meaningful under the EXACT
parameters it was built with — a batch hashed with a different shingle
width or banding would join incompatibly against the stored index and
silently miss (or invent) duplicates.  So the frozen parameters
travel WITH the store in a tiny ``{prefix}_meta`` managed table of
(param, val) bigint pairs, and every ingest call reloads them from there —
never re-derives them from the corpus, never trusts caller literals
(`similarity/pq.py:_write_index_meta` is the same contract for ANN).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def write_store_meta(spark: SparkSession, table: str, params: dict[str, int]) -> None:
    """Persist the store's frozen parameters as a (param, val) table.

    The frame goes in through the ARROW path (pandas input), never a list
    of pickled rows: a pickled local relation coalesced to one task pays a
    ~7 s Python-worker round per action (measured r17 — the fixed cost
    that dominated every tiny metadata write), while the Arrow local
    relation is milliseconds."""
    import pandas as pd

    from bigdata_rags_spark.io.bucketing import drop_managed_table

    pdf = pd.DataFrame(
        sorted((k, int(v)) for k, v in params.items()), columns=["param", "val"]
    )
    df = spark.createDataFrame(pdf, "param string, val bigint")
    drop_managed_table(spark, table)
    df.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(table)


def read_store_meta(spark: SparkSession, table: str) -> dict[str, int]:
    """(param -> val) back from ``{prefix}_meta`` — a bounded driver action
    (a handful of rows)."""
    return {r["param"]: r["val"] for r in spark.table(table).collect()}
