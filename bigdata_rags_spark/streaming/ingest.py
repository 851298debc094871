"""Streaming ingest INTO the persisted similarity indexes.

Why it exists: the index lifecycle (`similarity/pq.py`
build/serve/append/delete/compact) and the streaming zone sink
(`streaming/events.py:stream_to_zone`) both existed, but nothing wired a
STREAM into an index — "the index kept fresh by a stream" had all parts
and no joint.  This module is the joint: a ``foreachBatch`` sink whose
batch function is the EXISTING batch append operator, so stream ingest
and batch ingest are the same code path and serve value-identically
(pinned by the stream==batch equivalence test in tests/test_streaming.py).

Exactly-once contract: a micro-batch can be REPLAYED after a crash
(foreachBatch is at-least-once; only the checkpoint commit is
transactional), and a bucketed-table append is not idempotent by itself.
Each batch is therefore an UPSERT under the index's log-structured rule
(`similarity/pq.py:_with_liveness` — a row is live unless a tombstone for
its id has a larger ``seq``): ``append_ivfpq_index`` writes ``(batch ids,
s)`` tombstones and then the batch rows at ``seq = s``, masking every
older copy of the ids — an earlier version of an id OR the rows a crashed
previous attempt of this same batch already wrote.  Replaying the batch
writes at a larger ``s`` and converges to exactly one live copy per id,
and a crash between the tombstone and row writes leaves the ids masked
(serving never sees a partial ingest).  The TWO-WIDTHS rule holds by
construction: the upsert always reloads the frozen quantizers from
``{prefix}_meta`` (CLAUDE.md) — a stream never retrains the code space.

100-TB shape: per micro-batch cost is one batch scan (encode+assign) +
batch-sized appends to the tombstone, codes and vectors tables; the
stored corpus is never read and never rewritten.  Compaction cadence
stays an offline concern (`compact_ivfpq_index`) exactly as in the batch
lifecycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ingest_vectors_batch(
    batch: DataFrame,
    table_prefix: str = "ivfpq_idx",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch's upsert into the persisted IVFPQ index (the
    module docstring's contract).  Also the right call for BATCH upserts
    (replace-or-insert by id); the streaming sink below is just this per
    trigger.

    INTRA-BATCH duplicates (the CDC/update-stream case: two rows for one
    id inside a single micro-batch) are collapsed to ONE deterministic row
    per id first: both rows would otherwise land at the same
    ``seq`` and BOTH stay live — the duplicate-rank/double-ADC bug.  The
    input carries no version column, so the documented rule is
    ``max(vec)`` under Spark's lexicographic array order — arbitrary but
    DETERMINISTIC, hence replay-idempotent (a replayed batch collapses to
    the same survivor).  Callers with a real version column should
    pre-resolve to latest-per-id upstream."""
    from bigdata_rags_spark.similarity.pq import append_ivfpq_index

    # materialized once: the upsert reads the collapsed batch three times
    # (tombstones, encode, vectors) — CLAUDE.md multi-branch rule
    one_per_id = (
        batch.groupBy(F.col(id_col))
        .agg(F.max(F.col(vec_col)).alias(vec_col))
        .localCheckpoint()
    )
    append_ivfpq_index(one_per_id, table_prefix, id_col=id_col, vec_col=vec_col)


def stream_vectors_into_ivfpq(
    stream_df: DataFrame,
    table_prefix: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch sink: keep a persisted IVFPQ index fresh from a vector
    stream.  Returns the started StreamingQuery; the index must already
    exist (``build_ivfpq_index``) — its ``_meta`` quantizers define the
    frozen code space every micro-batch is encoded under."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ingest_vectors_batch(batch_df, table_prefix, id_col=id_col, vec_col=vec_col)

    return (
        stream_df.writeStream.foreachBatch(ingest)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .start()
    )


#: schema of the accumulated kept-corpus store maintained by
#: ``curate_crawl_batch`` (plus the ``batch_id`` partition column on disk).
KEPT_STORE_SCHEMA = "doc_id bigint, lang string, source string, text string"


def curate_crawl_batch(
    batch_pages: DataFrame,
    store_path: str,
    batch_id: int,
    **funnel_params,
) -> None:
    """One crawl micro-batch's curation INTO the accumulated kept store —
    the streaming composition of `pipelines/curation.
    incremental_curation_funnel_report`: curate the
    batch's raw HTML pages against the store's current contents
    (frozen store-fit classifier, vs-store key-index dedup, combined
    UniMax quota — the batch funnel's exact math, via the shared
    `incremental_curation_keepers`), then land the surviving documents in
    the store.  Also the right call for BATCH increments; the streaming
    sink below is just this per trigger.

    Exactly-once contract (foreachBatch is at-least-once): the store is
    parquet PARTITIONED BY ``batch_id`` and each batch writes its keepers
    with dynamic partition overwrite — a REPLAYED micro-batch first reads
    the store EXCLUDING its own partition (so it curates against exactly
    the state its first attempt saw; batches replay in checkpoint order,
    so later partitions cannot exist yet) and then overwrites only its own
    partition.  Keeper computation is deterministic given (batch, store
    minus this batch), so replay converges to the identical partition —
    the delete-then-append argument of ``ingest_vectors_batch``, expressed
    as partition overwrite.

    100-TB shape: per micro-batch cost is the incremental funnel (one
    batch text pass + compact store aggregates — the store contributes
    keys/counts, never text) plus a keeper-sized partitioned write; the
    store is never rewritten.  ``batch_id`` partitioning is the standard
    daily-crawl layout, and doubles as ingest provenance."""
    from bigdata_rags_spark.pipelines.curation import incremental_curation_keepers

    from pyspark.errors import AnalysisException

    spark = batch_pages.sparkSession
    try:
        store = spark.read.parquet(store_path)
        stored = store.filter(F.col("batch_id") != batch_id).drop("batch_id")
    except AnalysisException:  # PATH_NOT_FOUND: first batch bootstraps empty
        stored = spark.createDataFrame([], KEPT_STORE_SCHEMA)
    keepers = incremental_curation_keepers(batch_pages, stored, **funnel_params)
    (
        keepers.withColumn("batch_id", F.lit(int(batch_id)).cast("bigint"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store_path)
    )


def stream_pages_into_kept_store(
    stream_df: DataFrame,
    store_path: str,
    checkpoint: str,
    **funnel_params,
):
    """foreachBatch sink: keep the curated corpus store fresh from a crawl
    stream of raw pages (doc_id, lang, source, html) — micro-batch
    arrivals curated against the accumulating kept corpus, the production
    crawl-pipeline shape.  Returns the started StreamingQuery; stream and
    batch increments share ``curate_crawl_batch`` (pinned by the
    stream==batch equivalence test in tests/test_streaming.py)."""

    def curate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        curate_crawl_batch(batch_df, store_path, batch_id, **funnel_params)

    return (
        stream_df.writeStream.foreachBatch(curate)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .start()
    )


def cdc_upsert_zone_batch(
    batch: DataFrame,
    zone_path: str,
    key: str,
    change_ts_col: str,
) -> None:
    """One micro-batch's CDC merge into an SCD-2 zone — the lakehouse twin
    of ``ingest_vectors_batch`` (the same stream-to-store joint, applied
    to the zone tier): compact the batch to the LATEST change per key, then run
    the history-preserving ``merge_scd2``.

    Intra-batch compaction (the Debezium/Kafka log-compaction rule
    ``io/maintenance.cdc_apply`` also uses): a key changed twice inside
    one micro-batch keeps only its latest version — versioning is at
    micro-batch grain, the standard CDC-to-lakehouse trade-off.  The
    survivor is deterministic (max change_ts, ties to the lexicographically
    greatest attribute tuple), so a REPLAYED batch compacts to the same
    row, and ``merge_scd2`` is re-apply idempotent for identical
    attributes — together: exactly-once zone history under foreachBatch's
    at-least-once delivery, the same argument as the IVFPQ ingest.

    Arrival-order contract: ``merge_scd2`` versions by ARRIVAL (the
    newest batch's attributes become current), so micro-batches must be
    per-key ordered by change time — exactly what a CDC topic partitioned
    by key (Debezium/Kafka) delivers.  Cross-batch out-of-order keys
    would open stale versions; fix upstream ordering, not the merge."""
    from pyspark.sql import Window

    from bigdata_rags_spark.io.maintenance import merge_scd2

    attr_cols = [c for c in batch.columns if c not in (key, change_ts_col)]
    w = Window.partitionBy(key).orderBy(
        F.col(change_ts_col).desc(), *[F.col(c).desc() for c in attr_cols]
    )
    latest = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    merge_scd2(batch.sparkSession, zone_path, latest, key, change_ts_col)


def stream_cdc_into_scd2_zone(
    stream_df: DataFrame,
    zone_path: str,
    key: str,
    change_ts_col: str,
    checkpoint: str,
):
    """foreachBatch sink: keep a versioned (SCD-2) parquet zone fresh from
    a CDC stream — completing the stream -> versioned lakehouse ->
    time-travel chain (``io/maintenance.read_zone_as_of`` reads any past
    state of the zone this sink maintains).  Returns the started
    StreamingQuery."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cdc_upsert_zone_batch(batch_df, zone_path, key, change_ts_col)

    return (
        stream_df.writeStream.foreachBatch(apply)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .start()
    )
