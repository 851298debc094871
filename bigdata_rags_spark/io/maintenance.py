"""Zone maintenance operators: upsert (merge) and small-file compaction.

Neither exists in the reference (its load is full drop-and-replace,
dag-load.py:95), but no 100 TB lake survives without them:

- ``merge_upsert``: SCD-1 merge of a change batch into a keyed zone —
  new keys inserted, existing keys overwritten by the newest version.
  Without a table format (Delta/Iceberg aren't in this environment) the
  portable implementation is read-union-dedup-rewrite with a staging
  directory swap; on a format-backed lake the same call maps to MERGE INTO.
- ``compact_zone``: rewrite a zone's many small files into
  target-sized files.  Small-file explosion is the #1 operational failure
  of streaming/incremental writers at scale (every file is a task +
  NameNode/liststore entry).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _hadoop_fs(spark: SparkSession, uri: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(uri)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _swap_dirs(spark: SparkSession, staging: str, final: str) -> None:
    """Promote ``staging`` to ``final`` via Hadoop FileSystem renames.

    Works on any Spark-reachable filesystem (local, HDFS, s3a — where
    rename is the store's copy+delete).  Sequence: ``final`` ->
    ``final__old``, ``staging`` -> ``final``, delete ``final__old``; a
    crash between the renames leaves the previous data intact under
    ``__old`` for manual recovery instead of a deleted zone (deleting
    ``final`` before the rename would lose it to such a crash).
    NOT transactional — concurrent readers can observe a missing ``final``
    for the instant between the two renames; use a table format
    (Delta/Iceberg MERGE) when that window matters.
    """
    fs, jvm = _hadoop_fs(spark, final)
    jpath = jvm.org.apache.hadoop.fs.Path
    old = jpath(final.rstrip("/") + "__old")
    if fs.exists(old):
        fs.delete(old, True)
    if fs.exists(jpath(final)):
        if not fs.rename(jpath(final), old):
            raise IOError(f"rename {final} -> {old} failed")
    if not fs.rename(jpath(staging), jpath(final)):
        raise IOError(f"rename {staging} -> {final} failed")
    fs.delete(old, True)


def _zone_exists(spark: SparkSession, zone_path: str) -> bool:
    """Existence probe via the Hadoop FileSystem, NOT read-and-catch.

    Merges must distinguish "zone not created yet" (first load) from "zone
    exists but the read failed" (corrupt footer, FS hiccup, permissions).
    Swallowing the latter would make a merge treat the zone as empty and
    the staging swap would then replace real history with only the fresh
    batch — so any read error after a positive probe propagates.
    """
    fs, jvm = _hadoop_fs(spark, zone_path)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(zone_path)))


def remove_dir(spark: SparkSession, path: str) -> None:
    """Recursively delete a directory on any Spark-reachable FS (no-op if
    absent).  Used by the pipeline driver to drop an empty-extraction output
    so ERROR-status datasets leave no data behind in the raw zone."""
    fs, jvm = _hadoop_fs(spark, path)
    fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)


def _count_part_files(spark: SparkSession, zone_path: str) -> int:
    fs, jvm = _hadoop_fs(spark, zone_path)
    glob = jvm.org.apache.hadoop.fs.Path(zone_path.rstrip("/") + "/part-*")
    return len(fs.globStatus(glob) or [])


def upsert_apply(
    existing: DataFrame | None,
    updates: DataFrame,
    key: str,
    version_col: str | None = None,
) -> DataFrame:
    """The DataFrame core of the SCD-1 merge (registered as the driver query
    ``upsert_current_rows``): winner per key is the updates row, or with
    ``version_col`` the max-version row across existing+updates (ties ->
    updates).  One union + one window shuffle on ``key``; see
    ``merge_upsert`` for the zone IO wrapper and scale notes."""
    tagged = updates.withColumn("__src", F.lit(1))
    merged_input = (
        existing.withColumn("__src", F.lit(0)).unionByName(tagged)
        if existing is not None
        else tagged
    )
    order = (
        [F.col(version_col).desc(), F.col("__src").desc()]
        if version_col
        else [F.col("__src").desc()]
    )
    w = Window.partitionBy(key).orderBy(*order)
    return (
        merged_input.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def merge_upsert(
    spark: SparkSession,
    zone_path: str,
    updates: DataFrame,
    key: str,
    version_col: str | None = None,
) -> int:
    """Merge ``updates`` into the parquet zone at ``zone_path`` by ``key``.

    Winner per key: the updates row; with ``version_col``, the max-version
    row across existing+updates (ties -> updates).  Rewrites via a staging
    dir promoted with Hadoop FileSystem renames (``_swap_dirs`` — previous
    zone parked at ``__old`` until the new one is in place, so no crash
    window where the data only exists in staging).  Returns the post-merge
    row count.

    Scale shape: one union + one window (shuffle on key) + rewrite of the
    zone.  For zones too large to rewrite, partition the zone and merge
    only the partitions the updates touch (partition pruning on the
    update keys) — or use a table format's MERGE INTO.
    """
    existing = (
        spark.read.parquet(zone_path) if _zone_exists(spark, zone_path) else None
    )
    merged = upsert_apply(existing, updates, key, version_col)
    staging = zone_path.rstrip("/") + "__staging"
    merged.write.mode("overwrite").parquet(staging)
    _swap_dirs(spark, staging, zone_path)
    return spark.read.parquet(zone_path).count()


def compact_zone(
    spark: SparkSession,
    zone_path: str,
    target_rows_per_file: int = 1_000_000,
) -> tuple[int, int]:
    """Rewrite the zone into ceil(rows / target_rows_per_file) files.

    Returns (files_before, files_after).  Uses row-count sizing (portable);
    production variants size by bytes via file statistics.  The rewrite is
    a full-scan + round-robin repartition — run it per partition directory
    on partitioned zones so only hot partitions pay.
    """
    import math

    df = spark.read.parquet(zone_path)
    rows = df.count()
    files_before = _count_part_files(spark, zone_path)
    n_files = max(1, math.ceil(rows / target_rows_per_file))
    staging = zone_path.rstrip("/") + "__compact"
    df.repartition(n_files).write.mode("overwrite").parquet(staging)
    _swap_dirs(spark, staging, zone_path)
    files_after = _count_part_files(spark, zone_path)
    return files_before, files_after


def scd2_apply(
    existing: DataFrame | None,
    updates: DataFrame,
    key: str,
    change_ts_col: str,
) -> DataFrame:
    """The DataFrame core of the SCD-2 merge (registered as the driver query
    ``scd2_current_rows``): returns the post-merge history frame without any
    zone IO.  ``existing`` is the prior SCD-2 frame (or None for the first
    load); see ``merge_scd2`` for the semantics and scale shape."""
    attr_cols = [c for c in updates.columns if c not in (key, change_ts_col)]

    def attr_hash() -> Column:
        # unbound expression — resolves against whichever frame selects it
        return F.md5(
            F.concat_ws(
                "\x1f",
                *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in attr_cols],
            )
        )

    fresh = updates.select(
        F.col(key),
        *[F.col(c) for c in attr_cols],
        F.col(change_ts_col).alias("__valid_from"),
    ).withColumn("__hash", attr_hash())

    if existing is None:
        out = fresh.select(
            key,
            *attr_cols,
            "__valid_from",
            F.lit(None).cast(fresh.schema["__valid_from"].dataType).alias("__valid_to"),
            F.lit(True).alias("__is_current"),
        )
    else:
        current = existing.filter(F.col("__is_current"))
        history = existing.filter(~F.col("__is_current"))
        cur_hashed = current.withColumn("__hash", attr_hash())
        # diff on (key, hash) only
        cmp = (
            fresh.select(key, "__hash", "__valid_from")
            .join(
                cur_hashed.select(
                    F.col(key), F.col("__hash").alias("__cur_hash")
                ),
                key,
                "left",
            )
        )
        changed_keys = cmp.filter(
            F.col("__cur_hash").isNull() | (F.col("__hash") != F.col("__cur_hash"))
        ).select(key, F.col("__valid_from").alias("__close_ts"))
        closed = (
            current.join(F.broadcast(changed_keys), key, "inner")
            .withColumn("__valid_to", F.col("__close_ts"))
            .withColumn("__is_current", F.lit(False))
            .drop("__close_ts")
        )
        untouched = current.join(F.broadcast(changed_keys), key, "left_anti")
        opened = (
            fresh.join(F.broadcast(changed_keys.select(key)), key, "inner")
            .select(
                key,
                *attr_cols,
                "__valid_from",
                F.lit(None).cast(fresh.schema["__valid_from"].dataType).alias("__valid_to"),
                F.lit(True).alias("__is_current"),
            )
        )
        out = history.unionByName(closed).unionByName(untouched).unionByName(opened)

    return out


def merge_scd2(
    spark: SparkSession,
    zone_path: str,
    updates: DataFrame,
    key: str,
    change_ts_col: str,
) -> int:
    """History-preserving (SCD-2) merge: changed keys CLOSE their current
    row (``__valid_to`` = change ts, ``__is_current`` = false) and open a
    new one, unchanged keys are no-ops, so every historical attribute state
    stays queryable ("as of" reads filter on the validity interval).

    ``updates`` must carry ``key``, the attribute columns, and
    ``change_ts_col`` — an explicit, caller-supplied event time (never
    wall-clock inside the operator: deterministic, replayable, and exactly
    re-appliable — re-running the same batch is a no-op because identical
    attributes don't produce a new version).

    Change detection hashes the attribute columns (md5 of a null-tagged
    concat), so only (key, hash) pairs shuffle for the diff — attribute
    payloads move once, in the final rewrite (``scd2_apply`` is the
    DataFrame core).  Same staging-swap discipline as ``merge_upsert``;
    same table-format caveat.  Returns post-merge rows.
    """
    existing = (
        spark.read.parquet(zone_path) if _zone_exists(spark, zone_path) else None
    )
    out = scd2_apply(existing, updates, key, change_ts_col)

    staging = zone_path.rstrip("/") + "__staging"
    out.write.mode("overwrite").parquet(staging)
    _swap_dirs(spark, staging, zone_path)
    return spark.read.parquet(zone_path).count()


def as_of_snapshot(
    history: DataFrame,
    ts,
    valid_from: str = "__valid_from",
    valid_to: str = "__valid_to",
    drop_meta: bool = True,
) -> DataFrame:
    """Reconstruct the table EXACTLY as of time ``ts`` from an SCD-2
    history frame (the output of ``scd2_apply`` / ``merge_scd2``) — zone
    time travel, so a past state can be read back without keeping
    snapshots: the natural consumer of the retained-history layout, and the table-grain generalization of the
    key-grain ``scd2_point_in_time_lookup``.

    A row is live at ``ts`` iff ``valid_from <= ts < valid_to`` (NULL
    ``valid_to`` = still open) — the half-open interval convention
    ``scd2_apply`` writes, so as-of(change_ts) already sees the NEW
    version (the close and open happen "atomically" at the change time).
    Validity bounds compare with whatever ordering the stored type has;
    the repo convention is 'YYYY-MM-DD' strings (lexicographic ==
    chronological, engine-neutral).

    100-TB shape: one scan with a row-local predicate — no join, no
    shuffle; partition the history by a ``valid_from`` date bucket and
    the predicate prunes whole partitions for old ``ts``.
    """
    live = history.filter(
        (F.col(valid_from) <= F.lit(ts))
        & (F.col(valid_to).isNull() | (F.lit(ts) < F.col(valid_to)))
    )
    if drop_meta:
        meta = [c for c in (valid_from, valid_to, "__is_current") if c in history.columns]
        live = live.drop(*meta)
    return live


def read_zone_as_of(spark: SparkSession, zone_path: str, ts) -> DataFrame:
    """Time-travel read of an SCD-2-maintained parquet zone: the table as
    of ``ts``, reconstructed from the retained history ``merge_scd2``
    writes.  ``read_zone_as_of(z, T1)`` != ``read_zone_as_of(z, T2)`` !=
    the current state whenever versions changed between — pinned in
    tests/test_maintenance.py."""
    return as_of_snapshot(spark.read.parquet(zone_path), ts)


def snapshot_diff(old_df: DataFrame, new_df: DataFrame, key: str) -> DataFrame:
    """Classify every key across two snapshot DataFrames as added / removed /
    changed / unchanged (the DataFrame core of ``zone_diff``; registered as
    the driver query ``zone_snapshot_diff``).

    Shape: both sides reduce to (key, attr-hash) before the full outer
    join, so payload columns never shuffle; the diff costs one co-keyed
    exchange regardless of row width.  Returns (key, status) — aggregate
    downstream for counts, or join back by key to fetch changed payloads.
    Equal attribute values hash equal; distinct values produce distinct
    hashes (md5 over a null-tagged, field-separated string rendering), so
    status is pure value equality — SQL-replayable without the hash.
    """
    attr_cols = sorted(set(old_df.columns) & set(new_df.columns) - {key})

    def hashed(df: DataFrame, name: str) -> DataFrame:
        h = F.md5(
            F.concat_ws(
                "\x1f",
                *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in attr_cols],
            )
        )
        return df.select(F.col(key), h.alias(name))

    o = hashed(old_df, "__old_h")
    n = hashed(new_df, "__new_h")
    j = o.join(n, key, "full_outer")
    return j.select(
        key,
        F.when(F.col("__old_h").isNull(), "added")
        .when(F.col("__new_h").isNull(), "removed")
        .when(F.col("__old_h") != F.col("__new_h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


def zone_diff(
    spark: SparkSession,
    old_path: str,
    new_path: str,
    key: str,
) -> DataFrame:
    """Snapshot reconciliation between two parquet zone versions — the audit
    step after any merge or backfill, and the poor-man's change-data-feed
    between snapshots when no table format tracks row history.  See
    ``snapshot_diff`` for the plan shape."""
    return snapshot_diff(spark.read.parquet(old_path), spark.read.parquet(new_path), key)


def cdc_apply(
    log: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply a change-data-capture log to produce final table state: the
    LATEST op per key wins (ordered by ``seq_col``), and a latest 'D'
    removes the key — the log-compaction semantic of Kafka/Debezium CDC
    topics, and the delete path `upsert_apply` (SCD-1) deliberately lacks.
    Insert-after-delete re-keys correctly because ordering is by sequence,
    not op kind.

    Reference parity: `reference/dag-load.py` replaces whole tables
    (`if_exists="replace"`); this is the incremental alternative a
    100 TB zone needs.  Scale shape: ONE hash exchange on the key for the
    per-key window (AQE-coalesced), no join — payloads cross the wire
    once.  At extreme skew (hot keys with millions of ops) pre-compact
    per partition with a (key, max seq) semi-join before the window.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col(op_col) != "D"))
        .drop("_rn")
    )
