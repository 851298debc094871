"""Real Structured Streaming execution: the same transforms that are
oracle-checked in batch run here as file-source micro-batch streams, and the
streamed results must equal the batch results (unified-API contract).
Also pins watermark late-data semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_rags_spark.streaming.events import (
    NS,
    read_events_batch,
    read_events_stream,
    session_agg,
    tumbling_agg,
)


@pytest.fixture(scope="module")
def event_files(spark, sf_smoke, tmp_path_factory):
    """Split sf0.001 events into several parquet files (one per micro-batch)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    batch = read_events_batch(spark, sf_smoke).select(
        "event_id", "ts_ns", "user_id", "event_type", "value", "props"
    )
    batch.withColumn("part", F.expr("event_id % 4")).repartition(4, "part").drop(
        "part"
    ).write.mode("overwrite").parquet(path)
    return path


def _run_stream_to_memory(spark, stream_df, name: str, output_mode: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _canon(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_tumbling_equals_batch(spark, sf_smoke, event_files):
    stream = read_events_stream(spark, event_files)
    got = _run_stream_to_memory(spark, tumbling_agg(stream, "1 hour"), "t_tumble", "complete")
    want = tumbling_agg(read_events_batch(spark, sf_smoke), "1 hour")
    cols = ["window_start_sec", "event_type", "n_events", "total_value", "avg_value"]
    assert _canon(got, cols) == _canon(want, cols)


def test_stream_sessions_equal_batch(spark, sf_smoke, event_files):
    from bigdata_rags_spark.streaming.events import session_agg

    stream = read_events_stream(spark, event_files)
    got = _run_stream_to_memory(spark, session_agg(stream, "5 minutes"), "t_sess", "complete")
    want = session_agg(read_events_batch(spark, sf_smoke), "5 minutes")
    cols = ["user_id", "session_start_sec", "span_sec", "n_events", "total_value"]
    assert _canon(got, cols) == _canon(want, cols)


def test_stream_sliding_equals_batch(spark, sf_smoke, event_files):
    from bigdata_rags_spark.streaming.events import sliding_agg

    stream = read_events_stream(spark, event_files)
    got = _run_stream_to_memory(
        spark, sliding_agg(stream, "1 hour", "30 minutes"), "t_slide", "complete"
    )
    want = sliding_agg(read_events_batch(spark, sf_smoke), "1 hour", "30 minutes")
    cols = ["window_start_sec", "event_type", "n_events", "total_value"]
    assert _canon(got, cols) == _canon(want, cols)


def test_foreachbatch_lands_results_in_zone(spark, event_files, tmp_path):
    from bigdata_rags_spark.streaming.events import stream_to_zone

    out = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, event_files)
    q = stream_to_zone(tumbling_agg(stream, "1 hour"), out, ckpt, mode="update")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    landed = spark.read.parquet(out)
    assert landed.count() > 0
    assert "__batch_id" in landed.columns and "window_start_sec" in landed.columns


@pytest.mark.slow  # ~19 s measured r17
def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode watermarked aggregation: a row arriving far behind the
    watermark is dropped, one within the allowance is kept."""
    path = str(tmp_path / "late")
    rows1 = [(1, 10_000 * NS, 1, "click", 1.0, ""), (2, 10_100 * NS, 1, "click", 1.0, "")]
    # batch 2: watermark has advanced past hour-0's close; late row at 100s
    rows2 = [(3, 20_000 * NS, 1, "click", 1.0, ""), (4, 100 * NS, 1, "click", 9.0, "")]
    schema = "event_id long, ts_ns long, user_id long, event_type string, value double, props string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(path)

    stream = read_events_stream(spark, path, max_files_per_trigger=1)
    agg = tumbling_agg(stream, "1 hour", watermark="10 seconds")
    q = agg.writeStream.format("memory").queryName("t_late").outputMode("append").start()
    # batch 1 completes -> watermark advances to 10100s - 10s; only then does
    # the straggler file arrive (deterministic two-batch sequencing)
    q.processAllAvailable()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(path)
    q.processAllAvailable()
    q.stop()
    out = {r["window_start_sec"]: r["n_events"] for r in spark.table("t_late").collect()}
    # the straggler (ts=100s, window [0,3600)) arrived after the watermark
    # passed that window's close -> it must be dropped: window 0 is never
    # emitted.  The on-time window [7200,10800) emits with both rows.
    assert 0 not in out, f"late row was not dropped: {out}"
    assert out.get(7200) == 2, f"on-time window missing/short: {out}"

def test_stream_dedupe_drops_planted_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark: replays of the same event_id across
    micro-batches (within the watermark) collapse to one row."""
    from bigdata_rags_spark.streaming.events import dedupe_events

    p1 = str(tmp_path / "b1")
    p2 = str(tmp_path / "b2")
    schema = "event_id long, ts_ns long, user_id long, event_type string, value double, props string"
    rows1 = [(1, 1_000 * NS, 1, "click", 1.0, ""), (2, 1_010 * NS, 2, "view", 2.0, "")]
    # batch 2 replays id 1 and 2 (10s later, inside the 1h watermark) + a new id
    rows2 = [(1, 1_010 * NS, 1, "click", 1.0, ""), (2, 1_020 * NS, 2, "view", 2.0, ""),
             (3, 1_030 * NS, 3, "click", 3.0, "")]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(p1)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("overwrite").parquet(p2)
    merged = str(tmp_path / "merged")
    spark.read.schema(schema).parquet(p1).coalesce(1).write.mode("overwrite").parquet(merged)
    spark.read.schema(schema).parquet(p2).coalesce(1).write.mode("append").parquet(merged)

    stream = read_events_stream(spark, merged, max_files_per_trigger=1)
    got = _run_stream_to_memory(spark, dedupe_events(stream), "t_dedup", "append")
    ids = sorted(r["event_id"] for r in got.collect())
    assert ids == [1, 2, 3]
    # batch mode: same definition, same surviving ids
    batch = spark.read.schema(schema).parquet(merged)
    from bigdata_rags_spark.streaming.events import _with_ts

    bids = sorted(r["event_id"] for r in dedupe_events(_with_ts(batch)).collect())
    assert bids == [1, 2, 3]


def test_stream_static_join_equals_batch(spark, sf_smoke, event_files):
    """enrich_with_dim as a true stream-static micro-batch join == batch join."""
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.streaming.events import enrich_with_dim

    dim = (
        read_testdata(spark, sf_smoke, "customer")["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    stream = read_events_stream(spark, event_files)
    got = _run_stream_to_memory(
        spark, enrich_with_dim(stream, dim), "t_enrich", "append"
    )
    want = enrich_with_dim(read_events_batch(spark, sf_smoke), dim)
    cols = ["event_id", "user_id", "c_mktsegment"]
    assert _canon(got, cols) == _canon(want, cols)
    assert got.filter(F.col("c_mktsegment").isNull()).count() > 0  # outer branch real


def test_stream_stream_interval_join_equals_batch(spark, sf_smoke, event_files):
    """A real stream-stream join: clicks attributed to any same-user event in
    the following 10 minutes, streamed in micro-batches, must equal the
    batch interval join."""
    from bigdata_rags_spark.streaming.events import interval_join

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") != "click"),
        )

    ls, rs = split(read_events_stream(spark, event_files))
    # the fixture files are split by event_id (not time), so cross-batch
    # disorder spans the whole month -- the watermark (allowed lateness)
    # must cover it or legitimately-late rows expire from join state
    got = _run_stream_to_memory(
        spark,
        interval_join(ls, rs, within="10 minutes", watermark="35 days"),
        "t_ssjoin",
        "append",
    )
    lb, rb = split(read_events_batch(spark, sf_smoke))
    want = interval_join(lb, rb, within="10 minutes")
    cols = ["user_id", "left_event_id", "right_event_id", "lag_us"]
    assert want.count() > 0  # non-vacuous: attributions exist in the fixture
    assert _canon(got, cols) == _canon(want, cols)
    # interval bound respected
    assert all(0 <= r["lag_us"] < 600_000_000 for r in got.collect())


def test_foreachbatch_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Restarting a foreachBatch stream from its checkpoint must process
    only NEW files — no re-landing of already-committed micro-batches."""
    from bigdata_rags_spark.streaming.events import stream_to_zone

    src = str(tmp_path / "src")
    out = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts_ns long, user_id long, event_type string, value double, props string"
    rows1 = [(1, 1_000 * NS, 1, "click", 1.0, ""), (2, 2_000 * NS, 2, "view", 2.0, "")]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)

    def run_once():
        stream = read_events_stream(spark, src).select("event_id", "user_id", "value")
        q = stream_to_zone(stream, out, ckpt, mode="append")
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    first = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert first == [1, 2]

    # new file arrives while the stream is DOWN; restart from the checkpoint
    rows2 = [(3, 3_000 * NS, 3, "click", 3.0, "")]
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
    run_once()
    final = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert final == [1, 2, 3]  # ids 1,2 landed exactly once


def test_stream_reads_native_fixture_directory(spark, sf_smoke):
    """The stream reader must consume the driver's ACTUAL events.parquet
    (timestamp[us] ts column) with no fixture rewriting — schema is probed
    from the files and the same type-adaptive normalization as the batch
    reader applies.  Streamed rows == batch rows, column for column."""
    stream = read_events_stream(spark, f"{sf_smoke}/events.parquet", max_files_per_trigger=8)
    got = _run_stream_to_memory(
        spark,
        stream.select("event_id", "ts_ns", "user_id", "event_type", "value"),
        "t_native_dir",
        "append",
    )
    want = read_events_batch(spark, sf_smoke).select(
        "event_id", "ts_ns", "user_id", "event_type", "value"
    )
    cols = ["event_id", "ts_ns", "user_id", "event_type", "value"]
    assert _canon(got, cols) == _canon(want, cols)


def test_stream_left_outer_interval_join_equals_batch(spark, sf_smoke, tmp_path):
    """Watermarked stream-stream LEFT OUTER interval join: Spark emits the
    null-extended row for an unmatched click only once the watermark passes
    its interval (proving no match can arrive).  A far-future sentinel event
    appended to EACH side advances both watermarks past all real data, so
    the streamed result (minus sentinels) equals the batch left join."""
    from bigdata_rags_spark.streaming.events import interval_join_left

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") != "click"),
        )

    batch = read_events_batch(spark, sf_smoke).select(
        "event_id", "ts_ns", "user_id", "event_type", "value", "props"
    )
    max_ns = batch.agg(F.max("ts_ns")).collect()[0][0]
    sentinel_ns = max_ns + 40 * 24 * 3600 * NS  # beyond watermark + interval
    dirs = {}
    for side, (etype, filt) in {
        "l": ("click", F.col("event_type") == "click"),
        "r": ("view", F.col("event_type") != "click"),
    }.items():
        path = str(tmp_path / side)
        batch.filter(filt).coalesce(2).write.parquet(path)
        sentinel = spark.createDataFrame(
            [(-1, sentinel_ns, -1, etype, 0.0, "")],
            "event_id long, ts_ns long, user_id long, event_type string, value double, props string",
        )
        # separate file, written last -> its micro-batch advances the
        # watermark AFTER all real rows are in join state
        sentinel.coalesce(1).write.mode("append").parquet(path)
        dirs[side] = path

    got = _run_stream_to_memory(
        spark,
        interval_join_left(
            read_events_stream(spark, dirs["l"], max_files_per_trigger=10),
            read_events_stream(spark, dirs["r"], max_files_per_trigger=10),
            within="10 minutes",
            watermark="35 days",
        ),
        "t_ssjoin_outer",
        "append",
    ).filter("user_id >= 0")
    lb, rb = split(read_events_batch(spark, sf_smoke))
    want = interval_join_left(lb, rb, within="10 minutes")
    cols = ["user_id", "left_event_id", "right_event_id", "lag_us"]
    rows = got.collect()
    assert any(r["right_event_id"] is None for r in rows)  # outer branch real
    assert _canon(got, cols) == _canon(want, cols)


def test_stream_starts_on_empty_landing_directory(spark, tmp_path):
    """The standard files-arrive-later pattern: a stream must start on an
    empty landing directory (schema probe falls back to the canonical
    stream schema) and pick up files on restart."""
    d = str(tmp_path / "landing")
    import os

    os.makedirs(d)
    got = _run_stream_to_memory(
        spark, read_events_stream(spark, d).select("event_id"), "t_empty_dir", "append"
    )
    assert got.count() == 0
    rows = [(7, 1_000 * NS, 1, "click", 1.0, "")]
    spark.createDataFrame(
        rows,
        "event_id long, ts_ns long, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.mode("append").parquet(d)
    got2 = _run_stream_to_memory(
        spark, read_events_stream(spark, d).select("event_id"), "t_empty_dir2", "append"
    )
    assert [r["event_id"] for r in got2.collect()] == [7]


def test_single_file_stream_path_with_glob_metachars(spark, sf_smoke, tmp_path):
    """ADVICE r5: the single-file workaround must escape glob metacharacters
    in EVERY path component.  'run[3]' as a raw glob is a character class
    matching 'run3' — plant a decoy file there and assert the stream reads
    exactly the intended file, never the decoy."""
    import posixpath

    batch = read_events_batch(spark, sf_smoke).select(
        "event_id", "ts_ns", "user_id", "event_type", "value", "props"
    )
    intended = batch.filter(F.col("event_id") < 100)
    decoy = batch.filter((F.col("event_id") >= 100) & (F.col("event_id") < 300))

    for sub, df in (("run[3]", intended), ("run3", decoy)):
        d = tmp_path / sub
        d.mkdir()
        one = df.coalesce(1)
        tmp = str(tmp_path / f"_w_{sub.strip('[]')}")
        one.write.parquet(tmp)
        import glob as globmod
        import shutil

        part = globmod.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, str(d / "events.parquet"))

    stream = read_events_stream(spark, str(tmp_path / "run[3]" / "events.parquet"))
    got = _run_stream_to_memory(spark, stream, "t_globesc", "append")
    ids = sorted(r["event_id"] for r in got.select("event_id").collect())
    want = sorted(r["event_id"] for r in intended.select("event_id").collect())
    assert ids == want, (len(ids), len(want))


def test_hourly_anomaly_flags_planted_spike(spark, sf_smoke):
    """A 10x planted spike hour must flag; the organic fixture hours
    (uniform-ish traffic) must produce rows with mostly no flags."""
    import tempfile

    import bigdata_rags_spark.queries.streaming_batch as sb

    base = read_events_batch(spark, sf_smoke).select(
        "event_id", "ts_ns", "user_id", "event_type", "value", "props"
    )
    organic = {
        (r["event_type"], r["hr"]): r["is_anomaly"]
        for r in sb.events_hourly_anomaly(spark, sf_smoke).collect()
    }
    assert organic, "fixture must produce >=12-history hours"

    # plant: clone one event 500x into a single later hour for one type
    one = base.filter(F.col("event_type") == "click").limit(1)
    spike_ns = base.agg(F.max("ts_ns")).collect()[0][0] + 3_600_000_000_000
    spike = (
        one.crossJoin(spark.range(500).select(F.col("id").alias("i")))
        .select(
            (F.col("event_id") + F.col("i") + 10_000_000).alias("event_id"),
            F.lit(spike_ns).cast("long").alias("ts_ns"),
            "user_id", "event_type", "value", "props",
        )
    )
    with tempfile.TemporaryDirectory() as d:
        base.unionByName(spike).write.parquet(f"{d}/events.parquet")
        out = {
            (r["event_type"], r["hr"]): r
            for r in sb.events_hourly_anomaly(spark, d).collect()
        }
    spike_hr = spike_ns // 3_600_000_000_000
    assert out[("click", spike_hr)]["is_anomaly"] == 1
    assert out[("click", spike_hr)]["c"] >= 500


def test_hourly_unique_users_sketch_estimates(spark, sf_smoke):
    """Per-window LogLog estimates must be positive and within a loose
    error band of the per-window exact counts (m=64 => ~16% std; allow 3
    sigma), and the exact rider must match an independent recount."""
    import bigdata_rags_spark.queries.streaming_batch as sb

    rows = sb.events_hourly_unique_users_sketch(spark, sf_smoke).collect()
    assert rows
    ev = read_events_batch(spark, sf_smoke)
    want = {
        r["hr"]: r["n"]
        for r in ev.select(F.expr("ts_ns div 3600000000000").alias("hr"), "user_id")
        .groupBy("hr")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        assert r["n_exact"] == want[r["hr"]]
        assert r["estimate"] > 0
        if r["n_exact"] >= 32:  # sketch error bound only meaningful past tiny n
            assert abs(r["estimate"] - r["n_exact"]) / r["n_exact"] < 0.75, r


def test_cms_sketch_registers_merge_across_microbatches(spark, tmp_path):
    """The count-min registers are a MERGEABLE sketch: streaming the events
    in two micro-batches (complete-mode grouped count over (row, bucket))
    must produce exactly the cells a single batch pass computes."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.queries.streaming_batch import cms_bucket
    from bigdata_rags_spark.streaming.events import NS, read_events_stream

    path = str(tmp_path / "cms_stream")
    schema = "event_id long, ts_ns long, user_id long, event_type string, value double, props string"
    b1 = [(i, i * NS, i % 5, "click", 1.0, "") for i in range(40)]
    b2 = [(100 + i, (100 + i) * NS, i % 7, "view", 1.0, "") for i in range(40)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(path)

    def cells(df):
        exploded = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            cms_bucket(r, F.col("user_id")).alias("bucket"),
                        )
                        for r in range(4)
                    ]
                )
            ).alias("cell")
        ).select("cell.r", "cell.bucket")
        return exploded.groupBy("r", "bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )

    q = (
        cells(read_events_stream(spark, path))
        .writeStream.format("memory")
        .queryName("t_cms_cells")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(path)
        q.processAllAvailable()
        streamed = {
            (r["r"], r["bucket"]): r["c"] for r in spark.table("t_cms_cells").collect()
        }
    finally:
        q.stop()
    batch = {
        (r["r"], r["bucket"]): r["c"]
        for r in cells(spark.read.parquet(path)).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_rollup_cascade_equals_direct_aggregation(spark, sf_smoke):
    """The minute->hour->day cascade must equal a direct day-level
    aggregation of the raw events (mergeable-summaries algebra)."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.queries.catalog import REGISTRY
    from bigdata_rags_spark.streaming.events import read_events_batch

    cascade = {
        tuple(r) for r in REGISTRY["events_rollup_cascade"].spark(spark, sf_smoke).collect()
    }
    ev = read_events_batch(spark, sf_smoke)
    direct = {
        tuple(r)
        for r in ev.select(
            "event_type",
            F.expr("ts_ns div 86400000000000").alias("bucket"),
            F.expr("ts_ns div 60000000000").alias("minute"),
            F.round(F.col("value") * 100).cast("bigint").alias("v_cents"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("v_cents").cast("bigint").alias("sum_cents"),
            F.min("v_cents").alias("min_cents"),
            F.max("v_cents").alias("max_cents"),
            F.countDistinct("minute").cast("bigint").alias("n_buckets"),
        )
        .collect()
    }
    assert cascade == direct and len(direct) > 0


def test_rollup_partials_merge_after_restart_split(spark):
    """Restart/backfill contract: minute partials computed over two disjoint
    halves of the stream, unioned and re-merged, equal partials over the
    whole — the associativity `merge_up` relies on at every level."""
    from bigdata_rags_spark.streaming.rollup import merge_up, minute_partials

    schema = "event_type string, ts_ns long, value double"
    rows = [("a" if i % 3 else "b", i * 7_000_000_000, (i % 11) * 0.25) for i in range(200)]
    whole = spark.createDataFrame(rows, schema)
    h1 = spark.createDataFrame(rows[:97], schema)
    h2 = spark.createDataFrame(rows[97:], schema)

    # re-merge at ratio 1: pure partial-merge, no re-bucketing
    remerged = {
        (r["event_type"], r["bucket"]): r.asDict()
        for r in merge_up(
            minute_partials(h1).unionByName(minute_partials(h2)), 1
        ).collect()
    }
    direct = {
        (r["event_type"], r["bucket"]): r.asDict()
        for r in minute_partials(whole).collect()
    }
    assert remerged.keys() == direct.keys() and len(direct) > 0
    for k, d in direct.items():
        m = remerged[k]
        for c in ("n_events", "sum_cents", "min_cents", "max_cents"):
            assert m[c] == d[c], (k, c, m, d)
        # a minute spanning the h1/h2 split merges two partial rows
        assert m["n_buckets"] >= d["n_buckets"], (k, m, d)


def test_hourly_percentiles_rank_math(spark, tmp_path):
    """p50/p95/max via rank arithmetic on a known distribution."""
    from bigdata_rags_spark.queries.catalog import REGISTRY
    from bigdata_rags_spark.streaming.events import NS

    path = str(tmp_path)
    schema = "event_id long, ts_ns long, user_id long, event_type string, value double, props string"
    # one hour, values 0.01..1.00 (cents 1..100)
    rows = [(i, i * NS, 1, "click", (i + 1) / 100.0, "") for i in range(100)]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{path}/events.parquet"
    )
    out = REGISTRY["events_hourly_value_percentiles"].spark(spark, path).collect()
    # hour 0 has 3600/NS-spaced... all i*NS < 3600e9 for i<100 -> one bucket
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 100
    assert r["p50_cents"] == 50   # rank (100+1) div 2 = 50 -> value 50
    assert r["p95_cents"] == 95   # rank 100 - 5 = 95
    assert r["max_cents"] == 100


def test_transition_matrix_planted_sequence(spark, tmp_path):
    """A deterministic A->B->A->C sequence yields the exact transition
    counts and integer-micro conditional probabilities."""
    from bigdata_rags_spark.queries.catalog import REGISTRY
    from bigdata_rags_spark.streaming.events import NS

    path = str(tmp_path)
    schema = "event_id long, ts_ns long, user_id long, event_type string, value double, props string"
    seq = ["A", "B", "A", "C", "A", "B"]
    rows = [(i, i * NS, 1, t, 1.0, "") for i, t in enumerate(seq)]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{path}/events.parquet"
    )
    out = {
        (r["from_type"], r["to_type"]): (r["n"], r["n_from"], r["p_micro"])
        for r in REGISTRY["events_transition_matrix"].spark(spark, path).collect()
    }
    # transitions: A->B (x2), B->A, A->C, C->A
    assert out[("A", "B")] == (2, 3, 666666)
    assert out[("A", "C")] == (1, 3, 333333)
    assert out[("B", "A")] == (1, 1, 1000000)
    assert out[("C", "A")] == (1, 1, 1000000)


def test_seasonal_baseline_error_planted(spark, tmp_path):
    """Hours 24h apart pair up; the planted +5 spike in day 2 shows up as
    exactly 5 absolute error per paired hour."""
    from bigdata_rags_spark.queries.catalog import REGISTRY
    from bigdata_rags_spark.streaming.events import NS

    path = str(tmp_path)
    schema = "event_id long, ts_ns long, user_id long, event_type string, value double, props string"
    rows = []
    eid = 0
    # day 1: 10 events in hour 0 and hour 1;  day 2: 15 in hour 24, 10 in hour 25
    for hr, n in [(0, 10), (1, 10), (24, 15), (25, 10)]:
        for i in range(n):
            rows.append((eid, (hr * 3600 + i) * NS, 1, "click", 1.0, ""))
            eid += 1
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{path}/events.parquet"
    )
    out = REGISTRY["events_seasonal_baseline_error"].spark(spark, path).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_hours"] == 2                       # hours 24 and 25 pair with 0 and 1
    assert r["total_abs_err"] == 5                 # |15-10| + |10-10|
    assert r["mae_over_volume_micro"] == 5 * 1_000_000 // 25


def test_ab_experiment_planted_significant_lift(spark, tmp_path):
    """A planted experiment where arm composition differs sharply must come
    out significant with the right sign; a balanced one must not."""
    from bigdata_rags_spark.queries.catalog import REGISTRY
    from bigdata_rags_spark.streaming.events import NS

    schema = "event_id long, ts_ns long, user_id long, event_type string, value double, props string"

    def build(users_purchases, path):
        rows, eid = [], 0
        for uid, n_purch in users_purchases:
            for i in range(n_purch):
                rows.append((eid, (uid * 1000 + i) * NS, uid, "purchase", 1.0, ""))
                eid += 1
            rows.append((eid, (uid * 1000 + 999) * NS, uid, "view", 1.0, ""))
            eid += 1
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            f"{path}/events.parquet"
        )

    # find the md5 arm of each uid so we can plant a real imbalance
    import hashlib

    def arm(uid):
        return int(hashlib.md5(f"ab:{uid}".encode()).hexdigest()[:8], 16) % 2

    a_users = [u for u in range(200) if arm(u) == 0][:30]
    b_users = [u for u in range(200) if arm(u) == 1][:30]
    # arm B converts (>=14 purchases), arm A doesn't
    planted = [(u, 2) for u in a_users] + [(u, 20) for u in b_users]
    d1 = str(tmp_path / "skewed")
    build(planted, d1)
    r = REGISTRY["events_ab_experiment_lift"].spark(spark, d1).collect()[0]
    assert r["n_a"] == 30 and r["n_b"] == 30
    assert r["c_a"] == 0 and r["c_b"] == 30
    assert r["lift_micro"] == 1_000_000 and r["significant_95"] == 1

    balanced = [(u, 20) for u in a_users] + [(u, 20) for u in b_users]
    d2 = str(tmp_path / "balanced")
    build(balanced, d2)
    r2 = REGISTRY["events_ab_experiment_lift"].spark(spark, d2).collect()[0]
    assert r2["lift_micro"] == 0 and r2["significant_95"] == 0


def test_dau_wau_stickiness_planted(spark, tmp_path):
    """Known activity pattern: user 1 active days 0-6 daily, user 2 only
    day 3 -> DAU/WAU per day verified by hand."""
    from bigdata_rags_spark.queries.catalog import REGISTRY
    from bigdata_rags_spark.streaming.events import NS

    path = str(tmp_path)
    schema = "event_id long, ts_ns long, user_id long, event_type string, value double, props string"
    day_ns = 86_400_000_000_000
    rows, eid = [], 0
    for d in range(7):
        rows.append((eid, d * day_ns + NS, 1, "click", 1.0, "")); eid += 1
    rows.append((eid, 3 * day_ns + NS, 2, "click", 1.0, ""))
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{path}/events.parquet"
    )
    out = {r["day"]: r for r in
           REGISTRY["events_dau_wau_stickiness"].spark(spark, path).collect()}
    assert out[0]["dau"] == 1 and out[0]["wau"] == 1
    assert out[3]["dau"] == 2 and out[3]["wau"] == 2  # both active in trailing week
    assert out[6]["dau"] == 1 and out[6]["wau"] == 2  # user 2 still inside the week
    assert out[6]["stickiness_micro"] == 500_000


def test_new_vs_returning_planted(spark, tmp_path):
    from bigdata_rags_spark.queries.catalog import REGISTRY
    from bigdata_rags_spark.streaming.events import NS

    path = str(tmp_path)
    schema = "event_id long, ts_ns long, user_id long, event_type string, value double, props string"
    day_ns = 86_400_000_000_000
    # user 1: days 0,1; user 2: day 1 only; user 3: days 1,2
    acts = [(1, 0), (1, 1), (2, 1), (3, 1), (3, 2)]
    rows = [(i, d * day_ns + NS, u, "click", 1.0, "") for i, (u, d) in enumerate(acts)]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{path}/events.parquet"
    )
    out = {r["day"]: (r["n_new"], r["n_returning"]) for r in
           REGISTRY["events_new_vs_returning"].spark(spark, path).collect()}
    assert out == {0: (1, 0), 1: (2, 1), 2: (0, 1)}


@pytest.mark.slow  # ~36 s measured r17
def test_stream_ingest_into_ivfpq_equals_batch_append(spark, sf_smoke, tmp_path):
    """VERDICT r12 #5 — stream==batch equivalence: serving after
    foreachBatch stream ingest must be value-identical to serving after
    the batch append over the same vectors, and a replayed micro-batch
    (the at-least-once case) must converge to the same index (upsert
    idempotence)."""
    from bigdata_rags_spark.io.bucketing import drop_managed_table
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.pq import (
        append_ivfpq_index,
        build_ivfpq_index,
        ivfpq_index_serve,
    )
    from bigdata_rags_spark.streaming.ingest import (
        ingest_vectors_batch,
        stream_vectors_into_ivfpq,
    )

    prefixes = ("t_stream_ing", "t_batch_ing")
    try:
        e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
        base = e.filter(F.col("vec_id") % 3 != 0)
        batch = e.filter(F.col("vec_id") % 3 == 0)
        for p in prefixes:
            build_ivfpq_index(base, table_prefix=p)

        # batch path: one append
        append_ivfpq_index(batch, table_prefix="t_batch_ing")

        # stream path: the same vectors as two parquet micro-batches
        src = str(tmp_path / "vecsrc")
        batch.filter(F.col("vec_id") % 2 == 0).write.mode("overwrite").parquet(src)
        batch.filter(F.col("vec_id") % 2 == 1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_vectors_into_ivfpq(
            stream, "t_stream_ing", str(tmp_path / "ckpt")
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        qv = e.filter(F.col("vec_id") < 5)
        key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
        streamed = sorted(
            ivfpq_index_serve(qv, k=5, table_prefix="t_stream_ing").collect(), key=key
        )
        batched = sorted(
            ivfpq_index_serve(qv, k=5, table_prefix="t_batch_ing").collect(), key=key
        )
        assert streamed == batched and len(streamed) == 25

        # replay idempotence: re-ingesting one of the micro-batches (a
        # crashed-then-retried trigger) must not change serving output
        ingest_vectors_batch(batch.filter(F.col("vec_id") % 2 == 0), "t_stream_ing")
        replayed = sorted(
            ivfpq_index_serve(qv, k=5, table_prefix="t_stream_ing").collect(), key=key
        )
        assert replayed == streamed
    finally:
        for p in prefixes:
            for suffix in ("_codes", "_vectors", "_meta", "_tombstones"):
                drop_managed_table(spark, f"{p}{suffix}")


def test_ingest_batch_with_intra_batch_duplicate_ids_converges(spark, sf_smoke):
    """A micro-batch carrying TWO rows for one id
    (the CDC/update-stream case) must still converge to exactly one live
    copy — both rows would otherwise land at the same seq and both stay
    live.  The fix collapses the batch to one deterministic row per id
    (max(vec) lexicographic) pre-upsert; a replay masks the first copy."""
    from bigdata_rags_spark.io.bucketing import drop_managed_table
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.pq import (
        _live_rows,
        build_ivfpq_index,
        compact_ivfpq_index,
        ivfpq_index_serve,
    )
    from bigdata_rags_spark.streaming.ingest import ingest_vectors_batch

    prefix = "t_dup_ing"

    def live(table: str, key: str):
        rows = spark.table(f"{prefix}_{table}").filter(F.col(key) == dup_id)
        return _live_rows(spark, prefix, rows, key)

    try:
        e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
        build_ivfpq_index(e.filter(F.col("vec_id") % 3 != 0), table_prefix=prefix)

        dup_id = 777_777
        batch = (
            e.filter(F.col("vec_id").isin(10, 11))
            .select(F.lit(dup_id).cast("bigint").alias("vec_id"), "embedding")
        )
        assert batch.count() == 2
        expected_vec = batch.agg(F.max("embedding")).collect()[0][0]

        for attempt in ("first", "replay"):
            ingest_vectors_batch(batch, prefix)
            live_vecs = live("vectors", "vec_id").collect()
            assert len(live_vecs) == 1, attempt
            assert list(live_vecs[0]["embedding"]) == list(expected_vec), attempt
            # codes: exactly one live row per subquantizer for the id
            codes = live("codes", "id")
            assert codes.count() == codes.select("m").distinct().count() > 0, attempt
            # served at most once per query (a clone query under a fresh id
            # finds it at cosine 1.0)
            clone = spark.createDataFrame(
                [(-1, list(expected_vec))], "vec_id long, embedding array<float>"
            )
            hits = [
                r["neighbor_id"]
                for r in ivfpq_index_serve(clone, k=5, table_prefix=prefix).collect()
            ]
            assert hits.count(dup_id) == 1, attempt

        # compaction leaves exactly one physical copy
        compact_ivfpq_index(spark, prefix)
        again = (
            spark.table(f"{prefix}_vectors").filter(F.col("vec_id") == dup_id).collect()
        )
        assert len(again) == 1 and list(again[0]["embedding"]) == list(expected_vec)
        codes = spark.table(f"{prefix}_codes").filter(F.col("id") == dup_id)
        assert codes.count() == codes.select("m").distinct().count()
    finally:
        for suffix in ("_codes", "_vectors", "_meta", "_tombstones"):
            drop_managed_table(spark, f"{prefix}{suffix}")


def test_stream_cdc_into_scd2_zone_builds_time_travelable_history(spark, tmp_path):
    """The stream -> versioned-lakehouse -> time-travel chain: CDC
    micro-batches maintain an SCD-2 zone, read_zone_as_of reconstructs
    each epoch, replaying a micro-batch changes nothing, and an
    intra-batch double update keeps only the latest version."""
    from bigdata_rags_spark.io.maintenance import read_zone_as_of
    from bigdata_rags_spark.streaming.ingest import (
        cdc_upsert_zone_batch,
        stream_cdc_into_scd2_zone,
    )

    zone = str(tmp_path / "cdczone")
    src = str(tmp_path / "cdcsrc")
    cols = "k long, val string, ts string"
    b1 = spark.createDataFrame(
        [(1, "a", "2025-01-01"), (2, "b", "2025-01-01")], cols
    )
    # batch 2 carries an INTRA-batch double update for key 1: only the
    # latest ("a3") may become a version
    b2 = spark.createDataFrame(
        [(1, "a2", "2025-02-01"), (1, "a3", "2025-03-01"), (3, "c", "2025-03-01")],
        cols,
    )
    # deterministic two-batch sequencing (the test_watermark pattern):
    # batch 2 lands only after batch 1 fully processed — merge_scd2 is
    # arrival-order last-writer-wins, the CDC per-key-ordered contract
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(cols).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_cdc_into_scd2_zone(
        stream, zone, key="k", change_ts_col="ts", checkpoint=str(tmp_path / "ck")
    )
    try:
        q.processAllAvailable()
        b2.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    def snap(ts):
        return {r["k"]: r["val"] for r in read_zone_as_of(spark, zone, ts).collect()}

    # epoch reads: before b2's changes key 1 was "a"; after, "a3"
    assert snap("2025-01-15") == {1: "a", 2: "b"}
    final = snap("2025-12-31")
    assert final == {1: "a3", 2: "b", 3: "c"}
    hist = spark.read.parquet(zone).collect()
    vals_k1 = {r["val"] for r in hist if r["k"] == 1}
    assert "a2" not in vals_k1  # intra-batch compaction kept only the latest

    # replaying batch 2 (crashed-then-retried trigger) changes nothing
    before = sorted(map(tuple, hist))
    cdc_upsert_zone_batch(b2, zone, key="k", change_ts_col="ts")
    after = sorted(map(tuple, spark.read.parquet(zone).collect()))
    assert after == before


def _crawl_pages(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "lang", "source", "text"]).select(
        "doc_id",
        "lang",
        "source",
        F.concat(
            F.lit(
                "<html><head><style>p{color:red}</style></head><body><p>"
            ),
            F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )


@pytest.mark.slow  # ~34 s measured r17
def test_stream_curation_into_kept_store_equals_batch_increments(spark, tmp_path):
    """VERDICT r15 next #2 — streaming incremental curation: foreachBatch
    over two crawl micro-batches must leave the SAME kept store as the two
    sequential `curate_crawl_batch` calls (stream and batch increments are
    one code path), gates must actually fire across batches (batch 2's
    vs-store dup of a batch-1 keeper dies), and a replayed micro-batch
    converges to the identical store (partition-overwrite idempotence)."""
    from bigdata_rags_spark.streaming.ingest import (
        curate_crawl_batch,
        stream_pages_into_kept_store,
    )

    t_dup = "the quick fox and in of to is that now"
    rows1 = [
        (2, "en", "srcA", "the and of to in is it you that"),
        (4, "es", "srcA", "la que un ser no se de y en"),
        (6, "en", "srcA", t_dup),
        (8, "en", "srcB", "the and of kiwi mango in to is it cherry"),
        (10, "en", "srcB", "the and of lemon melon in to is it peach"),
        (12, "en", "srcB", "the and of pear lime in to is it maple"),
    ]
    rows2 = [
        (7, "en", "srcA", t_dup),  # vs-store exact dup of batch-1 keeper 6
        (11, "en", "srcA", "the and of river storm in to is it ember"),
        (13, "en", "srcB", "the and of mist dawn in to is it arrive"),
        (15, "zh", "srcA", "中文 文本 测试 数据 文档 示例 内容 样本 语料 资料"),
        (21, "en", "srcB", "the and of extra tail in to is it runs"),
    ]
    b1, b2 = _crawl_pages(spark, rows1), _crawl_pages(spark, rows2)

    # batch path: two sequential increments
    batch_store = str(tmp_path / "store_batch")
    curate_crawl_batch(b1, batch_store, 0)
    curate_crawl_batch(b2, batch_store, 1)

    # stream path: the same pages as two file-source micro-batches
    src = str(tmp_path / "pagesrc")
    stream_store = str(tmp_path / "store_stream")
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(b1.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_pages_into_kept_store(stream, stream_store, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        b2.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    def snap(path):
        return sorted(
            (r["doc_id"], r["lang"], r["source"], r["text"], r["batch_id"])
            for r in spark.read.parquet(path).collect()
        )

    streamed, batched = snap(stream_store), snap(batch_store)
    assert streamed == batched and len(streamed) > 0
    kept_ids = {t[0] for t in streamed}
    assert 7 not in kept_ids    # vs-store dedup fired across micro-batches
    assert 15 not in kept_ids   # langid gate fired inside a micro-batch
    assert 6 in kept_ids        # the batch-1 keeper the dup lost to
    assert any(t[4] == 1 for t in streamed)  # batch 2 contributed keepers

    # replay idempotence: a crashed-then-retried trigger re-runs batch 1
    # against a store that now contains BOTH partitions — it must re-curate
    # against everything-but-its-own partition and overwrite to the same rows
    curate_crawl_batch(b1, stream_store, 0)
    assert snap(stream_store) == streamed


def test_decayed_trending_reranks_recent_type(spark):
    """A type with fewer but RECENT events must outrank a type with more
    but old events on the decayed axis, while raw rank says the
    opposite; weights are the exact integer shift sum."""
    from bigdata_rags_spark.streaming.events import decayed_trending

    day = 86_400_000_000_000
    rows = (
        # 'old': 6 events, all 3 half-lives old -> 6 * (1e12 >> 3)
        [(i, 10 * day - 3 * day, "old") for i in range(6)]
        # 'fresh': 2 events at now -> 2 * 1e12
        + [(100 + i, 10 * day, "fresh") for i in range(2)]
    )
    ev = spark.createDataFrame(rows, ["event_id", "ts_ns", "event_type"])
    out = {r["event_type"]: r for r in decayed_trending(ev).collect()}
    assert out["old"]["n_events"] == 6 and out["fresh"]["n_events"] == 2
    assert out["fresh"]["decayed_weight"] == 2 * 10**12
    assert out["old"]["decayed_weight"] == 6 * (10**12 >> 3)
    assert out["fresh"]["decayed_rank"] == 1 and out["old"]["decayed_rank"] == 2
    assert out["old"]["raw_rank"] == 1 and out["fresh"]["raw_rank"] == 2
