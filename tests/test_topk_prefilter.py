"""Partition-local pre-top-k (similarity/topk.py — VERDICT r12 #2).

The r12 probe measured the per-query window EXCHANGE as the dominant cost
of every broadcast-sweep ANN plan; these tests pin the fix: the prefilter
keeps a provable superset of the global top-k (so results are
bit-identical under any partitioning), actually shrinks the rows entering
the global window, and appears in the physical plan of every registered
sweep query it protects.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from bigdata_rags_spark.queries.catalog import REGISTRY
from bigdata_rags_spark.similarity.topk import local_topk_prefilter


def _plan(df, mode="formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _global_topk(df, keep):
    w = Window.partitionBy("g").orderBy(F.col("score").desc(), F.col("item"))
    return {
        tuple(r)
        for r in df.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= keep)
        .collect()
    }


def test_prefilter_is_hash_invariant_under_any_partitioning(spark):
    # deterministic synthetic ranking table: 6 groups x 400 items, a score
    # with deliberate cross-group ties (item % 37) so the id tiebreak works
    df = (
        spark.range(2400)
        .select(
            (F.col("id") % 6).alias("g"),
            F.col("id").alias("item"),
            (F.col("id") % 37).cast("double").alias("score"),
        )
    )
    expected = _global_topk(df, 10)
    for parts in (1, 7, 32):
        pre = local_topk_prefilter(
            df.repartition(parts),
            ["g"],
            [("score", False), ("item", True)],
            10,
        )
        assert _global_topk(pre, 10) == expected, f"diverged at {parts} partitions"


def test_prefilter_shrinks_window_input(spark):
    # the whole point: rows entering the global window drop from |G| x N
    # to <= |G| x partitions x keep
    df = (
        spark.range(2400)
        .select(
            (F.col("id") % 6).alias("g"),
            F.col("id").alias("item"),
            (F.col("id") % 37).cast("double").alias("score"),
        )
        .repartition(8)
    )
    kept = local_topk_prefilter(
        df, ["g"], [("score", False), ("item", True)], 10
    ).count()
    assert kept <= 6 * 8 * 10  # keys x partitions x keep
    assert kept < 2400  # strictly fewer rows than the full sweep


def test_prefilter_keeps_fewer_than_group_rows_when_group_spans_partitions(spark):
    # one group spread over many partitions still prunes: each partition
    # contributes at most `keep`
    df = spark.range(1000).select(
        F.lit(0).alias("g"), F.col("id").alias("item"), F.col("id").cast("double").alias("score")
    )
    kept = local_topk_prefilter(
        df.repartition(4), ["g"], [("score", False), ("item", True)], 5
    ).count()
    assert kept <= 4 * 5


def test_sweep_queries_plan_the_local_prefilter(spark, sf_smoke):
    """Every protected registered sweep must show MapInPandas feeding the
    per-query window's exchange — i.e. the prune happens BEFORE the
    shuffle, not after."""
    for name in (
        "embedding_cosine_topk",
        "embedding_hard_negatives",
    ):
        p = _plan(REGISTRY[name].spark(spark, sf_smoke))
        assert "MapInPandas" in p, f"{name} lost the local pre-top-k:\n{p[:1500]}"
        # the per-query window exchange still exists (it is what the prune
        # feeds with ~N/keep fewer rows)
        assert "hashpartitioning(query_id" in p, name


def test_prefilter_raises_on_nan_or_null_scores(spark):
    """ADVICE r13: pandas sorts NaN/None last regardless of direction while
    Spark windows order NULL first under asc / NaN largest — a silent prune
    of a would-be winner.  The contract is non-null non-NaN order columns;
    violations must fail LOUDLY, not corrupt the top-k."""
    import pytest

    for bad in (float("nan"), None):
        df = spark.createDataFrame(
            [(0, 1, 5.0), (0, 2, bad), (0, 3, 1.0)],
            "g long, item long, score double",
        )
        pre = local_topk_prefilter(
            df, ["g"], [("score", False), ("item", True)], 2
        )
        with pytest.raises(Exception, match="NULL/NaN"):
            pre.collect()


def test_prefilter_skips_when_keep_times_partitions_covers_n(spark):
    """VERDICT r13 #8: with n_rows known and keep x P >= N the prune cannot
    shrink the exchange — the call must return the frame unchanged (no
    MapInPandas stage), so small-N library callers don't pay a
    pure-overhead Arrow hop."""
    df = (
        spark.range(100)
        .select(
            (F.col("id") % 4).alias("g"),
            F.col("id").alias("item"),
            (F.col("id") % 7).cast("double").alias("score"),
        )
        .repartition(8)
    )
    order = [("score", False), ("item", True)]
    skipped = local_topk_prefilter(df, ["g"], order, 20, n_rows=100)
    assert "MapInPandas" not in _plan(skipped)  # 20 * 8 >= 100 -> no-op
    applied = local_topk_prefilter(df, ["g"], order, 2, n_rows=100)
    assert "MapInPandas" in _plan(applied)  # 2 * 8 < 100 -> prune
    # and the no-op path is value-identical to the input
    assert _global_topk(skipped, 20) == _global_topk(df, 20)
