"""Property-based tests (SURVEY.md §5.4): algebraic invariants that must
hold for arbitrary inputs, checked with hypothesis on tiny frames."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bigdata_rags_spark.operators.relational import multi_join, rollup_sum

KEYS = st.sampled_from(["a", "b", "c", "d"])
ROWS = st.lists(
    st.tuples(KEYS, st.integers(-1000, 1000), st.floats(0, 100, allow_nan=False)),
    min_size=1,
    max_size=25,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(rows=ROWS)
@_SETTINGS
def test_rollup_sum_matches_pandas(spark, rows):
    df = spark.createDataFrame(rows, "k string, x long, y double")
    got = {
        r["k"]: (r["sx"], r["sy"])
        for r in rollup_sum(df, "k", {"sx": "x", "sy": "y"}).collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "x", "y"])
    want = pdf.groupby("k").agg(sx=("x", "sum"), sy=("y", "sum"))
    assert set(got) == set(want.index)
    for k, (sx, sy) in got.items():
        assert sx == want.loc[k, "sx"]
        assert math.isclose(sy, want.loc[k, "sy"], rel_tol=1e-9, abs_tol=1e-9)


@given(
    keys_a=st.sets(KEYS, min_size=1),
    keys_b=st.sets(KEYS, min_size=1),
    keys_c=st.sets(KEYS, min_size=1),
)
@_SETTINGS
@pytest.mark.slow  # ~12 s measured r17
def test_multi_join_keeps_exactly_key_intersection(spark, keys_a, keys_b, keys_c):
    """Inner multi-join output keys == intersection of all input key sets
    (the reference's drop semantics, dag-transform.py:171-181)."""
    mk = lambda ks, col: spark.createDataFrame([(k, 1) for k in ks], ["Team", col])
    out = multi_join(
        mk(keys_a, "x"), "a", {"b": mk(keys_b, "y"), "c": mk(keys_c, "z")}, key="Team"
    )
    got = {r["a.Team"] if "a.Team" in r else r["Team"] for r in
           out.select("a.Team").collect()}
    assert got == (keys_a & keys_b & keys_c)


@given(rows=ROWS, scale=st.integers(2, 9))
@_SETTINGS
def test_ratio_metrics_scale_invariance(spark, rows, scale):
    """x/y is invariant under scaling both numerator and denominator —
    the property every 'per match' reference metric relies on."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "k string, x long, y double")
    base = df.select(
        (F.col("x") / F.nullif(F.col("y"), F.lit(0.0))).alias("r")
    ).collect()
    scaled = df.select(
        ((F.col("x") * scale) / F.nullif(F.col("y") * scale, F.lit(0.0))).alias("r")
    ).collect()
    for b, s in zip(base, scaled):
        if b["r"] is None:
            assert s["r"] is None
        else:
            assert math.isclose(b["r"], s["r"], rel_tol=1e-9)

@given(
    vec=st.lists(
        st.floats(-10, 10, allow_nan=False, allow_infinity=False, width=32),
        min_size=2,
        max_size=16,
    )
)
@_SETTINGS
def test_int8_quantization_roundtrip_error_bound(spark, vec):
    """For any vector: codes within [-127,127] and reconstruction error
    bounded by scale/2 per component (absmax symmetric quantization)."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.functions.vectors import as_double_array

    df = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<float>")
    s = df.select("vec_id", as_double_array(F.col("embedding")).alias("v")).withColumn(
        "scale", F.array_max(F.transform("v", F.abs)) / F.lit(127.0)
    )
    row = (
        s.withColumn(
            "codes",
            F.transform(
                "v", lambda x: F.round(x / F.nullif(F.col("scale"), F.lit(0.0))).cast("int")
            ),
        )
        .collect()[0]
    )
    if row["scale"] == 0:  # all-zero vector: nothing to quantize
        return
    assert all(-127 <= c <= 127 for c in row["codes"])
    for x, c in zip(row["v"], row["codes"]):
        assert abs(x - c * row["scale"]) <= row["scale"] / 2 + 1e-12


@given(frac=st.floats(0.0, 1.0), n=st.integers(100, 2000))
@_SETTINGS
def test_hash_sample_fraction_and_subset_invariants(spark, frac, n):
    """Deterministic sampling: fraction within binomial bounds, and a
    smaller fraction's sample is a SUBSET of a larger one (nested samples —
    the property RNG sampling does not have)."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.operators.sampling import hash_sample

    df = spark.range(n)
    ids = {r["id"] for r in hash_sample(df, F.col("id"), frac).collect()}
    # binomial 5-sigma bound
    sigma = (n * frac * (1 - frac)) ** 0.5
    assert abs(len(ids) - n * frac) <= 5 * sigma + 1
    half = {r["id"] for r in hash_sample(df, F.col("id"), frac / 2).collect()}
    assert half <= ids


# --- zone-maintenance DataFrame cores vs python references ----------------

_MAINT_KEYS = st.integers(0, 8)
_MAINT_OLD = st.lists(
    st.tuples(_MAINT_KEYS, st.integers(0, 5)), min_size=0, max_size=12,
    unique_by=lambda t: t[0],
)
_MAINT_NEW = st.lists(
    st.tuples(_MAINT_KEYS, st.integers(0, 5)), min_size=0, max_size=12,
    unique_by=lambda t: t[0],
)


@given(old=_MAINT_OLD, new=_MAINT_NEW)
@_SETTINGS
def test_snapshot_diff_matches_python_reference(spark, old, new):
    from bigdata_rags_spark.io.maintenance import snapshot_diff

    schema = "k long, v long"
    got = {
        r["k"]: r["status"]
        for r in snapshot_diff(
            spark.createDataFrame(old, schema), spark.createDataFrame(new, schema), "k"
        ).collect()
    }
    od, nd = dict(old), dict(new)
    want = {}
    for k in set(od) | set(nd):
        if k not in od:
            want[k] = "added"
        elif k not in nd:
            want[k] = "removed"
        elif od[k] != nd[k]:
            want[k] = "changed"
        else:
            want[k] = "unchanged"
    assert got == want


@given(old=_MAINT_OLD, new=_MAINT_NEW)
@_SETTINGS
def test_upsert_apply_matches_python_reference(spark, old, new):
    """Winner per key = the updates row (no version col): existing keys
    overwritten, new keys inserted, untouched keys passed through."""
    from bigdata_rags_spark.io.maintenance import upsert_apply

    schema = "k long, v long"
    got = {
        r["k"]: r["v"]
        for r in upsert_apply(
            spark.createDataFrame(old, schema), spark.createDataFrame(new, schema), "k"
        ).collect()
    }
    want = {**dict(old), **dict(new)}
    assert got == want


@given(old=_MAINT_OLD, new=_MAINT_NEW)
@_SETTINGS
@pytest.mark.slow  # ~20 s measured r17
def test_scd2_apply_invariants(spark, old, new):
    """After two merges: exactly one current row per key; changed keys have
    a closed first version whose valid_to equals the new valid_from;
    unchanged keys keep their original version untouched."""
    from bigdata_rags_spark.io.maintenance import scd2_apply

    schema = "k long, v long, ts long"
    b1 = spark.createDataFrame([(k, v, 1) for k, v in old], schema)
    b2 = spark.createDataFrame([(k, v, 2) for k, v in new], schema)
    hist = scd2_apply(scd2_apply(None, b1, "k", "ts"), b2, "k", "ts").collect()
    od, nd = dict(old), dict(new)
    cur = {r["k"]: r for r in hist if r["__is_current"]}
    closed = {r["k"]: r for r in hist if not r["__is_current"]}
    assert len(cur) == len(set(od) | set(nd))
    assert len([r for r in hist if r["__is_current"]]) == len(cur)
    for k in set(od) | set(nd):
        if k in od and (k not in nd or nd[k] == od[k]):
            assert cur[k]["v"] == od[k] and cur[k]["__valid_from"] == 1
            assert cur[k]["__valid_to"] is None
        else:
            assert cur[k]["v"] == nd[k] and cur[k]["__valid_from"] == 2
        if k in od and k in nd and nd[k] != od[k]:
            assert closed[k]["v"] == od[k] and closed[k]["__valid_to"] == 2
        else:
            assert k not in closed
