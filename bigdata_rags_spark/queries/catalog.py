"""Query catalog: every implemented operator exposed as (spark fn, oracle SQL).

Each entry is one operator/query shape from SURVEY.md §2 (reference tier) or
the mandated extension tiers, realized over the driver's TPC-H-ish testdata
(FIXTURES.md §C maps reference semantics onto these tables).

Float-determinism discipline (SURVEY.md §7.4 hazard 4): aggregate sums/avgs
over doubles are rounded *inside* the aggregation step in BOTH engines, and
every derived ratio is computed from those already-rounded values — identical
inputs + identical IEEE ops -> identical doubles, so the driver's value-hash
matches exactly.  Every ratio is NULLIF-guarded on both sides (hazard 2).
Timestamps are emitted as formatted strings on both sides (engine-neutral).

DECIMAL-TIE hazard (found at sf0.1, round 2): even on IDENTICAL input
doubles, Spark and DuckDB ROUND() disagree when the value sits on an exact
decimal tie — and some formulas produce ties SYSTEMATICALLY: halving a
6-decimal value yields a 7th-decimal 5 whenever the 6th digit is odd, and
sum/n for n = 2^a*5^b (e.g. avg of 32 rows) terminates in a 5.  Rules:
never ROUND(x/2, p) where x already has p decimals (coarsen one input
first so the exact result has < p decimals: see blended_price), and
compute averages with integer micro-unit floor division
(``cents * 10^4 div n``: see events_tumbling_hourly) instead of
ROUND(AVG(..), 6).

DOUBLE->BIGINT CAST hazard (round 13, found in eval_best_of_n): DuckDB
ROUNDS half-to-even when casting DOUBLE to BIGINT; Spark TRUNCATES toward
zero.  Never bare-cast a float expression to an integer type in a parity
formula — wrap the SAME explicit FLOOR() (or ROUND(), chosen once) on
both sides.  CEIL on integers: ``(a + b - 1) DIV b`` for a >= 0 — the
negate-divide-negate trick FLOORS under Spark's truncating div.

NESTED-CTE MATERIALIZATION hazard (round 13, rag_capstone_retrieval):
DuckDB inlines a CTE once per reference, so a greedy/iterative CTE chain
referencing an expensive subquery CTE (a full IVFPQ replay) re-evaluates
it per reference — measured as a >10 min hang.  Mark expensive
multi-referenced CTEs ``AS MATERIALIZED`` in the oracle; purely physical,
values unchanged.

INTEGER-DIVISION hazard (round 8): Spark's ``div`` truncates toward zero
while DuckDB's ``//`` floors — they agree ONLY when the numerator is
non-negative.  Every integer-exact formula must keep operands non-negative
(offset-before-divide for means: ``(raw + 500000*n) div n - 500000``; fold
``|z| + z`` into the numerator for signed squashes — see
quality_classifier_scores and near_dup_pagerank).  This is what makes
iterative algorithms (PageRank) and learned scorers value-hash checkable.

DOT-PRODUCT-FOLD dependency (ADVICE r5): the LSH/IVF oracles assume DuckDB's
``list_dot_product`` accumulates left-to-right in float64 exactly like
Spark's ``aggregate(zip_with(..), 0.0, acc+x)`` fold — true of the pinned
DuckDB build, but a future version switching to pairwise/SIMD summation
could flip a sign (LSH bucket bit) or a cell ranking (IVF probe set) where
a projection sits within ulps of the decision boundary.
``tests/test_llm_ops.py::test_lsh_and_ivf_projections_have_numeric_margin``
guards this: on the driver fixture every plane projection is bounded away
from 0 and every IVF cell ranking has a real gap, so ANY summation order
reaching float64-faithful accuracy produces the same buckets/probes.

ROUND-11 parity techniques (reusable):
- RATIONAL ARGMAX (wordpiece_merge_training): ordering by a float ratio
  a/(b*c) is 1-ulp-fragile; quantize to ``(a * SCALE) DIV (b * c)`` on
  bigints (SCALE = 10^9) — floor division agrees exactly between engines
  on non-negative operands, ties fall to integer tiebreaks, and an
  up-front guard raises before ``a * SCALE`` can overflow under ANSI.
- EXACT floor(log2) / floor(sqrt) WITHOUT float logs: ``length(bin(x))-1``
  is floor(log2(x)) exactly (the ceil-pow2 buckets of
  `operators/sampling.py:length_bucket_batching`); ``floor(sqrt(bigint))``
  IS cross-engine exact because IEEE sqrt is correctly rounded for
  x < 2^53 (domain_temperature_mixing) — but log/log2 are NOT correctly
  rounded, never use them.
- PACKED-KEY WINDOW ARGMIN: to select "min value, rightmost position on
  ties" with ONE window MIN in both engines, pack
  ``val * 2^24 + (2^24 - 1 - pos)`` into a bigint; decode with DIV/%.
  Works for any argmin-with-deterministic-tiebreak over a window.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_rags_spark.io.readers import read_testdata

TIER_REFERENCE = "reference"
TIER_EXTENSION = "extension"
TIER_LLM = "llm"
TIER_STREAMING = "streaming"


@dataclasses.dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tier: str


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tier: str = TIER_REFERENCE):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # a registered function must be NAMED for its key (``_q`` suffix
        # allowed for library-name clashes): guards the dangling-decorator
        # bug where an insert lands between @query(...) and its def and
        # silently registers the WRONG function under the key (found in
        # r13 — a query briefly served its incremental variant's frame)
        assert fn.__name__ in (name, f"{name}_q"), (
            f"query {name!r} registered with mismatched function "
            f"{fn.__name__!r} — dangling decorator?"
        )
        REGISTRY[name] = QuerySpec(name, fn, oracle, tier)
        return fn

    return deco


def _nz(col: F.Column) -> F.Column:
    """NULLIF(x, 0) as double — division guard matching the oracle."""
    return F.nullif(col.cast("double"), F.lit(0.0))


# ===========================================================================
# Reference tier — the reference's relational core recast onto oracle tables
# ===========================================================================


@query(
    "flagship_revenue_by_nation",
    oracle="""
WITH agg AS (
  SELECT r_name, n_name,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         COUNT(DISTINCT o_orderkey) AS num_orders,
         COUNT(*) AS num_items,
         ROUND(SUM(l_quantity), 2) AS total_qty,
         ROUND(AVG(l_discount), 6) AS avg_discount
  FROM lineitem
  JOIN orders   ON l_orderkey  = o_orderkey
  JOIN customer ON o_custkey   = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT r_name, n_name, revenue, num_orders, num_items, total_qty, avg_discount,
       ROUND(revenue   / NULLIF(num_orders, 0), 6) AS revenue_per_order,
       ROUND(total_qty / NULLIF(num_items, 0),  6) AS qty_per_item
FROM agg
""",
)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's signature shape in one query (SURVEY.md §7.2): multi-way
    inner equi-join (R2) -> group-by sum (R1) -> aliased projection (R5) ->
    derived ratio metrics (R7).  Reference cites: joins dag-transform.py:171-181,
    agg :166-169, metrics :205-236.

    Scale notes: nation/region are broadcast (dimension-sized at any SF); the
    lineitem⋈orders and orders⋈customer joins shuffle on their keys and AQE
    handles skew; aggregation is partial+final so the shuffle after the join
    carries one row per (region, nation) per partition.
    """
    t = read_testdata(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    # two-phase rollup instead of a mixed distinct/non-distinct aggregate:
    # grouping by (keys, o_orderkey) first computes COUNT(DISTINCT o_orderkey)
    # as a plain COUNT(*) in phase 2 and avoids Catalyst's Expand duplication
    # of every joined row (measured ~2x at sf0.1)
    per_order = joined.groupBy("r_name", "n_name", "o_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.count(F.lit(1)).alias("items"),
        F.sum("l_quantity").alias("qty"),
        F.sum("l_discount").alias("disc"),
    )
    agg = per_order.groupBy("r_name", "n_name").agg(
        F.round(F.sum("rev"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("num_orders"),
        F.sum("items").alias("num_items"),
        F.round(F.sum("qty"), 2).alias("total_qty"),
        F.round(F.sum("disc") / F.sum("items"), 6).alias("avg_discount"),
    )
    return agg.select(
        "*",
        F.round(F.col("revenue") / _nz(F.col("num_orders")), 6).alias("revenue_per_order"),
        F.round(F.col("total_qty") / _nz(F.col("num_items")), 6).alias("qty_per_item"),
    )


@query(
    "rollup_sum_by_supplier",
    oracle="""
SELECT l_suppkey,
       CAST(COUNT(*) AS BIGINT)            AS num_items,
       ROUND(SUM(l_quantity), 2)           AS total_qty,
       ROUND(SUM(l_extendedprice), 2)      AS total_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS total_charge
FROM lineitem
GROUP BY l_suppkey
""",
)
def rollup_sum_by_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 in isolation: the reference's player->team groupBy-sum rollup
    (dag-transform.py:166-169) as lineitem->supplier.  Partial aggregation
    means the shuffle carries |suppliers| rows per partition, not |lineitem|.
    """
    li = read_testdata(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("num_items"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
        ).alias("total_charge"),
    )


@query(
    "projection_rename_quoted",
    oracle="""
SELECT c_custkey                       AS "Customer Key",
       c_name                          AS "Customer Name",
       c_mktsegment                    AS "Market Segment",
       ROUND(c_acctbal, 2)             AS "Account Balance ($)",
       ROUND(c_acctbal / 100.0, 6)     AS "Balance Ratio (%)"
FROM customer
""",
)
def projection_rename_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5/R6: projection + rename with the reference's hazardous column-name
    style — spaces, parens, '%' (reference dag-transform.py:182-201; name
    hazard noted at :190).  Backtick discipline on the Spark side, double
    quotes on the oracle side (SURVEY.md §7.4 hazard 1)."""
    c = read_testdata(spark, sf_dir, "customer")["customer"]
    projected = c.select(
        F.col("c_custkey").alias("Customer Key"),
        F.col("c_name").alias("Customer Name"),
        F.col("c_mktsegment").alias("Market Segment"),
        F.round(F.col("c_acctbal"), 2).alias("Account Balance ($)"),
    )
    return projected.withColumn(
        "Balance Ratio (%)", F.round(F.expr("`Account Balance ($)` / 100.0"), 6)
    )


# ---------------------------------------------------------------------------
# Tier modules register themselves on import (each uses @query).
# Imported last so the registry/decorator exist; keep at module bottom.
# ---------------------------------------------------------------------------

from bigdata_rags_spark.queries import reference_shapes as _reference_shapes  # noqa: E402,F401
from bigdata_rags_spark.queries import extensions as _extensions  # noqa: E402,F401
from bigdata_rags_spark.queries import llm_ops as _llm_ops  # noqa: E402,F401
from bigdata_rags_spark.queries import streaming_batch as _streaming_batch  # noqa: E402,F401
from bigdata_rags_spark.queries import retrieval_ops as _retrieval_ops  # noqa: E402,F401
