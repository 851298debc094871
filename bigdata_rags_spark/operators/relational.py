"""The reference's relational core as reusable DataFrame -> DataFrame ops.

Maps SURVEY.md §2.2:
- R1  rollup_sum       — groupBy(key).agg(sum...alias) (reference dag-transform.py:166-169)
- R2-R4 multi_join     — chained inner equi-joins off one anchor
                         (reference dag-transform.py:171-181, 262-268, 339-342)
- R5/R6 project_rename — qualified select + alias renames (reference :182-201)
- R7  derive_metrics   — withColumn(name, expr(arithmetic)) metric family
                         (reference :205-236, :287-318, :355-387)

Everything stays declarative: Catalyst gets whole plans (joins are
auto-broadcast under the threshold or hinted explicitly; aggregation is
partial+final hash agg; arithmetic is codegen'd).  No UDFs anywhere.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rollup_sum(
    df: DataFrame, key: str | list[str], sums: Mapping[str, str]
) -> DataFrame:
    """R1: hash aggregation — sum each value column, aliased.

    ``sums`` maps output alias -> input column (reference aliases the summed
    player columns to new team-grain names, dag-transform.py:166-169).
    Spark executes this as partial (map-side) + final hash agg, so the
    shuffle carries one row per key per partition — the scalable shape.
    """
    keys = [key] if isinstance(key, str) else list(key)
    aggs = [F.sum(F.col(src)).alias(alias) for alias, src in sums.items()]
    return df.groupBy(*keys).agg(*aggs)


def multi_join(
    anchor: DataFrame,
    anchor_alias: str,
    others: Mapping[str, DataFrame],
    key: str,
    how: str = "inner",
    broadcast_others: bool = False,
) -> DataFrame:
    """R2-R4: star-style chained equi-join of N inputs on a shared key.

    The reference chains ``.join(df.alias(x), col("bc.Team")==col("x.Team"))``
    (dag-transform.py:171-181); inner-join drop semantics (keys missing from
    any input vanish) are part of the contract and pinned by tests.

    ``broadcast_others=True`` hints every non-anchor input as a broadcast
    side — right for dimension-sized inputs (the reference's are ~20 rows);
    at scale, leave False and let AQE decide from runtime stats.

    Note: chaining N inner joins on the same key gives Catalyst freedom to
    reorder; with small sides broadcast, the physical plan is N broadcast
    hash joins over a single pass of the anchor — no shuffle at all.
    """
    out = anchor.alias(anchor_alias)
    for alias, df in others.items():
        side = df.alias(alias)
        right = F.broadcast(side) if broadcast_others else side
        out = out.join(right, F.col(f"{anchor_alias}.{key}") == F.col(f"{alias}.{key}"), how)
    return out


def project_rename(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """R5/R6: projection with renames; ``mapping`` is output name -> input
    (possibly alias-qualified) column.  Disambiguates shared names the way the
    reference does post-join (``Matches``/``Conversion Rate (%)`` appear in
    several inputs, dag-transform.py:182-201).  Catalyst prunes every column
    not referenced here all the way down to the scan."""
    return df.select(*[F.col(src).alias(out) for out, src in mapping.items()])


def safe_div(num: Column | str, den: Column | str) -> Column:
    """Ratio with the reference's pre-ANSI semantics (x/0 -> NULL), expressed
    portably as x / NULLIF(y, 0) so it holds under ANSI-on sessions too and
    mirrors the DuckDB oracle exactly (SURVEY.md §2.2 hazard note)."""
    n = F.col(num) if isinstance(num, str) else num
    d = F.col(den) if isinstance(den, str) else den
    return n / F.nullif(d, F.lit(0))


def derive_metrics(df: DataFrame, formulas: Mapping[str, str]) -> DataFrame:
    """R7: add derived metric columns from SQL arithmetic expressions.

    ``formulas`` maps new column name -> SQL expression string over existing
    (backtick-quoted where needed) columns — the reference's 30 metrics are
    shipped as data in ``functions.metrics`` with NULLIF guards already
    applied.  A single ``select`` keeps this one projection node (the
    reference stacks 10 ``withColumn`` calls per family, which costs one
    analysis pass each; reference dag-transform.py:205-236).
    """
    return df.select("*", *[F.expr(sql).alias(name) for name, sql in formulas.items()])


def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Extension: deterministic top-k.  Spark plans orderBy+limit as
    TakeOrderedAndProject — each partition keeps k rows, the driver merges
    k*partitions rows — no global sort, safe at any scale for small k.
    Callers must make ``order_by`` a total order (include a unique key) or
    ties make the result nondeterministic."""
    return df.orderBy(*order_by).limit(k)
