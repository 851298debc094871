"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value hash; ``scripts/driver_sim.py`` replays that check locally).

All real definitions live in ``bigdata_rags_spark.queries.catalog`` — one
entry per implemented operator from SURVEY.md §2 plus the extension tiers.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_rags_spark.queries.catalog import REGISTRY  # noqa: E402

_SMOKE_DIR = "/root/testdata/sf0.001"
_FLAGSHIP = "flagship_revenue_by_nation"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY[_FLAGSHIP].spark(spark, _SMOKE_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2 + extensions), in
    registration order."""
    return {name: spec.spark for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for every SQL-expressible query; omitted keys
    get the driver's weaker rows-only check."""
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}
