"""Oracle-differential test harness (mirrors the driver's t2 check).

Runs a catalog query on Spark and its oracle SQL on DuckDB over the same
parquet fixtures, then compares row count, column set, and an
order-insensitive canonical form of every value — a local replica of the
driver's CORRECTNESS gate so parity failures surface before a round ends.
``spark_jobs`` counts the Spark jobs a call launches, for job-count pins.
"""

from __future__ import annotations

import datetime as dt
import math
import uuid

import duckdb
import pandas as pd

ORACLE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duckdb_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in ORACLE_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return con.execute(sql).df()
    finally:
        con.close()


def _canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            # normalize -0.0 and integral floats so 3.0 == 3.0 across engines
            return f"f:{int(v)}"
        return f"f:{v!r}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (dt.datetime, pd.Timestamp)):
        return f"t:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, dt.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return f"s:{v}"


def canonical_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for row in pdf.itertuples(index=False, name=None):
        rows.append(tuple(_canon_value(v) for v in row))
    rows.sort()
    return rows


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty == parity)."""
    problems: list[str] = []
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"column mismatch: spark={s_cols} oracle={o_cols}")
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_rows, o_rows = canonical_rows(spark_pdf), canonical_rows(oracle_pdf)
    if s_rows != o_rows:
        diff_s = [r for r in s_rows if r not in set(o_rows)][:5]
        diff_o = [r for r in o_rows if r not in set(s_rows)][:5]
        problems.append(
            f"value mismatch ({len(diff_s)}+ rows differ); "
            f"spark-only sample={diff_s} oracle-only sample={diff_o}; cols={s_cols}"
        )
    return problems


def spark_jobs(spark, thunk) -> int:
    """Number of Spark jobs ``thunk()`` launches from this thread, counted
    under a fresh job group through the status tracker (the caller's group
    is restored afterwards)."""
    sc = spark.sparkContext
    group = f"spark_jobs-{uuid.uuid4().hex}"
    previous = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", previous)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def run_parity(spec, spark, sf_dir: str) -> list[str]:
    """Execute one QuerySpec both ways and diff."""
    spark_pdf = spec.spark(spark, sf_dir).toPandas()
    oracle_pdf = duckdb_oracle(spec.oracle, sf_dir)
    return compare_frames(spark_pdf, oracle_pdf)
