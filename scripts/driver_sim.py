"""Driver-sim verify gate (see .claude/skills/verify/SKILL.md).

Replicates the round driver's correctness pass: a PLAIN SparkSession (Spark 4
=> ANSI ON, not our session.py), entry() smoke, then every queries() entry vs
its oracle_sql() DuckDB mirror at sf0.01.  Exits non-zero on any mismatch.

Usage: python scripts/driver_sim.py [name-substring ...]
"""

from __future__ import annotations

import importlib.util
import os
import sys

# the checkout this script lives in, so a run verifies its own code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    spec = importlib.util.spec_from_file_location("__spark_entry__", f"{REPO}/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    # Python workers unpickle library functions too: point them at this
    # checkout, whatever directory the script runs from
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (REPO, os.environ.get("PYTHONPATH"))))
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, REPO)
    from bigdata_rags_spark.testing import compare_frames, duckdb_oracle

    filters = sys.argv[1:]
    qs, osql = mod.queries(), mod.oracle_sql()
    if not filters:
        print("ENTRY rows:", len(mod.entry(spark).collect()))
    bad = 0
    for name in qs:
        if filters and not any(f in name for f in filters):
            continue
        sdf = qs[name](spark, "/root/testdata/sf0.01").toPandas()
        if name in osql:
            probs = compare_frames(sdf, duckdb_oracle(osql[name], "/root/testdata/sf0.01"))
            if probs:
                bad += 1
                print(f"{name} MISMATCH {probs}")
            else:
                print(f"{name} PARITY {len(sdf)}")
        else:
            print(f"{name} rows-only: {len(sdf)}")
    print("MISMATCHES:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
