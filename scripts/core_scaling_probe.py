#!/usr/bin/env python
"""Core-scaling probe over the bench's heavy set at PROBE scale (VERDICT
r16 #7).

At sf0.1 the driver's 8-core vs 32-core bench ratio is ~0.95 median across
184 queries — at that size the bench measures per-job fixed costs
(planning, Python worker startup, metastore), not executor parallelism, so
the scaling block carries no signal.  This probe times the top heavy
queries on the 10x synthetic zone (`scripts/scale_probe.py:build_zone` —
work-shape-preserving duplication), where per-task compute dominates fixed
costs, at whatever core count `$SPARK_GRAFT_CPUS` names.

Run it twice, serialized (CLAUDE.md bench rule):

    SPARK_GRAFT_CPUS=32 python scripts/core_scaling_probe.py
    SPARK_GRAFT_CPUS=8  python scripts/core_scaling_probe.py

Each run writes ``plans/r{N}/core_scaling_c{CPUS}.json`` (one warm-of-2
sample per query; build_zone is reused if present).  The 8c/32c ratio
table goes to SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/bdrs_scale10x")
ROUND = os.environ.get("SPARK_GRAFT_ROUND", "17")

# the shuffle/compute-bound heavy set (bench top-10 class at r16) — probe
# queries whose work scales with corpus volume, not per-job latency
QUERIES = [
    "text_hashed_idf_near_dups",
    "incremental_semantic_dedup",
    "semantic_dedup_cells",
    "incremental_minhash_dedup",
    "embedding_near_dup_pairs_lsh",
    "embedding_fuzzy_dedup_vectors",
    "langid_ngram_scores",
    "embedding_ivfpq_index_serve",
]


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from bigdata_rags_spark.queries.catalog import REGISTRY
    from bigdata_rags_spark.session import get_session
    from scripts.scale_probe import build_zone

    spark = get_session(
        "bdrs-core-scaling-probe",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(f"{WORK}/documents.parquet"):
        build_zone(spark)
        print(f"zone built at {WORK}", flush=True)

    def clear() -> None:
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        spark.catalog.clearCache()

    out: dict[str, float] = {}
    for name in QUERIES:
        spark.sparkContext.setJobDescription(f"core-probe: {name}")
        best = float("inf")
        for _ in range(2):  # pass 2 is warm; keep the steady-state one
            t0 = time.perf_counter()
            REGISTRY[name].spark(spark, WORK).write.mode("overwrite").format(
                "noop"
            ).save()
            best = min(best, time.perf_counter() - t0)
            clear()
        out[name] = round(best, 3)
        print(f"{name}: {best:.2f}s @ {cpus} cores", flush=True)

    path = os.path.join(REPO, "plans", f"r{ROUND}", f"core_scaling_c{cpus}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"cpus": int(cpus), "zone": WORK, "warm_sec": out}, fh, indent=1)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
