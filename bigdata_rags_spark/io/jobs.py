"""Overlap independent driver actions (guide §2.6 "Stragglers and idle
capacity").

Spark's scheduler happily runs several jobs at once inside one application;
actions are only sequential because driver code calls them sequentially.
When a caller must persist several INDEPENDENT tables (the ETL's 18 raw
extracts and 3 stage pipelines, an index's codes + vectors + meta, the
MinHash dedup store's signatures + meta), running the writes from a small
thread pool lets the next write's tasks back-fill executors freed by the
current write's straggler tail — at fixture scale it additionally hides the
fixed per-write latency (job submit, metastore create, commit) that
dominates small writes.

Width: ``min(len(thunks), sc.defaultParallelism)`` driver threads.  More
jobs in flight than cores only queue in the scheduler while their plans
compete for the driver (the ETL's extract at 4 cores read 14.4 CPU-s with
18 threads against 13.05 with 4, one sample each).  FIFO scheduling (the
default) keeps the first submitted job prioritized, which is exactly the
back-fill behaviour wanted.

Job group: each thunk runs under ``pyspark.inheritable_thread_target``, so
its jobs carry the caller's job group, job tags and description.  A bare
pool thread starts with empty local properties: its jobs would be invisible
to ``testing.spark_jobs`` (it read 0 for three ``count()`` thunks that run
6 jobs), to job-tag cancellation and to any group-based attribution.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def run_overlapped(*thunks: Callable[[], object]) -> None:
    """Run the thunks on at most ``defaultParallelism`` driver threads and
    join them all; the first raised exception (in thunk order) propagates
    only after every thunk has finished, so no write is silently abandoned
    mid-flight."""
    if not thunks:
        return
    # wrapping clones this thread's local properties (group, description,
    # scheduler pool); passing the session carries its job tags too
    session = SparkSession.active()
    inherit = inheritable_thread_target(session)
    width = min(len(thunks), session.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=width) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        errs = []
        for f in futures:
            try:
                f.result()
            except Exception as e:  # noqa: BLE001 — re-raised below
                errs.append(e)
        if errs:
            raise errs[0]
