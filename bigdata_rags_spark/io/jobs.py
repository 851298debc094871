"""Overlap independent driver actions (guide §2.6 "Stragglers and idle
capacity").

Spark's scheduler happily runs several jobs at once inside one application;
actions are only sequential because driver code calls them sequentially.
When a builder must persist several INDEPENDENT tables (an index's codes +
vectors + meta, the MinHash dedup store's signatures + meta), running the
writes from a small thread pool lets the next write's tasks back-fill
executors freed by the current write's straggler tail — at fixture scale it
additionally hides the fixed per-write latency (job submit, metastore
create, commit) that dominates small bucketed writes.

FIFO scheduling (the default) keeps the first job prioritized, which is
exactly the back-fill behaviour wanted; 2-4 jobs in flight is plenty.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor


def run_overlapped(*thunks: Callable[[], object]) -> None:
    """Run each thunk on its own driver thread and join them all; the first
    raised exception propagates (every future is still joined first, so no
    write is silently abandoned mid-flight)."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        errs = []
        for f in futures:
            try:
                f.result()
            except Exception as e:  # noqa: BLE001 — re-raised below
                errs.append(e)
        if errs:
            raise errs[0]
