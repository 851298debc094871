"""``io/jobs.run_overlapped``: every thunk runs, errors surface after all
of them finish, the pool is bounded by the session's parallelism, and the
thunks' Spark jobs carry the caller's job group and tags."""

from __future__ import annotations

import threading
import time

import pytest

from bigdata_rags_spark.io.jobs import run_overlapped
from bigdata_rags_spark.testing import spark_jobs


def test_every_thunk_runs(spark):
    done: list[int] = []
    run_overlapped(*[lambda i=i: done.append(i) for i in range(10)])
    assert sorted(done) == list(range(10))


def test_first_error_is_raised_after_every_thunk_finishes(spark):
    finished: list[int] = []

    def fail(exc: Exception, delay: float):
        def thunk():
            time.sleep(delay)
            raise exc

        return thunk

    def slow(i: int):
        def thunk():
            time.sleep(0.2)
            finished.append(i)

        return thunk

    with pytest.raises(ValueError, match="first"):
        run_overlapped(
            fail(ValueError("first"), 0.0), fail(KeyError("second"), 0.1), *[slow(i) for i in range(6)]
        )
    assert sorted(finished) == list(range(6))


def test_width_is_bounded_by_default_parallelism(spark):
    width = spark.sparkContext.defaultParallelism
    lock = threading.Lock()
    running, peak = 0, 0

    def thunk():
        nonlocal running, peak
        with lock:
            running += 1
            peak = max(peak, running)
        time.sleep(0.05)
        with lock:
            running -= 1

    run_overlapped(*[thunk] * (3 * width))
    assert min(2, width) <= peak <= width


def test_jobs_carry_the_callers_group_and_tags(spark):
    def count():
        spark.range(100).count()

    sequential = spark_jobs(spark, lambda: [count() for _ in range(3)])
    assert sequential > 0
    # a bare pool thread has no job group: its jobs were invisible (read 0)
    assert spark_jobs(spark, lambda: run_overlapped(count, count, count)) == sequential

    seen: list[set[str]] = []
    spark.addTag("run-overlapped-test")
    try:
        run_overlapped(lambda: seen.append(spark.getTags()), lambda: seen.append(spark.getTags()))
    finally:
        spark.removeTag("run-overlapped-test")
    assert all("run-overlapped-test" in tags for tags in seen) and len(seen) == 2
