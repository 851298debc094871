"""Spans around layer calls, and Spark stage metrics attributed to them.

A span covers one call from the benchmark into a layer's public function.
Each records its name (``<module>.<what>``), start, end, parent span and
request id.  While a span is open its Spark jobs carry the job group
``perfbench:<span id>``; jobs the library launches from its own driver
threads carry no group and are attributed by submission time to the
innermost span open at that moment.  Stage metrics (tasks, executor run and
GC time, input/output/shuffle bytes, spill) are read once, after the run,
from Spark's status REST API, so collecting them costs nothing while spans
are open.  Spans and counters stay in memory until ``dump``.

With tracing off every method is a no-op, so the same workload code runs in
both modes.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from collections import defaultdict

GROUP_PREFIX = "perfbench:"
STAGE_FIELDS = {
    "executorRunTime": "busy_ms",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "numTasks": "tasks",
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.request: int | None = None
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    def _set_group(self, rec: dict | None) -> None:
        sc = self.spark.sparkContext
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", rec["name"])

    # ------------------------------------------------------------------
    # after the run

    def _rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def _settled_jobs(self) -> list[dict]:
        """All jobs, once the status store has caught up with the listener
        bus (no job still running and the count stable)."""
        last = -1
        for _ in range(50):
            jobs = self._rest("jobs")
            if len(jobs) == last and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            last = len(jobs)
            time.sleep(0.1)
        return jobs

    def attribute(self) -> None:
        """Attach per-span Spark metrics (``span["spark"]``): the sum over the
        stages of the jobs the span launched itself (children excluded)."""
        stages = {s["stageId"]: s for s in self._rest("stages?details=false")}
        for rec in self.spans:
            rec["spark"] = defaultdict(float)
        for job in self._settled_jobs():
            rec = self._owner(job)
            if rec is None:
                continue
            m = rec["spark"]
            m["jobs"] += 1
            for sid in job["stageIds"]:
                st = stages.get(sid)
                if st is None or st["status"] == "SKIPPED":
                    continue
                m["stages"] += 1
                for field, key in STAGE_FIELDS.items():
                    m[key] += st.get(field, 0)

    def _owner(self, job: dict) -> dict | None:
        group = job.get("jobGroup") or ""
        if group.startswith(GROUP_PREFIX):
            return self.spans[int(group[len(GROUP_PREFIX) :])]
        submitted = _epoch(job.get("submissionTime"))
        if submitted is None:
            return None
        best = None
        for rec in self.spans:  # innermost = latest-starting enclosing span
            if rec["start"] <= submitted <= rec["end"] and (best is None or rec["start"] >= best["start"]):
                best = rec
        return best

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part covered by its child spans."""
        children: dict[int, list[dict]] = defaultdict(list)
        for rec in self.spans:
            if rec["parent"] is not None:
                children[rec["parent"]].append(rec)
        out = {}
        for rec in self.spans:
            covered, cursor = 0.0, rec["start"]
            for ch in sorted(children[rec["id"]], key=lambda r: r["start"]):
                lo, hi = max(ch["start"], cursor), min(ch["end"], rec["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[rec["id"]] = rec["end"] - rec["start"] - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        spans = [
            {**rec, "self_s": selfs[rec["id"]], "spark": dict(rec.get("spark", {}))}
            for rec in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counters": dict(self.counters), **extra}, f, indent=1)


def _epoch(stamp: str | None) -> float | None:
    """Spark REST timestamps look like ``2026-10-16T18:50:00.123GMT``."""
    if not stamp:
        return None
    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()
