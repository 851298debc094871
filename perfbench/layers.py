"""Per-layer metrics of a traced run, named ``<module>.<metric>``.

Every metric is reported on every workload; a layer a workload never calls
reads 0.  Times are span self times in seconds: totals over the run's timed
operations for a module, per call for a named function.  "Per request"
figures divide by the number of calls of that function.  Spark figures are
those of the jobs each span launched itself.  Set-up spans (the index build)
and the final compaction have no request id and are reported on their own;
the overhead probe's spans are left out.
"""

from __future__ import annotations

from collections import defaultdict

# modules with spans around their calls, in the order they are reported
MODULES = ["pipelines", "io", "quality", "dedup", "similarity", "retrieval", "streaming"]
GENERIC = [
    ("self_s", "s", "span self time over the timed operations"),
    ("executor_busy_s", "s", "executor run time of the module's jobs"),
    ("wait_s", "s", "self time minus executor busy time / cores"),
    ("gc_s", "s", "JVM GC time of the module's jobs"),
    ("spill_bytes", "B", "memory + disk spill of the module's jobs"),
]
SPECIFIC = [
    ("session.start_s", "s", "SparkSession start"),
    ("trace.overhead_pct", "%", "traced minus untraced probe operation, share of untraced"),
    ("pipelines.extract_s", "s", "run_extract"),
    ("pipelines.transform_s", "s", "run_transform"),
    ("pipelines.load_s", "s", "run_load"),
    ("operators.shuffle_bytes", "B", "shuffle bytes written by the transform jobs"),
    ("operators.executor_busy_s", "s", "executor run time of the transform jobs"),
    ("io.write_s", "s", "exploration and survivor writes"),
    ("io.read_bytes", "B", "bytes scanned by all jobs of the timed operations"),
    ("io.bytes_written", "B", "bytes written by all jobs of the timed operations"),
    ("io.files_written", "count", "files in the output directories after the run"),
    ("quality.gate_s", "s", "repetition quality gate"),
    ("quality.keep_ratio", "ratio", "documents passing the quality gate"),
    ("dedup.exact_s", "s", "exact dedup"),
    ("dedup.signature_s", "s", "MinHash signatures + LSH candidates"),
    ("dedup.verify_s", "s", "Jaccard verification of the candidates"),
    ("dedup.cluster_s", "s", "connected components"),
    ("dedup.candidate_pairs", "count", "LSH candidate pairs"),
    ("dedup.verified_pairs", "count", "pairs passing Jaccard verification"),
    ("dedup.candidate_precision", "ratio", "verified / candidate pairs"),
    ("dedup.cluster_jobs", "count", "Spark jobs of connected_components"),
    ("dedup.shuffle_bytes", "B", "shuffle bytes written by the dedup jobs"),
    ("similarity.build_s", "s", "build_ivfpq_index at set-up"),
    ("similarity.serve_s", "s", "ivfpq_index_serve, per request"),
    ("similarity.jobs_per_request", "count", "Spark jobs per ivfpq_index_serve"),
    ("similarity.stages_per_request", "count", "Spark stages per ivfpq_index_serve"),
    ("similarity.tasks_per_request", "count", "Spark tasks per ivfpq_index_serve"),
    ("similarity.codes_bytes_read_per_request", "B", "bytes scanned per ivfpq_index_serve"),
    ("similarity.delete_s", "s", "delete_from_ivfpq_index, per call"),
    ("similarity.compact_s", "s", "compact_ivfpq_index at the end"),
    ("similarity.index_bytes", "B", "index bytes on disk before compaction"),
    ("similarity.index_files", "count", "index files on disk before compaction"),
    ("similarity.tombstone_rows", "count", "tombstoned ids before compaction"),
    ("similarity.recall_at_10", "ratio", "ANN top-10 vs exact top-10, mean over requests"),
    ("retrieval.hybrid_s", "s", "hybrid_search, per request"),
    ("retrieval.jobs_per_request", "count", "Spark jobs per hybrid_search"),
    ("retrieval.input_bytes_per_request", "B", "bytes scanned per hybrid_search"),
    ("streaming.upsert_s", "s", "ingest_vectors_batch, per call"),
]


def metric_specs() -> list[tuple[str, str, str]]:
    """(name, unit, meaning) of every per-layer metric, in report order."""
    return SPECIFIC[:2] + [(f"{m}.{k}", u, d) for m in MODULES for k, u, d in GENERIC] + SPECIFIC[2:]


def _sum(spans: list[dict], keep) -> dict[str, float]:
    tot: dict[str, float] = defaultdict(float)
    for s in spans:
        if keep(s["name"]):
            tot["calls"] += 1
            tot["self_s"] += s["self_s"]
            for k, v in s["spark"].items():
                tot[k] += v
    return tot


def layer_metrics(spans: list[dict], counters: dict, run: dict) -> dict[str, float]:
    """``spans``: tracer spans with ``self_s`` and ``spark``; ``run`` holds
    the run-level figures (cores, session start, overhead, sizes)."""
    cores = run["cores"]
    ops = [s for s in spans if isinstance(s["request"], int)]
    unowned = [s for s in spans if s["request"] is None]
    out: dict[str, float] = {
        "session.start_s": run["session_s"],
        "trace.overhead_pct": run["overhead_pct"],
    }

    for m in MODULES:
        t = _sum(ops, lambda name, m=m: name.split(".")[0] == m)
        busy_s = t["busy_ms"] / 1000.0
        out[f"{m}.self_s"] = t["self_s"]
        out[f"{m}.executor_busy_s"] = busy_s
        out[f"{m}.wait_s"] = max(t["self_s"] - busy_s / cores, 0.0)
        out[f"{m}.gc_s"] = t["gc_ms"] / 1000.0
        out[f"{m}.spill_bytes"] = t["spill_bytes"] + t["disk_spill_bytes"]

    def named(name: str, pool=ops) -> dict[str, float]:
        return _sum(pool, lambda s: s == name)

    def per_call(t: dict, key: str) -> float:
        return t[key] / t["calls"] if t["calls"] else 0.0

    for key in ("extract", "transform", "load"):
        out[f"pipelines.{key}_s"] = named(f"pipelines.{key}")["self_s"]
    tr = named("pipelines.transform")
    out["operators.shuffle_bytes"] = tr["shuffle_write_bytes"]
    out["operators.executor_busy_s"] = tr["busy_ms"] / 1000.0
    every = _sum(ops, lambda name: True)
    out["io.write_s"] = named("io.write")["self_s"]
    out["io.read_bytes"] = every["input_bytes"]
    out["io.bytes_written"] = every["output_bytes"]
    out["io.files_written"] = run["files_written"]
    out["quality.gate_s"] = named("quality.gate")["self_s"]
    docs = counters.get("quality.docs", 0)
    out["quality.keep_ratio"] = counters.get("quality.kept", 0) / docs if docs else 0.0
    for key in ("exact", "signature", "verify", "cluster"):
        out[f"dedup.{key}_s"] = named(f"dedup.{key}")["self_s"]
    cands, verified = counters.get("dedup.candidate_pairs", 0), counters.get("dedup.verified_pairs", 0)
    out["dedup.candidate_pairs"] = cands
    out["dedup.verified_pairs"] = verified
    out["dedup.candidate_precision"] = verified / cands if cands else 0.0
    out["dedup.cluster_jobs"] = named("dedup.cluster")["jobs"]
    out["dedup.shuffle_bytes"] = _sum(ops, lambda name: name.startswith("dedup."))["shuffle_write_bytes"]
    serve = named("similarity.serve")
    out["similarity.build_s"] = named("similarity.build", unowned)["self_s"]
    out["similarity.serve_s"] = per_call(serve, "self_s")
    out["similarity.jobs_per_request"] = per_call(serve, "jobs")
    out["similarity.stages_per_request"] = per_call(serve, "stages")
    out["similarity.tasks_per_request"] = per_call(serve, "tasks")
    out["similarity.codes_bytes_read_per_request"] = per_call(serve, "input_bytes")
    out["similarity.delete_s"] = per_call(named("similarity.delete"), "self_s")
    out["similarity.compact_s"] = named("similarity.compact", unowned)["self_s"]
    out["similarity.index_bytes"] = run["index_bytes"]
    out["similarity.index_files"] = run["index_files"]
    out["similarity.tombstone_rows"] = counters.get("similarity.tombstone_rows", 0)
    out["similarity.recall_at_10"] = run["recall_at_10"]
    hybrid = named("retrieval.hybrid")
    out["retrieval.hybrid_s"] = per_call(hybrid, "self_s")
    out["retrieval.jobs_per_request"] = per_call(hybrid, "jobs")
    out["retrieval.input_bytes_per_request"] = per_call(hybrid, "input_bytes")
    out["streaming.upsert_s"] = per_call(named("streaming.upsert"), "self_s")
    return out


def self_time_table(spans: list[dict]) -> list[tuple[str, int, float, float]]:
    """(span name, calls, total wall s, total self s), largest self first."""
    acc: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        a = acc[s["name"]]
        a[0] += 1
        a[1] += s["end"] - s["start"]
        a[2] += s["self_s"]
    return sorted(((k, int(v[0]), v[1], v[2]) for k, v in acc.items()), key=lambda r: -r[3])
