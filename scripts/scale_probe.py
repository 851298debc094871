#!/usr/bin/env python
"""Synthetic 10x scale probe for the LLM-tier heavyweights (VERDICT r6 #7).

Builds a throwaway zone that is sf0.1 with documents/embeddings duplicated
COPIES times, then times representative LLM queries at 1x and COPIES-x and
prints the wall-time ratio per query — the first empirical point on the
"survives 100x" claim.  Expected: ratios ~<= COPIES (linear scaling); a
superlinear ratio or a plan flip to BNLJ/CartesianProduct is a red flag.

Duplication preserves WORK SHAPE, not just row count:

- documents: copy k suffixes every token with ~k, so per-copy shingle /
  n-gram structure is identical but cross-copy Jaccard is 0 — 10x the
  work, not 100x the candidate pairs.
- embeddings: copy k circularly shifts each vector by k positions (cosine
  is invariant under a shared permutation, so every copy reproduces the
  original near-dup graph internally; cross-copy similarities follow the
  fixture's near-isotropic base distribution).

Two probe classes:

1. REGISTRY queries (doc-side, expected ~linear): timed verbatim at 1x
   and 10x.
2. The embedding ANN path at REGISTRY DEFAULTS: since round 8, n_planes
   self-scales with the corpus count (similarity/knn.py:auto_n_planes —
   candidates ~ N^2 / 2^n_planes per table, so planes must grow with
   log2(N)), so the probe passes NO plane override.  The first probe run
   (round 7) motivated this: a then-fixed 8-plane default (256 buckets)
   at 10x saturated every bucket and the candidate join degraded toward
   all-pairs (>25 min vs 6 s at 1x); with 12 planes — what auto_n_planes
   now picks at 20k vectors — the same plan is ~linear.

Run:  python scripts/scale_probe.py   (serialize with other Spark work —
CLAUDE.md bench rule).  Results table lives in SCALE.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bigdata_rags_spark.queries.catalog import REGISTRY  # noqa: E402
from bigdata_rags_spark.session import get_session  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/bdrs_scale10x")
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))
DIM = 64
REGISTRY_QUERIES = [
    "gopher_quality_filters",
    "corpus_training_selection",
    "fuzzy_dedup_surviving_docs",
    "doc_boilerplate_ngram_coverage",
    "minhash_lsh_candidates",
    # late-r7 additions
    "source_pair_overlap_kmv",
    "bloom_prefilter_incremental_dedup",
    "embedding_pq_rerank_topk",
    # r8 additions: SemDeDup (in-cell pairs grow with cell occupancy^2 —
    # the interesting one to watch), PageRank (fixed iterations over a
    # growing edge list), IVFPQ serving
    "semantic_dedup_cells",
    "near_dup_pagerank",
    "embedding_ivfpq_rerank_topk",
    # r9 additions: graph clustering (re-probe post localCheckpoint fix),
    # index-backed IVFPQ serving (build+serve per call at probe scale)
    "near_dup_graph_clustering",
    "embedding_ivfpq_index_serve",
    # r10 additions: index lifecycle (append/delete re-serve), the
    # incremental dedup family, BPE training (vocab-bounded rounds)
    "embedding_ivfpq_index_append",
    "embedding_ivfpq_index_delete",
    "incremental_minhash_dedup",
    "incremental_semantic_dedup",
    "bpe_merge_training",
    # r16 probes: the store-aware funnel's vs-store join — a shape without
    # a measured scale curve — plus the r16 operators
    "incremental_curation_funnel",
    "ann_predicate_serving",
    "video_capstone_retrieval",
    "dsir_importance_resampling",
]

# comma-separated subset filter so a round can re-probe just what changed
# without re-paying the full suite (e.g. SPARK_GRAFT_PROBE_ONLY=
# "minhash_lsh_candidates,near_dup_pagerank")
_ONLY = os.environ.get("SPARK_GRAFT_PROBE_ONLY", "")
if _ONLY:
    keep = {q.strip() for q in _ONLY.split(",") if q.strip()}
    REGISTRY_QUERIES = [q for q in REGISTRY_QUERIES if q in keep]
OTHER_TABLES = "region nation customer supplier part orders lineitem events".split()


def build_zone(spark) -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    for t in OTHER_TABLES:
        src = f"{BASE}/{t}.parquet"
        if os.path.exists(src):
            os.symlink(src, f"{WORK}/{t}.parquet")

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    doc_copies = [
        docs
        if k == 0
        else docs.select(
            (F.col("doc_id") + F.lit(k * 100_000_000)).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", f"$1~{k}").alias("text"),
            "lang",
            "source",
            # +k so each copy's synthesized PNG has a distinct (w, h) shape
            # (attach_png_payload keys the pixel grid on (doc_id, n_chars)):
            # without this every copy re-renders near-identical images and
            # the aHash graph FUSES across copies (measured r10: 105x edges,
            # 1090x wedges at 10 copies) — probe-zone artifact, not a plan
            # property.  +k <= 9 chars is noise for the doc-side queries.
            (F.col("n_chars") + F.lit(k)).alias("n_chars"),
        )
        for k in range(COPIES)
    ]
    out = doc_copies[0]
    for c in doc_copies[1:]:
        out = out.unionByName(c)
    out.coalesce(1).write.mode("overwrite").parquet(f"{WORK}/documents.parquet")

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    emb_copies = [
        emb
        if k == 0
        else emb.select(
            (F.col("vec_id") + F.lit(k * 100_000_000)).alias("vec_id"),
            F.expr(
                f"concat(slice(embedding, {k + 1}, {DIM - k}), "
                f"slice(embedding, 1, {k}))"
            ).alias("embedding"),
            "label",
        )
        for k in range(COPIES)
    ]
    out = emb_copies[0]
    for c in emb_copies[1:]:
        out = out.unionByName(c)
    out.coalesce(1).write.mode("overwrite").parquet(f"{WORK}/embeddings.parquet")


def _clear(spark) -> None:
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()


def timed(spark, fn) -> float:
    best = float("inf")
    for _ in range(2):  # pass 2 is warm; keep the faster (steady-state) one
        t0 = time.perf_counter()
        fn().write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
        _clear(spark)
    return best


def emb_fuzzy(spark, sf_dir: str):
    """embedding_fuzzy_dedup_vectors's exact composition at REGISTRY
    defaults — since r8, n_planes self-scales with the corpus count
    (similarity/knn.py:auto_n_planes), so the probe needs no hand-tuned
    plane override anymore (VERDICT r7 #2)."""
    from bigdata_rags_spark.dedup.clusters import connected_components
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.knn import lsh_verified_pairs

    e = read_testdata(spark, sf_dir, "embeddings")["embeddings"]
    pairs = lsh_verified_pairs(
        e, threshold=0.4, n_tables=4, probe_bits=2
    ).select("id_a", "id_b")
    clusters = connected_components(pairs, a="id_a", b="id_b")
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("vec_id")
    )
    return e.join(losers, "vec_id", "left_anti").select("vec_id", "label")


def emb_lsh_pairs(spark, sf_dir: str):
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.knn import lsh_verified_pairs

    e = read_testdata(spark, sf_dir, "embeddings")["embeddings"]
    return lsh_verified_pairs(e, threshold=0.4, n_tables=4, probe_bits=2)


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(
        "bdrs-scale-probe",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        # 10x the data on one JVM: size the driver heap like the real
        # executors it is standing in for
        extra_conf={"spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    build_zone(spark)
    print(f"zone built at {WORK} ({COPIES}x documents/embeddings)", flush=True)
    rows = []
    for name in REGISTRY_QUERIES:
        t1 = timed(spark, lambda: REGISTRY[name].spark(spark, BASE))
        t10 = timed(spark, lambda: REGISTRY[name].spark(spark, WORK))
        rows.append((name, t1, t10))
        print(f"{name}: 1x={t1:.2f}s {COPIES}x={t10:.2f}s ratio={t10 / t1:.2f}", flush=True)
    for label, fn in (
        ("lsh_verified_pairs (auto planes)", emb_lsh_pairs),
        ("embedding_fuzzy_dedup (auto planes)", emb_fuzzy),
    ):
        if _ONLY:  # subset runs re-probe registry queries only
            continue
        t1 = timed(spark, lambda: fn(spark, BASE))
        t10 = timed(spark, lambda: fn(spark, WORK))
        rows.append((label, t1, t10))
        print(f"{label}: 1x={t1:.2f}s {COPIES}x={t10:.2f}s ratio={t10 / t1:.2f}", flush=True)
    print()
    print("| query | 1x sec | %dx sec | ratio |" % COPIES)
    print("|---|---|---|---|")
    for name, t1, t10 in rows:
        print(f"| {name} | {t1:.2f} | {t10:.2f} | {t10 / t1:.2f} |")


if __name__ == "__main__":
    main()
