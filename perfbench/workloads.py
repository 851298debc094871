"""The benchmark's workloads: a fixed sequence of timed operations each.

A workload is constructed after its inputs exist and the Spark session is up.
``prepare`` makes it ready to run (repeated during set-up), ``operations``
lists the timed operations in the order they run, each as ``(kind, run,
check)``: ``run`` is timed, ``check`` verifies its output outside the timer
and returns the problems found.  ``finish`` runs once after the last
operation.  ``probe`` is one repeatable operation, run untraced and traced
to measure the tracing overhead.  Every call into the library sits inside a
tracer span named ``<module>.<what>``; in a traced operation ``force``
materializes a lazily returned DataFrame inside the span of the layer that
produced it.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import checks, inputs

BASE_DATE = dt.date(2026, 1, 1)


def dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class Workload:
    name = ""
    PREPARE_RUNS = 3

    def __init__(self, spark, tracer, paths: dict[str, str], work: str):
        self.spark, self.tracer, self.paths, self.work = spark, tracer, paths, work

    def force(self, df):
        return df.localCheckpoint() if self.tracer.enabled else df


# --------------------------------------------------------------------------


class EtlCuration(Workload):
    """The paper's medallion ETL job, then corpus curation: two batch jobs,
    each run once per process, as the reference's daily driver runs them.

    ``etl``: ``run_extract`` -> ``run_transform`` -> ``run_load`` over the 18
    generated football tables, exploration tables written as parquet.
    ``curation``: quality gate -> exact dedup -> MinHash signatures and LSH
    candidates -> Jaccard verification -> connected components -> survivors
    written as parquet.
    """

    name = "etl_curation"
    STAGES = {"etl": "stage1_cpu_s", "curation": "stage2_cpu_s"}
    JACCARD = 0.5
    SHINGLE_K = 5

    @staticmethod
    def make_inputs(cache: str, seed: int) -> dict[str, str]:
        return {"football": inputs.football_inputs(cache, seed), "corpus": inputs.corpus_inputs(cache, seed)}

    def __init__(self, spark, tracer, paths, work):
        super().__init__(spark, tracer, paths, work)
        from bigdata_rags_spark.io.zones import ZoneLayout

        self.layout = ZoneLayout(os.path.join(work, "lake"))
        self.explore = os.path.join(work, "exploration")
        self.curated = os.path.join(work, "curated")
        self.rows = {
            "etl": inputs.read_meta(paths["football"])["input_rows"],
            "curation": inputs.read_meta(paths["corpus"])["input_rows"],
        }
        self.probes = 0

    def prepare(self) -> None:
        from bigdata_rags_spark.pipelines.driver import ALL_INPUTS
        from bigdata_rags_spark.schemas import FOOTBALL

        src = self.paths["football"]
        self.sources = {
            name: self.spark.read.schema(FOOTBALL[name]).parquet(os.path.join(src, f"{name}.parquet"))
            for name in ALL_INPUTS
        }
        self.docs = self.spark.read.parquet(os.path.join(self.paths["corpus"], "documents.parquet"))

    def operations(self):
        return [("etl", self.etl, self.check_etl), ("curation", lambda: self.curate(0), lambda: self.check_curation(0))]

    def probe(self):
        self.probes += 1
        i = self.probes
        return (lambda: self.curate(i)), (lambda: self.check_curation(i))

    def etl(self) -> None:
        from bigdata_rags_spark.io.writers import write_partitioned
        from bigdata_rags_spark.pipelines.driver import run_extract, run_load, run_transform

        t = self.tracer

        def write_table(df, name: str) -> None:
            with t.span("io.write"):
                write_partitioned(df, os.path.join(self.explore, name))

        with t.span("pipelines.extract"):
            self.status = run_extract(self.sources, self.layout, BASE_DATE)
        with t.span("pipelines.transform"):
            self.transformed = run_transform(self.spark, self.layout, BASE_DATE)
        with t.span("pipelines.load"):
            self.loaded = run_load(self.spark, self.layout, BASE_DATE, write_table)

    def curate(self, i: int) -> None:
        from bigdata_rags_spark.dedup.clusters import connected_components
        from bigdata_rags_spark.dedup.exact import exact_dedup
        from bigdata_rags_spark.dedup.minhash import candidate_pairs_from_signatures, minhash_signatures
        from bigdata_rags_spark.io.writers import write_partitioned
        from bigdata_rags_spark.quality import repetition_quality

        t, docs = self.tracer, self.docs
        with t.span("quality.gate"):
            flags = repetition_quality(docs).filter(F.col("keep_flag") == 1).select("doc_id")
            kept = self.force(docs.join(flags, "doc_id", "left_semi"))
        with t.span("dedup.exact"):
            keepers = exact_dedup(kept).select(F.col("keeper_id").alias("doc_id"))
            # reused by signatures, verification and the survivor write
            unique = kept.join(keepers, "doc_id", "left_semi").localCheckpoint()
        with t.span("dedup.signature"):
            sig = minhash_signatures(unique, shingle_k=self.SHINGLE_K)
            cands = self.force(candidate_pairs_from_signatures(sig))
        with t.span("dedup.verify"):
            pairs = self.force(self._verified(cands, unique))
        with t.span("dedup.cluster"):
            clusters = connected_components(pairs)
            losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
            survivors = self.force(unique.join(losers, "doc_id", "left_anti"))
        with t.span("io.write"):
            write_partitioned(survivors, os.path.join(self.curated, str(i)))
        if t.enabled:
            t.count("quality.docs", docs.count())
            t.count("quality.kept", kept.count())
            t.count("dedup.candidate_pairs", cands.count())
            t.count("dedup.verified_pairs", pairs.count())

    def _verified(self, cands, docs):
        """Exact shingle Jaccard on the candidate pairs only."""
        from bigdata_rags_spark.functions.text import word_shingles, ws_tokens

        sh = docs.select(
            "doc_id", F.array_distinct(word_shingles(ws_tokens(F.col("text")), self.SHINGLE_K)).alias("sh")
        )
        a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
        b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
        jac = F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb"))
        return cands.join(a, "doc_a").join(b, "doc_b").filter(jac >= self.JACCARD).select("doc_a", "doc_b")

    def check_etl(self) -> list[str]:
        """The ETL job's status and its three exploration tables against
        DuckDB's recomputation from the generated sources."""
        probs = []
        if any(s != "SUCCESS" for s in self.status.values()) or not self.transformed:
            probs.append(f"ETL status: {self.status}, transformed={self.transformed}")
        if sorted(self.loaded) != ["attack", "defense", "discipline"]:
            probs.append(f"ETL loaded {self.loaded}")
        for name, want in checks.expected_exploration(self.paths["football"]).items():
            got = checks.read_parquet_dir(os.path.join(self.explore, name))
            probs += [f"{name}: {p}" for p in checks.frame_problems(got, want, "Team")]
        return probs

    def check_curation(self, i: int) -> list[str]:
        """Survivors against the generator's planted ground truth."""
        return checks.survivor_problems(
            os.path.join(self.curated, str(i)), checks.expected_survivors(self.paths["corpus"])
        )

    def finish(self) -> list[str]:
        return []

    def named_metrics(self, by_kind: dict[str, list[float]]) -> dict[str, dict[str, tuple[float, str]]]:
        """The source workloads' own metrics, by name: (value, unit)."""
        return {
            "medallion_etl": {
                "rows_per_s": (self.rows["etl"] / sum(by_kind["etl"]), "rows/s"),
                "stored_bytes_per_input_byte": (self.stored_bytes_per_input_byte(), "ratio"),
            },
            "corpus_curation": {"rows_per_s": (self.rows["curation"] / sum(by_kind["curation"]), "rows/s")},
        }

    def stored_bytes_per_input_byte(self) -> float:
        """Bytes the ETL job left on disk (all zones plus the exploration
        tables) over the bytes of its generated sources."""
        written = dir_bytes_files(self.layout.root)[0] + dir_bytes_files(self.explore)[0]
        return written / dir_bytes_files(self.paths["football"])[0]

    def written_files(self) -> int:
        return sum(dir_bytes_files(p)[1] for p in (self.layout.root, self.explore, self.curated))


# --------------------------------------------------------------------------


class RagIngest(Workload):
    """RAG serving over an IVFPQ index, then index ingest beside reads, one
    closed-loop client.

    Set-up builds the index.  Serving: SERVE_REQUESTS read-only requests,
    alternating a hybrid BM25 + dense search (``hybrid_search``) and an ANN
    top-10 (``ivfpq_index_serve``); queries come from a seeded pool drawn
    with a Zipf skew, so popular ones repeat.  Ingest: INGEST_STEPS steps,
    each an ``ingest_vectors_batch`` upsert of new and re-written ids, a
    delete of other ids and an ANN read that must see both.  The run ends by
    compacting the index.
    """

    name = "rag_ingest"
    STAGES = {
        "hybrid": "stage1_cpu_s",
        "ann": "stage1_cpu_s",
        "upsert": "stage2_cpu_s",
        "delete": "stage2_cpu_s",
        "fresh_read": "stage2_cpu_s",
    }
    PREPARE_RUNS = 1
    PREFIX = "perfbench_idx"
    BUCKETS = 4  # one bucket per core: the index is small
    K = 10

    @staticmethod
    def make_inputs(cache: str, seed: int) -> dict[str, str]:
        return {"serving": inputs.serving_inputs(cache, seed)}

    def __init__(self, spark, tracer, paths, work):
        super().__init__(spark, tracer, paths, work)
        d = paths["serving"]
        self.meta = inputs.read_meta(d)
        emb = pq.read_table(os.path.join(d, "embeddings.parquet")).to_pandas()
        self.base = dict(zip(emb["vec_id"].tolist(), (np.asarray(v, dtype=np.float64) for v in emb["embedding"])))
        self.upserts = pq.read_table(os.path.join(d, "upserts.parquet")).to_pandas()
        self.oracle = checks.HybridOracle(d)
        self.recalls: list[float] = []
        self.self_hits: list[bool] = []

    def prepare(self) -> None:
        from bigdata_rags_spark.similarity.pq import build_ivfpq_index

        d, read = self.paths["serving"], self.spark.read.parquet
        self.emb = read(os.path.join(d, "embeddings.parquet"))
        self.docs = read(os.path.join(d, "documents.parquet"))
        self.doc_emb = read(os.path.join(d, "doc_embeddings.parquet"))
        self.batches = read(os.path.join(d, "upserts.parquet"))
        with self.tracer.span("similarity.build"):
            build_ivfpq_index(self.emb, table_prefix=self.PREFIX, num_buckets=self.BUCKETS)
        self.live = dict(self.base)

    def _query(self, i: int) -> dict:
        return self.meta["pool"][self.meta["draws"][i]]

    def operations(self):
        ops = []
        for r in range(inputs.SERVE_REQUESTS):
            if r % 2 == 0:
                ops.append(("hybrid", lambda r=r: self.hybrid(r), lambda r=r: self.check_hybrid(r)))
            else:
                ops.append(("ann", lambda r=r: self.ann(r), lambda r=r: self.check_ann(r)))
        for s in range(inputs.INGEST_STEPS):
            ops.append(("upsert", lambda s=s: self.upsert(s), lambda: []))
            ops.append(("delete", lambda s=s: self.delete(s), lambda: []))
            ops.append(("fresh_read", lambda s=s: self.fresh_read(s), lambda s=s: self.check_fresh(s)))
        return ops

    def probe(self):
        r = inputs.SERVE_REQUESTS + inputs.INGEST_STEPS  # the stream's last draw
        return (lambda: self.ann(r)), (lambda: self.check_ann(r))

    # -- serving ----------------------------------------------------------

    def ann(self, r: int) -> None:
        from bigdata_rags_spark.similarity.pq import ivfpq_index_serve

        q = self.spark.createDataFrame([(-1, self._query(r)["embedding"])], "vec_id long, embedding array<float>")
        with self.tracer.span("similarity.serve"):
            self.ann_out = ivfpq_index_serve(q, k=self.K, table_prefix=self.PREFIX).toPandas()

    def check_ann(self, r: int) -> list[str]:
        qvec = np.asarray(self._query(r)["embedding"], dtype=np.float64)
        probs, recall = checks.ann_problems(self.ann_out, qvec, self.live, self.K)
        self.recalls.append(recall)
        return [f"ann: {p}" for p in probs]

    def hybrid(self, r: int) -> None:
        from bigdata_rags_spark.retrieval.bm25 import hybrid_search

        q = self._query(r)
        with self.tracer.span("retrieval.hybrid"):
            self.hybrid_out = hybrid_search(
                self.docs, self.doc_emb, q["terms"], q["vec_id"], alpha=0.5, k=self.K
            ).toPandas()

    def check_hybrid(self, r: int) -> list[str]:
        q = self._query(r)
        want = self.oracle.answer(q["terms"], q["vec_id"])
        return [f"hybrid: {p}" for p in checks.hybrid_problems(self.hybrid_out, want)]

    # -- ingest -----------------------------------------------------------

    def upsert(self, s: int) -> None:
        from bigdata_rags_spark.streaming.ingest import ingest_vectors_batch

        batch = self.batches.filter(F.col("step") == s).select("vec_id", "embedding")
        with self.tracer.span("streaming.upsert"):
            ingest_vectors_batch(batch, table_prefix=self.PREFIX)
        step = self.upserts[self.upserts["step"] == s]
        for vid, vec in zip(step["vec_id"].tolist(), step["embedding"]):
            self.live[vid] = np.asarray(vec, dtype=np.float64)
        self.probe_up = int(step["vec_id"].iloc[inputs.INGEST_NEW - 1])  # the step's last new id

    def delete(self, s: int) -> None:
        from bigdata_rags_spark.similarity.pq import delete_from_ivfpq_index

        deletes = self.meta["deletes"][s]
        ids = self.spark.createDataFrame([(d,) for d in deletes], "vec_id long")
        with self.tracer.span("similarity.delete"):
            delete_from_ivfpq_index(ids, self.PREFIX)
        self.deleted_vec = self.live[deletes[0]]
        for d in deletes:
            del self.live[d]

    def fresh_read(self, s: int) -> None:
        """One ANN request of three queries: a pool query, the step's last
        new vector and its first deleted one."""
        from bigdata_rags_spark.similarity.pq import ivfpq_index_serve

        self.fresh_vecs = {
            -1: np.asarray(self._query(inputs.SERVE_REQUESTS + s)["embedding"], dtype=np.float64),
            -2: self.live[self.probe_up],
            -3: self.deleted_vec,
        }
        rows = [(qid, [float(x) for x in v]) for qid, v in self.fresh_vecs.items()]
        queries = self.spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        with self.tracer.span("similarity.serve"):
            self.fresh_out = ivfpq_index_serve(queries, k=self.K, table_prefix=self.PREFIX).toPandas()

    def check_fresh(self, s: int) -> list[str]:
        """Read-your-writes: every hit is a live vector with its current
        vector's exact similarity (so no deleted id or pre-update vector is
        served), and the index's live count (``ivfpq_index_stats``) is the
        live set's size (every new id is in, every deleted one out).
        Whether the new vector comes back for its own query is recorded,
        not required: the search is approximate."""
        from bigdata_rags_spark.similarity.pq import ivfpq_index_stats

        probs = []
        for qid, qvec in self.fresh_vecs.items():
            got = self.fresh_out[self.fresh_out["query_id"] == qid]
            ann_probs, recall = checks.ann_problems(got, qvec, self.live, self.K)
            probs += [f"fresh read {s} query {qid}: {p}" for p in ann_probs]
            if qid == -1:
                self.recalls.append(recall)
        up = self.fresh_out[self.fresh_out["query_id"] == -2]
        self.self_hits.append(self.probe_up in set(up["neighbor_id"].tolist()))
        n_live = ivfpq_index_stats(self.spark, self.PREFIX).agg(F.sum("n_live")).first()[0]
        if n_live != len(self.live):
            probs.append(f"fresh read {s}: the index holds {n_live} live vectors, {len(self.live)} expected")
        return probs

    def finish(self) -> list[str]:
        from bigdata_rags_spark.similarity.pq import compact_ivfpq_index

        tombs = f"{self.PREFIX}_tombstones"
        if self.tracer.enabled:
            self.index_before = dir_bytes_files(self.index_dir())
            if self.spark.catalog.tableExists(tombs):
                self.tracer.count("similarity.tombstone_rows", self.spark.table(tombs).count())
        with self.tracer.span("similarity.compact"):
            compact_ivfpq_index(self.spark, self.PREFIX)
        n = self.spark.table(f"{self.PREFIX}_vectors").count()
        return [] if n == len(self.live) else [f"compact: {n} vectors stored, {len(self.live)} live"]

    def named_metrics(self, by_kind: dict[str, list[float]]) -> dict[str, dict[str, tuple[float, str]]]:
        """The source workloads' own metrics, by name: (value, unit)."""
        p50 = {k: statistics.median(v) for k, v in by_kind.items()}
        serving = sum(sum(v) for k, v in by_kind.items() if self.STAGES[k] == "stage1_cpu_s")
        recall = (float(np.mean(self.recalls)), "ratio")
        names = {"ann": "ann_p50_ms", "hybrid": "keyword_p50_ms"}
        out = {"rag_serving": {names[k]: (1000.0 * p50[k], "ms") for k in names if k in p50}}
        out["rag_serving"]["requests_per_s"] = (inputs.SERVE_REQUESTS / serving, "req/s")
        out["index_ingest"] = {
            "upsert_p50_ms": (1000.0 * p50["upsert"], "ms"),
            "delete_p50_ms": (1000.0 * p50["delete"], "ms"),
            "fresh_read_p50_ms": (1000.0 * p50["fresh_read"], "ms"),
            "recall_at_10": recall,
            "fresh_self_hit_ratio": (float(np.mean(self.self_hits)), "ratio"),
            "stored_bytes_per_input_byte": (self.stored_bytes_per_input_byte(), "ratio"),
        }
        return out

    def index_dir(self) -> str:
        return os.path.join(self.work, "warehouse")

    def stored_bytes_per_input_byte(self) -> float:
        """Index bytes on disk after the run over the bytes of the vectors
        it was built from and the upserts it took."""
        read = inputs.input_bytes(self.paths["serving"], ["embeddings", "upserts"])
        return dir_bytes_files(self.index_dir())[0] / read

    def written_files(self) -> int:
        return dir_bytes_files(self.index_dir())[1]


WORKLOADS = {w.name: w for w in (EtlCuration, RagIngest)}
