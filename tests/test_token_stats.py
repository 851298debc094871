"""Per-document token statistics (the quality gate and BM25) on the edge
cases their array formulas must keep, checked against the catalog's DuckDB
oracle SQL over a small hand-built parquet corpus."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigdata_rags_spark.queries.catalog import REGISTRY
from bigdata_rags_spark.queries.retrieval_ops import _SQL_BM25_CORE, _TERMS_SQL, QUERY_TERMS
from bigdata_rags_spark.testing import compare_frames

DIVERSE = " ".join(f"w{i}" for i in range(40)) + " join"
DOCS = [
    (1, None),  # NULL text: no tokens, drops out (counts in BM25's N only)
    (2, ""),  # empty text: one "" token
    (3, "   "),  # whitespace only: trims to one "" token
    (4, "spark"),  # one token, no bigrams
    (5, "spark join spark join stream stream"),  # three unigrams tied at 2
    (6, "nothing relevant here at all"),  # matches no query term
    (7, "  Spark  STREAM\tjoin  spark "),  # case folding, whitespace runs
    (8, "x y x y z w z w"),  # tied top bigrams ("x y", "z w")
    (9, DIVERSE),  # passes the gate
]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("token_stats")
    ids = [i for i, _ in DOCS]
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": [t for _, t in DOCS]}),
        d / "documents.parquet",
    )
    vecs = [[1.0, float(i), float(i % 3), 0.5] for i in [0, *ids]]
    emb = {"vec_id": pa.array([0, *ids], pa.int64()), "embedding": pa.array(vecs, pa.list_(pa.float32()))}
    pq.write_table(pa.table(emb), d / "embeddings.parquet")
    return str(d)


def _oracle(sql: str, d: str):
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        return con.execute(sql).df()
    finally:
        con.close()


@pytest.mark.parametrize("name", ["gopher_quality_filters", "bm25_keyword_search", "hybrid_rag_search"])
def test_catalog_query_matches_oracle_on_edge_cases(spark, corpus, name):
    spec = REGISTRY[name]
    got = spec.spark(spark, corpus).toPandas()
    assert compare_frames(got, _oracle(spec.oracle, corpus)) == []


def test_quality_gate_edge_cases(spark, corpus):
    from bigdata_rags_spark.quality import repetition_quality

    docs = spark.read.parquet(f"{corpus}/documents.parquet")
    out = {r["doc_id"]: r.asDict() for r in repetition_quality(docs).collect()}
    assert sorted(out) == [2, 3, 4, 5, 6, 7, 8, 9]  # the NULL doc drops out
    for i in (2, 3, 4):
        assert (out[i]["n_words"], out[i]["n_distinct"], out[i]["top_unigram_frac"]) == (1, 1, 1.0)
        assert out[i]["top_bigram_frac"] == 0.0 and out[i]["keep_flag"] == 0
    assert out[5]["top_unigram_frac"] == round(2 / 6, 6)
    assert out[8]["top_unigram_frac"] == 0.25 and out[8]["top_bigram_frac"] == round(2 / 7, 6)
    assert out[7]["n_words"] == 4 and out[7]["n_distinct"] == 3
    assert out[9]["keep_flag"] == 1


@pytest.mark.parametrize("terms", [QUERY_TERMS, ["spark", "join", "spark"]])
def test_bm25_scores_match_oracle_for_every_doc(spark, corpus, terms):
    """Every doc's score, not only the top-k; a repeated query term counts
    once, and the NULL doc and the doc matching no term have no row."""
    from bigdata_rags_spark.retrieval.bm25 import bm25_all_scores

    docs = spark.read.parquet(f"{corpus}/documents.parquet")
    got = bm25_all_scores(docs, terms).toPandas()
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    core = _SQL_BM25_CORE.replace(_TERMS_SQL, terms_sql)
    want = _oracle(f"WITH {core} SELECT doc_id, bm25, matched_terms FROM bm25", corpus)
    assert compare_frames(got, want) == []
    assert 1 not in set(got["doc_id"]) and 6 not in set(got["doc_id"])
    assert got["matched_terms"].max() <= len(set(terms))
