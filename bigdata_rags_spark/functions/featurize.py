"""Deterministic hashed-feature document embeddings (the docs -> vectors
bridge; VERDICT r11 next #3): feature-hash word unigrams + bigrams into a
fixed-dim integer-weighted vector so the WHOLE similarity tier (LSH
near-dup, semantic dedup, IVFPQ) can run end-to-end from raw text instead
of the pre-made ``embeddings`` fixture.

This is the "hashing trick" featurizer (Weinberger et al., "Feature
Hashing for Large Scale Multitask Learning", ICML 2009): feature f lands
in bucket ``h(f) mod dim`` with sign ``±1`` from an independent hash bit —
the signed sum makes collisions unbiased.  Both hashes are md5-derived so
the oracle recomputes them exactly (the repo-wide no-engine-private-hash
rule), and weights are INTEGER counts so every downstream cosine is exact
in float64 (integer dot products are exact up to 2^53).

Scale shape: one corpus scan explodes features (row-local), one
(doc, bucket) groupBy sums signs — output is dim-bounded per doc, never
vocabulary-bounded.  There is no dictionary, no fit step, no broadcast:
the hash IS the vocabulary, which is the property that makes the
featurizer embarrassingly parallel at 100 TB.

Extension beyond the reference (no text surface — SURVEY.md §2 extension
tier; cites `dag-transform.py`'s derived-metric style of deterministic
column math only by analogy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.text import word_shingles, ws_tokens


def _bucket(feat: F.Column, salt: str, dim: int) -> F.Column:
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{salt}:"), feat)), 1, 8), 16, 10)
        .cast("bigint")
        % dim
    ).cast("int")


def _sign(feat: F.Column, salt: str) -> F.Column:
    return F.when(
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{salt}:"), feat)), 9, 1), 16, 10)
        .cast("bigint")
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))


def hashed_doc_features(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "feat",
    idf: bool = False,
) -> DataFrame:
    """Sparse hashed features: (doc_id, bucket int, weight bigint) — the
    signed occurrence sum of every word unigram and bigram hashing into
    ``bucket``.  Zero-sum buckets are kept (deterministic either way; the
    dense builder fills gaps with 0 regardless).

    ``idf=True`` scales each occurrence by the integer inverse document
    frequency ``1_000_000 DIV df`` (df = docs containing the feature) —
    the boilerplate suppressor: raw count vectors share a dominant
    common-word direction, which correlates LSH signatures corpus-wide
    (measured r12 at sf0.1: idf cut per-table candidate volume 3.1M ->
    0.83M, the random-pair theoretical floor; SCALE.md finding #6): serve
    the idf variant on real corpora.  Integer reciprocal, never a float log, so
    both engines agree exactly.  Cost: one extra (feature -> df) groupBy
    and a feature-keyed join — the tf-idf shape `tfidf_top_terms` already
    runs; weights stay < 1e6 so 64-dim dot products remain float64-exact.
    """
    toks = ws_tokens(F.col(text_col))
    feats = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.concat(toks, word_shingles(toks, 2))).alias("feat"),
    )
    per_occurrence = _sign(F.col("feat"), salt)
    if idf:
        # the exploded feature frame feeds TWO consumers (the df aggregate
        # and the weights join) — materialize it once or the explode runs
        # twice (the repo-wide multi-branch rule).  On a real cluster swap
        # localCheckpoint for checkpoint-to-storage, or accept the double
        # scan when the exploded frame outweighs the recompute.
        feats = feats.localCheckpoint()
        dfreq = (
            feats.select("doc_id", "feat")
            .distinct()
            .groupBy("feat")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__df"))
        )
        feats = feats.join(dfreq, "feat")
        per_occurrence = per_occurrence * F.expr("1000000 DIV __df")
    return (
        feats.groupBy(
            "doc_id",
            _bucket(F.col("feat"), salt, dim).alias("bucket"),
        )
        .agg(F.sum(per_occurrence).cast("bigint").alias("weight"))
        .select("doc_id", "bucket", "weight")
    )


def hashed_doc_vectors(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "feat",
    idf: bool = False,
) -> DataFrame:
    """Dense hashed-feature vectors: (vec_id, embedding array<double>) —
    the sparse buckets scattered into a dim-length array (map lookup over
    ``sequence(0, dim-1)``; missing buckets are 0).  Column names match the
    ``embeddings`` fixture so every similarity operator consumes the output
    unchanged.  Docs with no tokens still emit the all-zero vector (the
    left join keeps them) — downstream cosine guards handle zero norms."""
    sparse = hashed_doc_features(
        docs, dim=dim, id_col=id_col, text_col=text_col, salt=salt, idf=idf
    )
    m = sparse.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "weight"))).alias("__m")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(m, "doc_id", "left")
        .select(
            F.col("doc_id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.element_at("__m", i.cast("int")), F.lit(0)).cast(
                    "double"
                ),
            ).alias("embedding"),
        )
    )


def hashed_doc_vectors_raw_and_idf(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "feat",
) -> DataFrame:
    """BOTH featurizations from ONE corpus pass: (vec_id, embedding_raw,
    embedding_idf) — the raw-count and idf-weighted vectors share the
    explode, the df aggregate, and the (doc, bucket) groupBy, so a
    consumer comparing the two (the bucket-skew pre-flight) pays one
    featurization instead of two.  Weights are bucket-for-bucket
    identical to the single-variant `hashed_doc_vectors` outputs."""
    toks = ws_tokens(F.col(text_col))
    feats = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.concat(toks, word_shingles(toks, 2))).alias("feat"),
    ).localCheckpoint()  # feeds the df aggregate AND the weights join
    dfreq = (
        feats.select("doc_id", "feat")
        .distinct()
        .groupBy("feat")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__df"))
    )
    sign = _sign(F.col("feat"), salt)
    sparse = (
        feats.join(dfreq, "feat")
        .groupBy("doc_id", _bucket(F.col("feat"), salt, dim).alias("bucket"))
        .agg(
            F.sum(sign).cast("bigint").alias("w_raw"),
            F.sum(sign * F.expr("1000000 DIV __df")).cast("bigint").alias("w_idf"),
        )
    )
    m = sparse.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "w_raw"))).alias("__mr"),
        F.map_from_entries(F.collect_list(F.struct("bucket", "w_idf"))).alias("__mi"),
    )

    def dense(mcol: str):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(F.element_at(mcol, i.cast("int")), F.lit(0)).cast(
                "double"
            ),
        )

    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(m, "doc_id", "left")
        .select(
            F.col("doc_id").alias("vec_id"),
            dense("__mr").alias("embedding_raw"),
            dense("__mi").alias("embedding_idf"),
        )
    )
