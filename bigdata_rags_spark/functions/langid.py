"""Trained character-n-gram language ID (Cavnar-Trenkle rank profiles).

Cavnar & Trenkle 1994 ("N-Gram-Based Text Categorization") — the standard
public design behind textcat/langdetect-style identifiers and the trained
upgrade of this repo's `langid_stopword_heuristic` (VERDICT r12 #4): each
language is summarized by the RANKS of its top-K most frequent character
n-grams; a document is scored against every profile by the "out-of-place"
rank distance (sum over the doc's own top-K grams of |doc_rank -
profile_rank|, with a flat K penalty for grams absent from the profile),
and the nearest profile wins.  Everything is integer counts, ranks and
absolute differences — engine-exact by construction, no floats anywhere.

100-TB shape: gram extraction is a row-local substring transform + explode
(per-(doc, gram) pairs shuffle, text does not); language profiles are a
|langs| x K table (200 rows here) broadcast to the scoring join; the doc
profile is one hash agg + one per-doc window; the argmin is a single
struct-min hash agg, no window.  Train-set size only affects the profile
agg — serving cost is independent of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.text import norm_text

CT_TOP_K = 40
CT_NGRAM_SIZES = (2, 3)


def char_ngrams(text: F.Column, ns: tuple[int, ...] = CT_NGRAM_SIZES) -> F.Column:
    """All character n-grams of the normalized text for every n in ``ns``,
    fused into one array (grams of different lengths are distinct strings,
    so no n-tag is needed).  Row-local: one substring transform per n, no
    shuffle; documents shorter than n contribute nothing for that n.  The
    normalized text is bound once as the lambda variable ``t`` of a
    one-element ``transform``, so the ``substr`` lambda does not re-run
    ``norm_text``'s regexp over the whole text for every gram."""

    def grams(t: F.Column) -> F.Column:
        parts = [
            F.when(
                F.length(t) >= n,
                F.transform(F.sequence(F.lit(1), F.length(t) - (n - 1)), _gram_fn(t, n)),
            ).otherwise(F.array().cast("array<string>"))
            for n in ns
        ]
        return F.flatten(F.array(*parts))

    return F.transform(F.array(norm_text(text)), grams)[0]


def _gram_fn(t: F.Column, n: int):
    # closure factory, NOT a default-arg two-param lambda (CLAUDE.md:
    # F.transform treats two-parameter lambdas as (element, index))
    return lambda i: t.substr(i, F.lit(n))


def ct_fit_profiles(
    labeled: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    top_k: int = CT_TOP_K,
    ns: tuple[int, ...] = CT_NGRAM_SIZES,
) -> DataFrame:
    """TRAIN per-language rank profiles: count char n-grams over each
    language's seed docs, rank by (count desc, gram asc — the
    deterministic tie rule both engines share), keep the top ``top_k``.

    Returns ``(lang, lrank int, gram, cnt bigint)`` — |langs| x top_k rows.
    """
    grams = labeled.select(
        F.col(lang_col).alias("lang"),
        F.explode(char_ngrams(F.col(text_col), ns)).alias("gram"),
    )
    cnt = grams.groupBy("lang", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("gram"))
    return (
        cnt.withColumn("lrank", F.row_number().over(w).cast("int"))
        .filter(F.col("lrank") <= top_k)
        .select("lang", "lrank", "gram", "cnt")
    )


def ct_score_docs(
    docs: DataFrame,
    profiles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = CT_TOP_K,
    ns: tuple[int, ...] = CT_NGRAM_SIZES,
) -> DataFrame:
    """SCORE docs against the trained profiles by out-of-place distance.

    Per doc: build its own top-``top_k`` gram rank list (same tie rule),
    pair it with every language (a broadcast of the distinct profile
    langs), left-join the broadcast profile table on (lang, gram), and sum
    ``|doc_rank - profile_rank|`` with a flat ``top_k`` penalty for grams
    the profile lacks.  Predicted language = minimum distance, ties to the
    lexicographically first lang — ONE struct-min hash agg (no argmin
    window; the FPS/preference-pairs discipline).

    Returns ``(id_col, predicted_lang, best_dist bigint)``.
    """
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(char_ngrams(F.col(text_col), ns)).alias("gram"),
    )
    cnt = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("gram"))
    dprof = (
        cnt.withColumn("drank", F.row_number().over(w).cast("int"))
        .filter(F.col("drank") <= top_k)
        .select("doc_id", "gram", "drank")
    )
    langs = profiles.select("lang").distinct()
    dist = (
        dprof.crossJoin(F.broadcast(langs))
        .join(F.broadcast(profiles.select("lang", "gram", "lrank")), ["lang", "gram"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.when(F.col("lrank").isNull(), F.lit(top_k)).otherwise(
                    F.abs(F.col("drank") - F.col("lrank"))
                )
            )
            .cast("bigint")
            .alias("dist")
        )
    )
    best = dist.groupBy("doc_id").agg(F.min(F.struct("dist", "lang")).alias("m"))
    return best.select(
        F.col("doc_id").alias(id_col),
        F.col("m.lang").alias("predicted_lang"),
        F.col("m.dist").alias("best_dist"),
    )
